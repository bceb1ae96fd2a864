package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark process. */
final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, tiny: Boolean, cores: Int,
                        work: java.io.File, out: java.io.File)

/** One closed-loop workload. `setup` builds every input from the seed
  * under a fresh directory; the loop then calls `step` (one operation
  * each) until the run's time is up, within `minSteps` and `maxSteps`;
  * `finish` runs the output checks left for the end.
  */
trait Workload {
  /** Operation kinds whose median latencies make up `op_p50_ms`. */
  def kinds: Seq[String]
  def setup(ctx: Ctx, dir: java.io.File): Unit
  def teardown(ctx: Ctx): Unit
  def step(ctx: Ctx): Unit
  /** Untimed operations between the set-ups and the timed loop. */
  def warmUp(ctx: Ctx): Unit = ()
  /** Steps a loop runs at least, and at most (None: while time is left). */
  def minSteps(traced: Boolean): Long = 1
  def maxSteps(traced: Boolean): Option[Long] = None
  def finish(ctx: Ctx): Unit = ()
  /** On-disk bytes per live row of the workload's stores. */
  def bytesPerRow(ctx: Ctx): Double
  /** Index stores to probe in the traced run, by label. */
  def stores: Seq[(String, String)] = Nil
}

/** What one measured loop did: latencies per operation kind and the
  * counters its metrics are made of.
  */
final class Phase(val firstOp: Long = 0L) {
  val latency: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var attempted = 0L
  val failedOps: mutable.Set[Long] = mutable.Set.empty
  /** Rows of user work per second of operation time, one rate per
    * unit of work (an imaging pass, an index_churn tick).
    */
  val rowRates: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Result rows returned by search operations. */
  var searchResults = 0L
  /** Bytes of user data handed to the stores (appends and deletes). */
  var userBytes = 0L
  /** Per maintain call: did it flush or compact? */
  val maintainCalls: mutable.ArrayBuffer[Boolean] = mutable.ArrayBuffer.empty
  var wallS = 0.0

  def seconds(kind: String): Seq[Double] =
    latency.get(kind).map(_.toSeq).getOrElse(Nil)
  def opSeconds: Double = latency.values.flatten.sum
  def failed: Long = failedOps.size.toLong

  /** Geometric mean over `kinds` of each kind's median latency, in ms. */
  def opP50Ms(kinds: Seq[String]): Double = p50Ms(kinds.map(seconds))

  /** [[opP50Ms]] over the operations this loop and `other` both ran:
    * per kind, the first n samples, n the smaller of the two counts.
    */
  def matchedP50Ms(other: Phase, kinds: Seq[String]): Double =
    p50Ms(kinds.map(k => seconds(k).take(other.seconds(k).length)))

  private def p50Ms(perKind: Seq[Seq[Double]]): Double =
    if (perKind.exists(_.isEmpty)) Double.NaN
    else Stats.geomean(perKind.map(xs => Stats.median(xs) * 1000))
}

/** A completed operation: its id, result and wall seconds. */
final case class Done[A](id: Long, value: A, seconds: Double)

/** Shared run state: the current phase, check accounting and the
  * tracer.
  */
final class Ctx(val spark: SparkSession, val cfg: Config, val tracer: Tracer) {
  var phase = new Phase()
  /** Global operation counter (also the span request id). */
  var opCount = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Checks that accepted a deliberately wrong expectation. */
  val blindChecks: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var checks = 0L
  /** Store-shape rows recorded after operations in the traced phase. */
  val series: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  /** Called after every operation of the loop (store probes). */
  var afterOp: String => Unit = _ => ()

  /** Run and time one operation of the loop. None when it threw (the op
    * then counts as failed).
    */
  def op[A](kind: String, spanName: String)(f: => A): Option[Done[A]] = {
    val id = opCount
    opCount += 1
    phase.attempted += 1
    val res =
      try {
        val (a, s) = tracer.op(spanName)(f)
        phase.latency.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
        Some(Done(id, a, s))
      } catch {
        case NonFatal(e) =>
          phase.failedOps += id
          failures += s"$spanName threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    afterOp(spanName)
    res
  }

  /** Compare an operation's output with the expected value. `cmp`
    * returns None when they agree, else the reason. `wrong(expected)`
    * must make `cmp` fail too, or the check is reported as unable to
    * catch an error.
    */
  def verify[E, G](opId: Long, name: String, expected: E, got: G)
                  (cmp: (E, G) => Option[String])(wrong: E => E): Boolean = {
    checks += 1
    val r = cmp(expected, got)
    r.foreach { m =>
      phase.failedOps += opId
      failures += s"$name: $m"
    }
    if (cmp(wrong(expected), got).isEmpty)
      blindChecks += name
    r.isEmpty
  }
}

/** Output comparisons shared by the workloads. */
object Checks {
  /** Scores agree when equal to within a relative 1e-9. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Ranked rows (query, id, score), compared in rank order: ids exactly,
    * scores to within [[close]].
    */
  def ranked(exp: Seq[(Long, Long, Double)],
             got: Seq[(Long, Long, Double)]): Option[String] =
    if (exp.length != got.length)
      Some(s"expected ${exp.length} rows, got ${got.length}")
    else exp.zip(got).zipWithIndex.collectFirst {
      case ((e, g), i) if e._1 != g._1 || e._2 != g._2 || !close(e._3, g._3) =>
        s"row $i: expected $e, got $g"
    }

  /** A wrong expectation for [[ranked]]: the first id replaced. */
  def wrongRanked(exp: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
    exp match {
      case (q, id, s) +: rest => (q, id + 1000000007L, s) +: rest
      case _ => Seq((0L, -1L, 0.0))
    }

  def sameIds(exp: Set[Long], got: Set[Long]): Option[String] =
    if (exp == got) None
    else Some(s"${(exp -- got).size} expected ids missing " +
      s"(e.g. ${(exp -- got).take(3).mkString(",")}), ${(got -- exp).size} " +
      s"unexpected (e.g. ${(got -- exp).take(3).mkString(",")})")

  def wrongIds(exp: Set[Long]): Set[Long] = exp + -42L
}
