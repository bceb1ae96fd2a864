package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one run. Prints a report
  * and, as its last line, `PERFBENCH_RESULT {json}` for run.py.
  *
  * Usage: perfbench.Main --workload imaging|index_churn
  *   --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *   [--tiny] [--cores N]
  */
object Main {
  val Workloads: Seq[String] = Seq("imaging", "index_churn")

  def parse(argv: Array[String]): Config = {
    val kv = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "tiny") { flags += k; i += 1 }
      else {
        require(i + 1 < argv.length, s"missing value for ${argv(i)}")
        kv(k) = argv(i + 1); i += 2
      }
    }
    val w = kv.getOrElse("workload", "")
    require(Workloads.contains(w),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    Config(
      workload = w,
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      tiny = flags("tiny"),
      cores = kv.getOrElse("cores", "4").toInt,
      work = new File(kv.getOrElse("work", "work")),
      out = new File(kv.getOrElse("out", "out")))
  }

  def session(cfg: Config): SparkSession = {
    val local = new File(cfg.work, "spark-local")
    local.mkdirs()
    val conf = Map(
      "spark.sql.shuffle.partitions" -> cfg.cores.toString,
      "spark.local.dir" -> local.getAbsolutePath,
      "spark.sql.warehouse.dir" -> new File(cfg.work, "warehouse").getAbsolutePath,
      "spark.driver.host" -> "localhost",
      "spark.sql.adaptive.enabled" -> "true") ++
      (if (cfg.trace) Map("spark.hadoop.fs.file.impl" ->
        classOf[CountingFileSystem].getName) else Map.empty)
    val spark = graft.direct.Framework.initializeFramework(
      workers = cfg.cores, memory = "2g", extraConf = conf)
    spark.sparkContext.setLogLevel("WARN")
    if (cfg.trace) {
      // a `file:` instance cached before the conf took effect would
      // bypass the counters: drop the cache once and verify
      val hconf = spark.sparkContext.hadoopConfiguration
      val uri = new java.net.URI("file:///")
      if (!org.apache.hadoop.fs.FileSystem.get(uri, hconf)
          .isInstanceOf[CountingFileSystem])
        org.apache.hadoop.fs.FileSystem.closeAll()
      require(org.apache.hadoop.fs.FileSystem.get(uri, hconf)
        .isInstanceOf[CountingFileSystem], "counting file system not installed")
    }
    spark
  }

  def workload(cfg: Config): Workload = cfg.workload match {
    case "imaging"     => new Imaging(cfg)
    case "index_churn" => new IndexChurn(cfg)
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv)
    cfg.work.mkdirs()
    cfg.out.mkdirs()
    val spark = session(cfg)
    val code =
      try run(spark, cfg)
      finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, cfg: Config): Int = {
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, cfg, tracer)
    val wl = workload(cfg)

    // Set-up, three times from scratch in a timed run (their median is
    // setup_s); the last one serves the loop.
    val setups = if (cfg.trace || cfg.tiny) 1 else 3
    if (cfg.trace) tracer.start()
    val setupS = (1 to setups).map { r =>
      if (r > 1) wl.teardown(ctx)
      val dir = new File(cfg.work, s"setup-$r")
      val t0 = System.nanoTime()
      wl.setup(ctx, dir)
      (System.nanoTime() - t0) / 1e9
    }
    tracer.pause()
    val warm = new Phase(ctx.opCount)
    ctx.phase = warm
    wl.warmUp(ctx)
    val timed = loop(ctx, wl, traced = false)
    // The traced run then sets up again from the same seed, warms up
    // untraced and runs the loop with tracing on. Set-up and warm-up are
    // deterministic, so the traced loop starts with the operations the
    // untraced loop timed: those give the tracing overhead.
    val (rewarm, traced) = if (!cfg.trace) (None, None) else {
      wl.teardown(ctx)
      wl.setup(ctx, new File(cfg.work, "setup-traced"))
      val w = new Phase(ctx.opCount)
      ctx.phase = w
      wl.warmUp(ctx)
      tracer.start()
      ctx.afterOp = name => Layers.probe(ctx, wl, name)
      val p = loop(ctx, wl, traced = true)
      ctx.afterOp = _ => ()
      tracer.pause()
      (Some(w), Some(p))
    }
    wl.finish(ctx)

    val phases = timed +: traced.toSeq
    for (p <- phases; k <- wl.kinds if p.seconds(k).isEmpty)
      ctx.failures += s"no successful sample of $k"
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("op_p50_ms", timed.opP50Ms(wl.kinds), "ms"),
      ("rows_per_s", if (timed.rowRates.isEmpty) Double.NaN
                     else Stats.median(timed.rowRates.toSeq), "rows/s"),
      ("bytes_per_row", wl.bytesPerRow(ctx), "B"))
    val layers = traced.toSeq.flatMap { p =>
      Layers.metrics(ctx, wl, p) :+ (("trace.overhead_share",
        p.matchedP50Ms(timed, wl.kinds) / timed.matchedP50Ms(p, wl.kinds) - 1.0,
        "ratio"))
    }

    // ---- report
    println(f"[perfbench] ${cfg.workload} seed=${cfg.seed} setups=" +
      setupS.map(s => f"$s%.3f").mkString("[", ",", "]") +
      s" checks=${ctx.checks}")
    for ((p, label) <- phases.zip(Seq("timed", "traced"))) {
      println(f"[perfbench] $label loop ${p.wallS}%.2fs ops=${p.attempted} " +
        s"failed=${p.failed}")
      for ((k, xs) <- p.latency) {
        val tail = Stats.tailPercentile(xs.length)
          .map(q => f" p$q=${Stats.quantile(xs.toSeq, q / 100.0) * 1000}%.1fms")
          .getOrElse("")
        println(f"[perfbench]   $k%-16s n=${xs.length}%4d " +
          f"p50=${Stats.median(xs.toSeq) * 1000}%.1fms$tail  " +
          xs.take(12).map(x => f"${x * 1000}%.0f").mkString("[", " ", "]"))
      }
    }
    for ((k, v, u) <- e2e) println(f"[perfbench] $k = $v%.6g $u")
    ctx.failures.take(20).foreach(f => println(s"[perfbench] FAILED $f"))
    ctx.blindChecks.distinct.foreach(n =>
      println(s"[perfbench] BLIND check '$n' accepted a wrong expectation"))
    traced.foreach(p => Layers.writeArtifact(ctx, p, setupS))

    val checksOk = ctx.checks > 0 && ctx.blindChecks.isEmpty
    val all = (warm +: rewarm.toSeq) ++ phases
    val failed = all.map(_.failed).sum
    val correct = ctx.failures.isEmpty && failed == 0 && checksOk
    def metrics(ms: Seq[(String, Double, String)]) =
      Json.obj(ms.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)
    val json = Json.obj(
      "correct" -> correct,
      "attempted" -> all.map(_.attempted).sum,
      "failed" -> failed,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers))
    println("PERFBENCH_RESULT " + json)
    wl.teardown(ctx)
    if (checksOk) 0 else 3
  }

  /** The closed loop: one client, the next operation after the previous
    * one completes, for the run's seconds within the workload's step
    * bounds.
    */
  private def loop(ctx: Ctx, wl: Workload, traced: Boolean): Phase = {
    val p = new Phase(ctx.opCount)
    ctx.phase = p
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.cfg.seconds * 1e9).toLong
    var steps = 0L
    val (lo, hi) = (wl.minSteps(traced), wl.maxSteps(traced).getOrElse(Long.MaxValue))
    while (steps < lo || (steps < hi && System.nanoTime() < deadline)) {
      ctx.tracer.req = ctx.opCount
      wl.step(ctx)
      steps += 1
    }
    p.wallS = (System.nanoTime() - t0) / 1e9
    p
  }
}

/** Minimal JSON rendering for the result line and the trace artifact. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => s"${str(k)}:${render(v)}" }
        .mkString("{", ",", "}")
  }
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null                    => "null"
    case s: String               => str(s)
    case b: Boolean              => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double               => d.toString
    case f: Float                => render(f.toDouble)
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case o: Obj                  => o.toString
    case m: Map[_, _]            =>
      Obj(m.toSeq.map { case (k, x) => k.toString -> x }).toString
    case xs: Iterable[_]         => xs.map(render).mkString("[", ",", "]")
    case other                   => str(other.toString)
  }
}
