package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocatedFileStatus, LocalFileSystem, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The `file:` file system with call counters, installed through
  * `spark.hadoop.fs.file.impl` in the traced run only. Counting is on
  * only while a benchmark operation runs (see [[Tracer.op]]), so the
  * benchmark's own probes and output checks are not counted.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    hit(Rename); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    hit(Delete); super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = { hit(Mkdirs); super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hit(Mkdirs); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    hit(ListStatus); super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    hit(ListStatus); super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    hit(GetFileStatus); super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit(Open); super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val Names: Seq[String] = Seq("create", "rename", "delete", "mkdirs",
    "list_status", "get_file_status", "open")
  private val Create = 0
  private val Rename = 1
  private val Delete = 2
  private val Mkdirs = 3
  private val ListStatus = 4
  private val GetFileStatus = 5
  private val Open = 6

  private val counts = new AtomicLongArray(Names.size)
  @volatile var active = false

  private def hit(i: Int): Unit = if (active) counts.incrementAndGet(i)

  def snapshot(): Map[String, Long] =
    Names.indices.map(i => Names(i) -> counts.get(i)).toMap

  /** Bytes read and written through every `file:` file system instance
    * (Hadoop's per-scheme statistics; the checksum wrapper and the raw
    * file system share one statistics object, counted once).
    */
  @annotation.nowarn("cat=deprecation")
  def bytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    val distinct = stats.foldLeft(List.empty[org.apache.hadoop.fs.FileSystem.Statistics]) {
      (acc, s) => if (acc.exists(_ eq s)) acc else s :: acc
    }
    (distinct.map(_.getBytesRead).sum, distinct.map(_.getBytesWritten).sum)
  }
}

/** Spark work attributed to the benchmark span that submitted it. */
final class SpanWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
  var inputBytes = 0L
}

/** Collects job intervals and task metrics. Each job is attributed to
  * the span id found in the [[Tracer.SpanProperty]] local property of
  * the thread that submitted it; jobs without one (set-up outside a
  * span, output checks) are kept apart under id -1.
  */
final class SparkProbe extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals: mutable.ArrayBuffer[(Int, Long, Long)] =
    mutable.ArrayBuffer.empty
  val work: mutable.Map[Int, SpanWork] = mutable.Map.empty

  private def acc(span: Int): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageSpan(s) = span)
    acc(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, -1)
    jobIntervals += ((span, jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      acc(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = acc(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputRows += m.inputMetrics.recordsRead
      w.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** One recorded span. Times are epoch milliseconds with a fractional
  * part, on the same clock as Spark's job events.
  */
final case class Span(id: Int, parent: Int, name: String, req: Long,
                      startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000
}

/** Per-run trace state: spans, file-system byte deltas and the Spark
  * listener. While not enabled it only times operations.
  */
final class Tracer(sc: SparkContext) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val probe: SparkProbe = new SparkProbe
  private var on = false
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Request id (operation number) of the loop's current operation; -1
    * in set-up.
    */
  var req: Long = -1L
  var bytesRead = 0L
  var bytesWritten = 0L

  def enabled: Boolean = on

  /** Record spans, Spark work and file-system work from now on. */
  def start(): Unit = if (!on) { sc.addSparkListener(probe); on = true }

  /** Stop recording; the listener is removed so it costs nothing. */
  def pause(): Unit = if (on) { drain(); sc.removeSparkListener(probe); on = false }

  /** Run `f` inside a span named `name` (a no-op when disabled). */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = nowMs
      try f
      finally {
        val t1 = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, req, t0, t1)
      }
    }

  /** Run one benchmark operation: counts file-system work while it
    * runs (when tracing) and returns its wall seconds with its result.
    */
  def op[A](name: String)(f: => A): (A, Double) = {
    val (r0, w0) = if (enabled) CountingFileSystem.bytes() else (0L, 0L)
    CountingFileSystem.active = enabled
    val t0 = System.nanoTime()
    try {
      val a = span(name)(f)
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      CountingFileSystem.active = false
      if (enabled) {
        val (r1, w1) = CountingFileSystem.bytes()
        bytesRead += r1 - r0
        bytesWritten += w1 - w0
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
