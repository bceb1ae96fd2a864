package perfbench

import java.io.File
import java.nio.file.{Files, Path => JPath}

import graft.sources.{IndexCommits, TinyParquet}

/** Per-layer metrics of the traced run, the read-only store probes and
  * the trace artifact.
  */
object Layers {
  /** Spans recorded around the benchmark's calls into the program. */
  val SpanNames: Seq[String] = Seq("imaging.pass", "imaging.grid",
    "imaging.clean_write", "ann.build", "bm25.build", "ann.search",
    "bm25.search", "hybrid.search", "ann.append", "ann.append_buffered",
    "stream.ann_append", "bm25.append", "stream.bm25_append", "ann.delete",
    "bm25.delete", "ann.maintain", "bm25.maintain")

  private val SearchSpans = Set("ann.search", "bm25.search", "hybrid.search")

  /** Files of each snapshot kind per store, as probed. */
  val StoreKinds: Map[String, Seq[String]] = Map(
    "ann" -> Seq("vectors", "applog", "deletes"),
    "bm25" -> Seq("postings", "doclens", "deletes"))

  private def rowsKind(store: String): Seq[String] =
    if (store == "ann") Seq("vectors", "applog") else Seq("doclens")

  def bytesOnDisk(root: String): Long = {
    val p = new File(root).toPath
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong((f: JPath) => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Read each store's shape through its current snapshot (no Spark job)
    * and append it to the run's store-shape series.
    */
  def probe(ctx: Ctx, wl: Workload, after: String): Unit =
    for ((label, root) <- wl.stores) {
      val hconf = ctx.spark.sparkContext.hadoopConfiguration
      val t0 = System.nanoTime()
      val entries = IndexCommits.readEntries(ctx.spark, root)
      val readMs = (System.nanoTime() - t0) / 1e6
      val files = StoreKinds(label).map(k => k -> IndexCommits.filesOf(entries, k))
      def rows(paths: Seq[String]): Long =
        if (paths.isEmpty) 0L else TinyParquet.rowCount(hconf, paths)
      val pending = rows(IndexCommits.filesOf(entries, "deletes"))
      val stored = rows(rowsKind(label).flatMap(IndexCommits.filesOf(entries, _)))
      ctx.series += (Map[String, Any](
        "req" -> ctx.tracer.req, "after" -> after, "store" -> label,
        "version" -> IndexCommits.currentVersion(ctx.spark, root).getOrElse(0L),
        "read_entries_ms" -> readMs,
        "pending_deletes" -> pending, "live_rows" -> (stored - pending),
        "bytes_on_disk" -> bytesOnDisk(root)) ++
        files.map { case (k, fs) => s"files.$k" -> fs.size })
    }

  private def selfSeconds(s: Span, children: Seq[Span]): Double =
    s.wallS - Stats.unionLength(children.map(c =>
      (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))) / 1000

  def metrics(ctx: Ctx, wl: Workload, ph: Phase): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val spans = tr.spans.toSeq
    val children = spans.groupBy(_.parent)
    val ops = math.max(ph.attempted, 1L).toDouble
    val loop = spans.filter(_.req >= ph.firstOp)
    val loopIds = loop.map(_.id).toSet
    val work = tr.probe.synchronized(tr.probe.work.toMap)
    def sum(ids: Set[Int])(f: SpanWork => Double): Double =
      ids.toSeq.flatMap(work.get).map(f).sum
    def perOp(f: SpanWork => Double): Double = sum(loopIds)(f) / ops

    // driver gap: top-level op wall not covered by any running job
    val jobs = tr.probe.synchronized(tr.probe.jobIntervals.toSeq)
    val top = loop.filter(_.parent == -1)
    val gaps = top.map { s =>
      val covered = Stats.unionLength(jobs.collect {
        case (_, a, b) if b > s.startMs && a < s.endMs =>
          (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs))
      }) / 1000
      math.max(0.0, s.wallS - covered)
    }
    val topWall = top.map(_.wallS).sum
    val cpuS = sum(loopIds)(_.cpuNs / 1e9)

    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val searchIds = loop.filter(s => SearchSpans(s.name)).flatMap(subtree)
      .map(_.id).toSet
    val fs = CountingFileSystem.snapshot()

    val spark = Seq(
      ("spark.jobs", perOp(_.jobs.toDouble), "count/op"),
      ("spark.stages", perOp(_.stages.toDouble), "count/op"),
      ("spark.tasks", perOp(_.tasks.toDouble), "count/op"),
      ("driver.gap_s", gaps.sum / ops, "s/op"),
      ("driver.gap_share", if (topWall > 0) gaps.sum / topWall else 0.0, "ratio"),
      ("spark.task_cpu_s", perOp(_.cpuNs / 1e9), "s/op"),
      ("spark.task_run_s", perOp(_.runMs / 1e3), "s/op"),
      ("spark.gc_s", perOp(_.gcMs / 1e3), "s/op"),
      ("cpu.busy_share",
        if (topWall > 0) cpuS / (topWall * ctx.cfg.cores) else 0.0, "ratio"),
      ("spark.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble), "B/op"),
      ("spark.shuffle_read_bytes", perOp(_.shuffleRead.toDouble), "B/op"),
      ("spark.spill_bytes", perOp(_.spill.toDouble), "B/op"),
      ("spark.input_rows", perOp(_.inputRows.toDouble), "rows/op"),
      ("spark.input_bytes", perOp(_.inputBytes.toDouble), "B/op"),
      ("search.rows_scanned_per_result",
        if (ph.searchResults > 0)
          sum(searchIds)(_.inputRows.toDouble) / ph.searchResults else 0.0, "ratio"))

    val files = CountingFileSystem.Names.map(n =>
      (s"fs.$n", fs(n) / ops, "count/op")) ++ Seq(
      ("fs.bytes_written", tr.bytesWritten / ops, "B/op"),
      ("fs.bytes_read", tr.bytesRead / ops, "B/op"),
      ("fs.write_amp",
        if (ph.userBytes > 0) tr.bytesWritten.toDouble / ph.userBytes
        else 0.0, "ratio"))

    // store shape: the mean over every probe of the loop
    def shape(store: String, key: String): Double = {
      val xs = ctx.series.filter(r => r("store") == store && r.contains(key))
        .map(r => r(key) match {
          case n: Long   => n.toDouble
          case n: Int    => n.toDouble
          case d: Double => d
          case _         => 0.0
        })
      if (xs.isEmpty) 0.0 else xs.sum / xs.length
    }
    val sources = Seq("ann", "bm25").flatMap { st =>
      val kinds = StoreKinds(st).filterNot(k => st == "ann" && k == "applog")
      Seq((s"sources.$st.read_entries_ms", shape(st, "read_entries_ms"), "ms")) ++
        (if (st == "ann")
           Seq(("sources.ann.applog_segments", shape(st, "files.applog"), "count"))
         else Nil) ++
        kinds.map(k => (s"sources.$st.live_files.$k", shape(st, s"files.$k"), "count")) ++
        Seq((s"sources.$st.pending_deletes", shape(st, "pending_deletes"), "rows"),
          (s"sources.$st.live_rows", shape(st, "live_rows"), "rows"),
          (s"sources.$st.bytes_on_disk", shape(st, "bytes_on_disk"), "B"))
    }

    // the loop's spans, and the store builds of the set-up
    val byName = spans.filter(s => s.req >= ph.firstOp || s.name.endsWith(".build"))
      .groupBy(_.name)
    val spanMetrics = SpanNames.flatMap { n =>
      val ss = byName.getOrElse(n, Nil)
      val k = math.max(ss.length, 1).toDouble
      Seq((s"span.calls.$n", ss.length.toDouble, "count"),
        (s"span.wall_s.$n", ss.map(_.wallS).sum / k, "s"),
        (s"span.self_s.$n",
          ss.map(s => selfSeconds(s, children.getOrElse(s.id, Nil))).sum / k, "s"))
    }
    val maintain = ph.maintainCalls
    val useful = Seq(("maintain.effective_frac",
      if (maintain.isEmpty) 0.0 else maintain.count(identity).toDouble / maintain.length,
      "ratio"))
    spark ++ files ++ sources ++ spanMetrics ++ useful
  }

  /** Spans, job intervals and the store-shape series, written once at
    * the end of the traced run.
    */
  def writeArtifact(ctx: Ctx, ph: Phase, setupS: Seq[Double]): Unit = {
    val tr = ctx.tracer
    val jobs = tr.probe.synchronized(tr.probe.jobIntervals.toSeq)
    val doc = Json.obj(
      "workload" -> ctx.cfg.workload, "seed" -> ctx.cfg.seed,
      "setup_s" -> setupS, "loop_s" -> ph.wallS,
      "latency_s" -> Json.obj(ph.latency.toSeq.map { case (k, v) =>
        k -> (v.toSeq: Any) }: _*),
      "spans" -> tr.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "req" -> s.req, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)),
      "jobs" -> jobs.map { case (span, a, b) =>
        Json.obj("span" -> span, "start_ms" -> a, "end_ms" -> b) },
      "store_series" -> ctx.series.toSeq)
    val f = new File(ctx.cfg.out,
      s"trace-${ctx.cfg.workload}-seed${ctx.cfg.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(doc) finally w.close()
    println(s"[perfbench] trace written to ${f.getPath}")
  }
}
