package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingOps

/** Streaming scale-rehearsal harness (round-16 verdict item 2, round-17
  * item 5): drive the heavy STATEFUL streaming twins with 10
  * micro-batches (the stream grows 10x over the run) and record, per
  * batch, the wall time and the STATE size — the artifact that turns
  * each twin's documented state bound into a measurement.
  *
  * In-memory state-store twins (state read from StreamingQuery
  * progress):
  *
  *   stream_neardup     state = occupied (band, band_hash) buckets
  *                      (bound: bands x distinct signatures, NOT
  *                      stream length — verbatim replicas collide)
  *   stream_hll         state = one 2^p-byte register array per key
  *                      (bound: #keys rows, FLAT as the stream grows)
  *   stream_bloom_index state = per-file position sets
  *                      (bound: #files x bits positions)
  *   stream_msprt       state = (n_success, first_look) per unit
  *                      (bound: #units rows, 2 longs each)
  *
  * Table-as-state foreachBatch twins (round-17: the state is the
  * maintained TABLE, so the artifact records its rows + estimated
  * bytes per batch — the trajectory that proves the table rides the
  * semantic content, not the stream length):
  *
  *   stream_merge_upsert state = the merged table
  *                       (bound: #keys rows FLAT under steady-state
  *                       re-upserts of the same key set)
  *   stream_scd2_apply   state = the versioned dimension
  *                       (bound: rows = keys x (versions+1) — linear
  *                       in CHANGES, independent of replay volume)
  *   stream_manifest     state = the per-file manifest
  *                       (bound: #files rows however the table's rows
  *                       are sliced across batches)
  *   stream_index_append state = the ON-DISK index (no memory state);
  *                       rows/bytes grow exactly with appended
  *                       vectors, per-batch wall FLAT (cost rides the
  *                       delta, never the accumulated index)
  *   stream_index_append_buffered (round-18: the streaming-ingest
  *                       default) state = the LSM append LOG — one
  *                       segment file per batch, auto-flushed once
  *                       the segment count reaches the threshold
  *                       (bound: #segments <= autoFlushSegments =
  *                       batches since the last fold, a sawtooth
  *                       that can NEVER ride stream length); per-
  *                       batch wall = one segment write, plus the
  *                       fold amortized 1/threshold
  *
  * `sbt "runMain graft.StreamScaleUp [sfDir]"` -> one JSON line +
  * BENCH_stream_r18.json in the CWD. Inputs amplify the driver
  * testdata by key-offset replicas (the ScaleUp recipe, in memory).
  */
object StreamScaleUp {

  final case class BatchRec(i: Int, rowsIn: Long, cumRows: Long,
                            wallS: Double, stateRows: Long,
                            stateBytes: Long)

  private def jnum(d: Double): String =
    (math.floor(d * 1000) / 1000).toString

  private def recsJson(rs: Seq[BatchRec]): String =
    rs.map(r => s"""{"i":${r.i},"rows_in":${r.rowsIn},""" +
        s""""cum_rows":${r.cumRows},"wall_s":${jnum(r.wallS)},""" +
        s""""state_rows":${r.stateRows},"state_bytes":${r.stateBytes}}""")
      .mkString("[", ",", "]")

  /** max state rows/bytes over every progress so far (NoTimeout state
    * only grows; processAllAvailable may append empty-batch progress
    * entries, so scan them all instead of trusting lastProgress).
    */
  private def stateOf(q: org.apache.spark.sql.streaming.StreamingQuery)
      : (Long, Long) = {
    val ops = q.recentProgress.flatMap(p => Option(p.stateOperators)
      .toSeq.flatten)
    if (ops.isEmpty) (0L, 0L)
    else (ops.map(_.numRowsTotal).max, ops.map(_.memoryUsedBytes).max)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nBatches = 10
    val Off = 1000000000L

    // ---------------- stream_neardup (band-bucket memory) ----------
    val neardup: (Seq[BatchRec], String, Boolean) = {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id").cast("long"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      val df = input.toDF().toDF("doc_id", "text")
      val out = StreamingOps.streamingBandCollisions(spark, df,
        "doc_id", "text")
      val q = out.writeStream.format("noop").outputMode("append").start()
      var cum = 0L
      val recs = (0 until nBatches).map { i =>
        // replica i: id-offset, text VERBATIM (web-corpus duplication)
        val batch = docs.map { case (id, t) => (id + i * Off, t) }
        val t0 = System.nanoTime()
        input.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        val w = (System.nanoTime() - t0) / 1e9
        cum += batch.length
        val (sr, sb) = stateOf(q)
        BatchRec(i, batch.length, cum, w, sr, sb)
      }
      q.stop()
      // bound: occupied buckets <= bands x distinct signatures of ONE
      // replica (verbatim copies band into the SAME buckets), so state
      // must not grow past batch 0's bucket census (8 bands/doc max)
      val cap = 8L * docs.length
      (recs, s"bands x distinct sigs (<= $cap; replicas collide)",
        recs.last.stateRows <= cap &&
          recs.last.stateRows == recs.head.stateRows)
    }

    // ---------------- stream_hll (register state per key) ----------
    val hll: (Seq[BatchRec], String, Boolean) = {
      val ev = Tables.events(spark, sfDir)
        .select(pmod(col("user_id"), lit(256L)).cast("long").as("k"),
          col("event_id").cast("long").as("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val input = MemoryStream[(Long, Long)]
      val df = input.toDF().toDF("k", "id")
      val out = StreamingOps.hllStream(spark, df, "k", "id", p = 6)
      val q = out.writeStream.format("noop").outputMode("update").start()
      var cum = 0L
      val recs = (0 until nBatches).map { i =>
        val batch = ev.map { case (k, id) => (k, id + i * Off) }
        val t0 = System.nanoTime()
        input.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        val w = (System.nanoTime() - t0) / 1e9
        cum += batch.length
        val (sr, sb) = stateOf(q)
        BatchRec(i, batch.length, cum, w, sr, sb)
      }
      q.stop()
      // bound: one 2^6-byte register row per key — 256 rows however
      // long the stream runs
      (recs, "2^p registers x #keys (= 256 rows, flat)",
        recs.last.stateRows <= 256 &&
          recs.last.stateRows == recs.head.stateRows)
    }

    // ------------- stream_bloom_index (per-file position sets) -----
    val bloom: (Seq[BatchRec], String, Boolean) = {
      val bits = 65536
      val path = s"/tmp/graft_stscale_${ProcessHandle.current().pid()}"
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"))
        .repartitionByRange(64, col("l_orderkey"))
        .write.mode("overwrite").parquet(path)
      val rows = spark.read.parquet(path)
        .select(col("l_orderkey"),
          col("_metadata.file_path").as("_file"))
      val files = rows.select("_file").distinct()
        .collect().map(_.getString(0)).sorted
      // ceil-sized groups: every file lands in one of <= nBatches
      // batches (a floor+take would silently drop the tail files)
      val groups = files.grouped(math.max(1,
        math.ceil(files.length.toDouble / nBatches).toInt)).toSeq
      val st = StreamingOps.bloomIndexStream("l_orderkey", "_file",
        bits, 3)
      var cum = 0L
      val recs = groups.zipWithIndex.map { case (fs, i) =>
        val batch = rows.where(col("_file").isin(fs: _*))
        val n = batch.count()
        val t0 = System.nanoTime()
        st(batch)
        val w = (System.nanoTime() - t0) / 1e9
        cum += n
        val snap = st.snapshot
          .agg(count(lit(1)).as("nf"),
            sum(size(col("bloom"))).as("npos")).head()
        BatchRec(i, n, cum, w, snap.getLong(0),
          snap.getLong(1) * 8) // positions as 8-byte longs
      }
      val maxPos = st.snapshot
        .agg(max(size(col("bloom")))).head().getInt(0)
      (recs, s"#files x O(bits): rows = files ingested, " +
        s"positions/file <= $bits (max seen $maxPos)",
        recs.last.stateRows == files.length && maxPos <= bits)
    }

    // ---------------- stream_msprt (per-unit accrual) --------------
    val msprt: (Seq[BatchRec], String, Boolean) = {
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id").cast("long").as("u"),
          (col("event_type") === "purchase").cast("long").as("f"),
          dayofyear(col("ts")).cast("long").as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nUnits = ev.map(_._1).distinct.length
      val input = MemoryStream[(Long, Long, Long)]
      val df = input.toDF().toDF("u", "f", "d")
      val out = StreamingOps.accrualStream(spark, df, "u", "f", "d")
      val q = out.writeStream.format("noop").outputMode("append").start()
      var cum = 0L
      val recs = (0 until nBatches).map { i =>
        // replica i: new units (10x enrollment), same look window
        val batch = ev.map { case (u, f, d) => (u + i * Off, f, d) }
        val t0 = System.nanoTime()
        input.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        val w = (System.nanoTime() - t0) / 1e9
        cum += batch.length
        val (sr, sb) = stateOf(q)
        BatchRec(i, batch.length, cum, w, sr, sb)
      }
      q.stop()
      // bound: 2 longs per ENROLLED unit — rows = units seen so far,
      // linear in enrollment and independent of events per unit
      (recs, s"#units rows x 2 longs (units/replica = $nUnits)",
        msprtBoundOk(recs, nUnits))
    }

    // ------------- stream_merge_upsert (table-as-state COW) --------
    val merge: (Seq[BatchRec], String, Boolean) = {
      val cust = Tables.customer(spark, sfDir)
        .select(col("c_custkey").cast("long").as("k"),
          col("c_acctbal").cast("double").as("v"))
        .localCheckpoint(true)
      val nKeys = cust.count()
      val rowBytes = cust.schema.defaultSize.toLong
      val st = StreamingOps.mergeUpsertStream(cust, Seq("k"))
      var cum = 0L
      val recs = (0 until nBatches).map { i =>
        // steady-state CDC: every batch re-upserts the SAME key set
        // with new values — the table must stay #keys rows forever
        val batch = cust.select(col("k"), (col("v") + lit(i + 1)).as("v"))
        val t0 = System.nanoTime()
        st(batch)
        val w = (System.nanoTime() - t0) / 1e9
        cum += nKeys
        val rows = st.snapshot.count()
        BatchRec(i, nKeys, cum, w, rows, rows * rowBytes)
      }
      (recs, s"#keys rows flat under re-upserts (= $nKeys)",
        recs.forall(_.stateRows == nKeys))
    }

    // ------------- stream_scd2_apply (versioned dimension) ----------
    val scd2: (Seq[BatchRec], String, Boolean) = {
      val keys = Tables.customer(spark, sfDir)
        .select(col("c_custkey").cast("long").as("k"),
          col("c_acctbal").cast("double").as("v"))
        .localCheckpoint(true)
      val nKeys = keys.count()
      val dim0 = keys
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
        .withColumn("is_current", lit(true))
        .localCheckpoint(true)
      val rowBytes = dim0.schema.defaultSize.toLong
      val st = StreamingOps.scd2ApplyStream(dim0, Seq("k"), Seq("v"), "ts")
      var cum = 0L
      val recs = (0 until nBatches).map { i =>
        // every batch changes EVERY key once: the dimension must grow
        // by exactly #keys closed-version rows per batch — linear in
        // CHANGES, not in rows replayed
        val batch = keys.select(col("k"),
          (col("v") + lit(1000.0 * (i + 1))).as("v"),
          lit((i + 1).toLong).as("ts"))
        val t0 = System.nanoTime()
        st(batch)
        val w = (System.nanoTime() - t0) / 1e9
        cum += nKeys
        val rows = st.snapshot.count()
        BatchRec(i, nKeys, cum, w, rows, rows * rowBytes)
      }
      (recs, s"keys x (versions+1) rows (= (i+2) x $nKeys after batch i)",
        recs.zipWithIndex.forall { case (r, i) =>
          r.stateRows == (i + 2).toLong * nKeys })
    }

    // ------------- stream_manifest (per-file zones + bloom) ---------
    val manifest: (Seq[BatchRec], String, Boolean) = {
      val bits = 65536
      val path = s"/tmp/graft_stscale_man_${ProcessHandle.current().pid()}"
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"))
        .repartitionByRange(64, col("l_orderkey"))
        .write.mode("overwrite").parquet(path)
      val rows = spark.read.parquet(path)
        .select(col("l_orderkey"),
          col("_metadata.file_path").as("_file"))
        .localCheckpoint(true)
      val nFiles = rows.select("_file").distinct().count()
      val st = StreamingOps.manifestStream("l_orderkey",
        Seq("l_orderkey"), bits, 3)
      var cum = 0L
      val recs = (0 until nBatches).map { i =>
        // slice the SAME file set by row hash: every batch touches
        // every file, yet the manifest stays #files rows (zones/bloom
        // merge by min/max/union — idempotent, commutative)
        val batch = rows.where(pmod(col("l_orderkey"), lit(nBatches))
          === i)
        val n = batch.count()
        val t0 = System.nanoTime()
        st(batch)
        val w = (System.nanoTime() - t0) / 1e9
        cum += n
        val snap = st.snapshot
          .agg(count(lit(1)).as("nf"),
            sum(size(col("bloom"))).as("npos")).head()
        BatchRec(i, n, cum, w, snap.getLong(0), snap.getLong(1) * 8)
      }
      (recs, s"#files rows however rows are sliced (= $nFiles)",
        recs.forall(_.stateRows == nFiles))
    }

    // ------------- stream_index_append (on-disk index as state) -----
    val idxAppend: (Seq[BatchRec], String, Boolean) = {
      val root = s"/tmp/graft_stscale_idx_${ProcessHandle.current().pid()}"
      val emb = Tables.embeddings(spark, sfDir).localCheckpoint(true)
      val nBase = emb.count()
      // train + store once (untimed): appends must never retrain
      graft.operators.SimilarityOps.indexWrite(emb, "vec_id",
        "embedding", root, k = 8, iters = 2, m = 8, dsub = 8, ksub = 16)
      val sink = StreamingOps.indexAppendSink("vec_id", "embedding", root)
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      var cum = nBase
      val recs = (0 until nBatches).map { i =>
        // each micro-batch appends a NEW id-offset replica of the
        // corpus: per-batch cost must ride the DELTA, not the
        // accumulated index (no read-modify-write of existing files)
        val batch = emb.select(
          (col("vec_id") + lit((i + 1) * Off)).as("vec_id"),
          col("embedding"))
        val t0 = System.nanoTime()
        sink(batch, i.toLong)
        val w = (System.nanoTime() - t0) / 1e9
        cum += nBase
        val bytes = fs.getContentSummary(
          new org.apache.hadoop.fs.Path(s"$root/vectors")).getLength
        BatchRec(i, nBase, cum, w, cum, bytes)
      }
      // disk rows exactly linear in appends; meta census agrees
      val diskRows = spark.read.parquet(s"$root/vectors").count()
      val metaN = spark.read.parquet(s"$root/meta").head()
        .getAs[Long]("n_vectors")
      (recs, s"on-disk rows = base + appends (= ${11L * nBase}); " +
        "memory state = 0 (the index IS the state)",
        diskRows == 11L * nBase && metaN == 11L * nBase)
    }

    // --- stream_index_append_buffered (LSM log as bounded state) ----
    val idxAppendBuf: (Seq[BatchRec], String, Boolean) = {
      val thresh = 4
      val root =
        s"/tmp/graft_stscale_idxb_${ProcessHandle.current().pid()}"
      val emb = Tables.embeddings(spark, sfDir).localCheckpoint(true)
      val nBase = emb.count()
      // train + store once (untimed): appends must never retrain
      graft.operators.SimilarityOps.indexWrite(emb, "vec_id",
        "embedding", root, k = 8, iters = 2, m = 8, dsub = 8, ksub = 16)
      val sink = StreamingOps.indexAppendBufferedSink("vec_id",
        "embedding", root, autoFlushSegments = thresh)
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def logState(): (Long, Long) = {
        val p = new org.apache.hadoop.fs.Path(s"$root/applog/vectors")
        if (!fs.exists(p)) (0L, 0L)
        else {
          var n = 0L; var b = 0L
          val it = fs.listFiles(p, true)
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.startsWith("part-")) {
              n += 1; b += st.getLen
            }
          }
          (n, b)
        }
      }
      var cum = nBase
      val recs = (0 until nBatches).map { i =>
        val batch = emb.select(
          (col("vec_id") + lit((i + 1) * Off)).as("vec_id"),
          col("embedding"))
        val t0 = System.nanoTime()
        sink(batch, i.toLong)
        val w = (System.nanoTime() - t0) / 1e9
        cum += nBase
        val (segs, segBytes) = logState()
        BatchRec(i, nBase, cum, w, segs, segBytes)
      }
      // the log is a SAWTOOTH: +1 segment per batch, reset to 0 by the
      // inline fold the moment it reaches the threshold — so the state
      // after batch i is (i+1) mod threshold, never the stream length
      val sawtoothOk = recs.zipWithIndex.forall { case (r, i) =>
        r.stateRows == ((i + 1) % thresh)
      }
      // nothing lost across folds: vectors + surviving log = everything
      val diskRows = spark.read.parquet(s"$root/vectors").count() + {
        val p = new org.apache.hadoop.fs.Path(s"$root/applog/vectors")
        if (fs.exists(p)) spark.read.parquet(s"$root/applog/vectors").count()
        else 0L
      }
      val metaN = spark.read.parquet(s"$root/meta").head()
        .getAs[Long]("n_vectors")
      (recs, s"log segments = batches since last fold, <= $thresh " +
        "(auto-flush sawtooth); memory state = 0",
        sawtoothOk && diskRows == 11L * nBase && metaN == 11L * nBase)
    }

    val all = Seq(
      "stream_neardup" -> neardup,
      "stream_hll" -> hll,
      "stream_bloom_index" -> bloom,
      "stream_msprt" -> msprt,
      "stream_merge_upsert" -> merge,
      "stream_scd2_apply" -> scd2,
      "stream_manifest" -> manifest,
      "stream_index_append" -> idxAppend,
      "stream_index_append_buffered" -> idxAppendBuf)
    val opsJson = all.map { case (name, (recs, bound, ok)) =>
      // flat-wall readout: last batch vs the min early batch (JIT-free)
      val early = recs.take(3).map(_.wallS).min
      val flat = recs.last.wallS / math.max(early, 1e-9)
      s""""$name":{"batches":${recsJson(recs)},""" +
        s""""state_bound":"$bound","bound_ok":$ok,""" +
        s""""wall_last_over_early":${jnum(flat)}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"stream_scale","n_batches":$nBatches,""" +
        s""""sf":"$sfDir","ops":$opsJson}"""
    for (dst <- Seq("BENCH_stream_r18.json")) {
      val w = new java.io.PrintWriter(dst)
      try w.println(line) finally w.close()
    }
    spark.stop()
    println(line)
  }

  /** Units-so-far bound: after batch i the state holds exactly the
    * units enrolled by replicas 0..i.
    */
  private def msprtBoundOk(recs: Seq[BatchRec], nUnits: Int): Boolean =
    recs.zipWithIndex.forall { case (r, i) =>
      r.stateRows == (i + 1).toLong * nUnits
    }
}
