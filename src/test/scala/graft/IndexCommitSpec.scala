package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.{IndexCommits, TinyParquet}

/** The round-18 crash-safety surface: both persisted index stores
  * (ANN — SimilarityOps, BM25 — TextOps) mutate through versioned
  * snapshots (stage new files, ONE atomic pointer rename, vacuum).
  * These tests pin the protocol's invariants directly:
  *
  *   - staged maintenance files are INVISIBLE to every read until the
  *     pointer swap (the simulated-crash window: served rows identical
  *     before, during the debris, and after recovery);
  *   - the next maintenance op heals debris (vacuum), after which the
  *     on-disk data-file set equals the snapshot exactly;
  *   - commit history is bounded (one live version after vacuum, no
  *     half-written .tmp attempts survive);
  *   - the LSM auto-flush sawtooth bounds the append log, on the
  *     buffered and the direct append path alike;
  *   - the snapshot is the only store layout: a root without one fails
  *     every entry point by name;
  *   - a sidecar read serves only the newest TinyParquet generation,
  *     and fails by name when racing writers stamped one generation
  *     twice;
  *   - BM25 append dup-arbitration reads ONLY the suspects'
  *     `docbucket=` doclens partitions plus the unfolded doclens log
  *     segments (plan-captured) — the sparse twin of the ANN side's
  *     list-pruned arbitration — and rejects a duplicate that lives
  *     only in a segment; an ANN search reads ONLY the probed lists'
  *     files plus the log segments (plan-captured);
  *   - a snapshot kind the store does not own fails by name.
  */
class IndexCommitSpec extends SparkSpec {
  import spark.implicits._

  private def annVecs = (0 until 40).map { i =>
    val base = if (i % 2 == 0) 0.0f else 10.0f
    (i.toLong, Array.tabulate(64)(d => base + (i / 2) * 0.01f + d * 0.001f))
  }.toDF("vec_id", "embedding")

  private def bmCorpus = Seq(
    (0L, "spark joins data with hash joins"),
    (1L, "hash tables back the join"),
    (2L, "completely unrelated prose here"),
    (3L, "spark spark spark"),
    (4L, "the quick brown fox"),
    (5L, "join join hash spark"),
    (6L, "spark hash join spark hash")).toDF("doc_id", "text")

  /** Every data file (part-*) under root's served subdirectories. */
  private def dataFiles(root: String, subs: Seq[String]): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    subs.flatMap { sub =>
      val base = new java.io.File(s"$root/$sub")
      if (!base.exists()) Seq.empty
      else walk(base).filter(_.getName.startsWith("part-"))
        .map(_.getPath)
    }.toSet
  }

  private def commitDirs(root: String): Seq[String] = {
    val d = new java.io.File(s"$root/commits")
    if (!d.exists()) Seq.empty else d.listFiles().map(_.getName).toSeq
  }

  test("ANN flush crash window: staged fold invisible until the" +
      " pointer swap; the real flush heals debris; one live version" +
      " and zero orphans after; served rows identical throughout") {
    val root = java.nio.file.Files.createTempDirectory("graft_icf")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", root, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    assert(IndexCommits.currentVersion(spark, root) === Some(1L))
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30),
      "vec_id", "embedding", root, buffered = true)
    SimilarityOps.indexAppend(
      vecs.where(col("vec_id") >= 20 && col("vec_id") < 30),
      "vec_id", "embedding", root, buffered = true)
    // each mutation = exactly one committed version
    assert(IndexCommits.currentVersion(spark, root) === Some(3L))
    val queries = vecs.where(col("vec_id") < 4)
    val want = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq
    // simulated crash: the fold's files are staged on disk but the
    // pointer was never swapped
    assert(SimilarityOps.prepareFlush(spark, root).isDefined)
    assert(IndexCommits.currentVersion(spark, root) === Some(3L))
    val live = IndexCommits.readEntries(spark, root).map(_.file).toSet
    val disk = dataFiles(root, Seq("vectors", "applog"))
    assert((disk -- live).nonEmpty, "expected staged debris on disk")
    // debris-blind serve: snapshot-planned reads can't see the stage
    assert(SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq === want)
    // recovery: the real flush vacuums the debris, folds, swaps
    SimilarityOps.indexFlush(spark, root)
    assert(SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq === want)
    val after = IndexCommits.readEntries(spark, root)
    assert(IndexCommits.logOf(after, "vectors").isEmpty)
    // zero orphans: on-disk data files == the snapshot, exactly
    assert(dataFiles(root, Seq("vectors", "applog", "deletes")) ===
      after.map(_.file).toSet)
    // bounded history: one live version, no half-written attempts
    val cd = commitDirs(root)
    assert(cd.count(_.startsWith("v=")) === 1, cd.mkString(","))
    assert(!cd.exists(_.startsWith(".tmp")), cd.mkString(","))
  }

  test("ANN compact crash window: staged survivors invisible until" +
      " the swap; recovery compacts for real; sidecar retired;" +
      " served rows identical throughout") {
    // without and with a pending log append: the compaction folds the
    // log in the same rewrite, doomed log rows included
    for (pendingLog <- Seq(false, true)) {
      val root = java.nio.file.Files.createTempDirectory("graft_icc")
        .toString + "/idx"
      val vecs = annVecs
      if (!pendingLog)
        SimilarityOps.indexWrite(vecs, "vec_id", "embedding", root,
          k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
      else {
        SimilarityOps.indexWrite(vecs.where(col("vec_id") < 30), "vec_id",
          "embedding", root, k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
        SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30),
          "vec_id", "embedding", root, buffered = true)
        assert(IndexCommits.logOf(IndexCommits.readEntries(spark, root),
          "vectors").nonEmpty)
      }
      SimilarityOps.indexDelete(
        vecs.where(col("vec_id") % 2 === 0 && col("vec_id") >= 20),
        "vec_id", root, vecCol = "embedding")
      if (pendingLog) // the deletes hit the log as well as the base
        assert(SimilarityOps.indexSearch(vecs.where(col("vec_id") === 1),
          root, "vec_id", "embedding", k = 40, nProbe = 2).collect()
          .map(_.getAs[Long]("neighbor_id")).toSet ===
          (0L until 40L).filter(i => i != 1 && (i % 2 == 1 || i < 20)).toSet)
      val queries = vecs.where(col("vec_id") < 4)
      // with a log, k covers every stored row, log-resident ones too
      val k = if (pendingLog) 40 else 3
      val want = SimilarityOps.indexSearch(queries, root,
        "vec_id", "embedding", k = k, nProbe = 2).collect().toSeq
      val v0 = IndexCommits.currentVersion(spark, root)
      // simulated crash inside the old delete-then-rename window
      assert(SimilarityOps.prepareCompact(spark, root).isDefined)
      assert(IndexCommits.currentVersion(spark, root) === v0)
      assert(SimilarityOps.indexSearch(queries, root,
        "vec_id", "embedding", k = k, nProbe = 2).collect().toSeq === want)
      // recovery: heal, stage again, swap — merge-on-read result kept
      SimilarityOps.indexCompact(spark, root)
      assert(SimilarityOps.indexSearch(queries, root,
        "vec_id", "embedding", k = k, nProbe = 2).collect().toSeq === want)
      val after = IndexCommits.readEntries(spark, root)
      assert(IndexCommits.filesOf(after, "deletes").isEmpty)
      assert(!new java.io.File(s"$root/deletes").exists())
      assert(IndexCommits.logOf(after, "vectors").isEmpty)
      assert(dataFiles(root, Seq("vectors", "applog", "deletes")) ===
        after.map(_.file).toSet)
    }
  }

  test("BM25 compact crash window: staged survivors invisible until" +
      " the swap; recovery compacts; served rows identical throughout") {
    // without and with a pending log append before the deletes: the
    // compaction folds the log in the same rewrite, doomed log rows
    // included; k = 10 covers every doc
    for (pendingLog <- Seq(false, true)) {
      val root = java.nio.file.Files.createTempDirectory("graft_icb")
        .toString + "/idx"
      if (!pendingLog)
        TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
          nBuckets = 16)
      else {
        TextOps.invertedIndexWrite(bmCorpus.where(col("doc_id") < 5),
          "doc_id", "text", root, nBuckets = 16)
        TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") >= 5),
          "doc_id", "text", root)
        assert(IndexCommits.logOf(IndexCommits.readEntries(spark, root),
          "postings").nonEmpty)
      }
      TextOps.invertedIndexDelete(bmCorpus.where(col("doc_id") % 3 === 0),
        "doc_id", root)
      val terms = Seq("spark", "join", "hash")
      val want = TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
        .collect().toSeq
      if (pendingLog) // the deletes hit the log (doc 6) as well as the base
        assert(want.map(_.getLong(0)).toSet === Set(1L, 5L))
      val v0 = IndexCommits.currentVersion(spark, root)
      assert(TextOps.prepareInvertedCompact(spark, root).isDefined)
      assert(IndexCommits.currentVersion(spark, root) === v0)
      assert(TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
        .collect().toSeq === want)
      TextOps.invertedIndexCompact(spark, root)
      assert(TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
        .collect().toSeq === want)
      val after = IndexCommits.readEntries(spark, root)
      assert(IndexCommits.filesOf(after, "deletes").isEmpty)
      assert(after.forall(_.partId.isDefined), after.mkString(", "))
      assert(dataFiles(root,
        Seq("postings", "doclens", "applog", "deletes")) ===
        after.map(_.file).toSet)
    }
  }

  test("auto-flush sawtooth: the buffered sink (the streaming-ingest" +
      " default) folds inline at the segment threshold, so the log" +
      " never outgrows it and serving stays row-identical to direct") {
    val vecs = annVecs
    val direct = java.nio.file.Files.createTempDirectory("graft_icd")
      .toString + "/idx"
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", direct, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 20),
      "vec_id", "embedding", direct)
    val queries = vecs.where(col("vec_id") < 4)
    val want = SimilarityOps.indexSearch(queries, direct,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_icaf")
      .toString + "/idx"
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", root, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    val sink = graft.streaming.StreamingOps.indexAppendBufferedSink(
      "vec_id", "embedding", root, autoFlushSegments = 2)
    def logSegs(): Int = IndexCommits.logOf(
      IndexCommits.readEntries(spark, root), "vectors").size
    sink(vecs.where(col("vec_id") >= 30), 0L)
    assert(logSegs() === 1) // below threshold: no fold
    sink(vecs.where(col("vec_id") >= 20 && col("vec_id") < 30), 1L)
    assert(logSegs() === 0) // threshold reached: folded inline
    assert(SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq === want)
    // the sawtooth restarts: the next batch is one fresh segment
    sink(vecs.select((col("vec_id") + 100L).as("vec_id"),
      col("embedding")), 2L)
    assert(logSegs() === 1)
    // direct appends feed the same log, and the policy bounds it too
    val direct2 = java.nio.file.Files.createTempDirectory("graft_icdf")
      .toString + "/idx"
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", direct2, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    def directSegs(): Int = IndexCommits.logOf(
      IndexCommits.readEntries(spark, direct2), "vectors").size
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30),
      "vec_id", "embedding", direct2, buffered = false,
      autoFlushSegments = 2)
    assert(directSegs() < 2)
    SimilarityOps.indexAppend(
      vecs.where(col("vec_id") >= 20 && col("vec_id") < 30),
      "vec_id", "embedding", direct2, buffered = false,
      autoFlushSegments = 2)
    assert(directSegs() < 2) // threshold reached: folded inline
    assert(SimilarityOps.indexSearch(queries, direct2,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq === want)
    // and by default: a direct append with no autoFlushSegments folds
    // at IndexStore.FlushSegments (16), so after n appends the log
    // holds n mod 16 segments
    val direct3 = java.nio.file.Files.createTempDirectory("graft_icdd")
      .toString + "/idx"
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", direct3, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    def defaultSegs(): Int = IndexCommits.logOf(
      IndexCommits.readEntries(spark, direct3), "vectors").size
    val batches = (20 until 36).map(i => col("vec_id") === i) :+
      (col("vec_id") >= 36)
    for ((batch, i) <- batches.zipWithIndex) {
      SimilarityOps.indexAppend(vecs.where(batch), "vec_id", "embedding",
        direct3)
      assert(defaultSegs() === (i + 1) % 16, s"after append ${i + 1}")
    }
    assert(SimilarityOps.indexSearch(queries, direct3,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq === want)
  }

  test("a root with no commit snapshot fails every store entry point" +
      " with an error naming the root, before any other step") {
    val base = java.nio.file.Files.createTempDirectory("graft_icn")
      .toString
    val ann = s"$base/ann"
    val bm = s"$base/bm"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs, "vec_id", "embedding", ann,
      k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", bm,
      nBuckets = 16)
    // strip both stores down to their meta sidecar
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    Seq(ann, bm).foreach(r => new java.io.File(r).listFiles()
      .filter(_.getName != "meta").foreach(rm))
    def failsNamingRoot(root: String)(op: => Any): Unit = {
      val e = intercept[Exception](op)
      assert(!e.isInstanceOf[NullPointerException], e.toString)
      val msg = String.valueOf(e.getMessage)
      assert(msg.contains(root) && msg.contains("commit"), msg)
    }
    failsNamingRoot(ann)(SimilarityOps.indexAppend(vecs, "vec_id",
      "embedding", ann))
    failsNamingRoot(ann)(SimilarityOps.indexDelete(vecs, "vec_id", ann))
    failsNamingRoot(ann)(SimilarityOps.indexFlush(spark, ann))
    failsNamingRoot(ann)(SimilarityOps.indexMaintain(spark, ann))
    failsNamingRoot(ann)(SimilarityOps.indexCompact(spark, ann))
    failsNamingRoot(ann)(SimilarityOps.indexSearch(vecs, ann, "vec_id",
      "embedding", k = 3, nProbe = 2))
    failsNamingRoot(bm)(TextOps.invertedIndexAppend(bmCorpus, "doc_id",
      "text", bm))
    failsNamingRoot(bm)(TextOps.invertedIndexDelete(bmCorpus, "doc_id",
      bm))
    failsNamingRoot(bm)(TextOps.invertedIndexCompact(spark, bm))
    failsNamingRoot(bm)(TextOps.invertedIndexMaintain(spark, bm))
    failsNamingRoot(bm)(TextOps.bm25SearchIndexed(spark, bm,
      Seq("spark"), k = 3))
    failsNamingRoot(bm)(TextOps.bm25SearchIndexedBatch(spark, bm,
      Seq(1L -> Seq("spark")), k = 3))
  }

  test("TinyParquet serves only the newest sidecar generation: an older" +
      " part a crash left beside a newer one is never read") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files.createTempDirectory("graft_ictp")
    def parts(dir: String): Seq[java.nio.file.Path] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.startsWith("part-")).map(_.toPath)
    // plant: stash the current part, supersede it, put it back — the
    // on-disk state a crash between publish rename and delete leaves
    def withOlderPlanted(dir: String)(rewrite: => Unit): Unit = {
      val older = parts(dir)
      assert(older.size === 1)
      val stash = base.resolve(older.head.getFileName)
      java.nio.file.Files.copy(older.head, stash)
      rewrite
      java.nio.file.Files.copy(stash, older.head)
      assert(parts(dir).size === 2)
    }
    val side = s"$base/side"
    val fields = Seq("k" -> "long")
    TinyParquet.write(hconf, side, fields, Seq(Seq(1L), Seq(2L)))
    withOlderPlanted(side)(
      TinyParquet.write(hconf, side, fields, Seq(Seq(3L))))
    assert(TinyParquet.read(hconf, side).map(_.getLong("k")) === Seq(3L))
    // the store's own sidecar: a superseded centroid table beside the
    // current one must not double every centroid's dimensions
    val root = s"$base/idx"
    SimilarityOps.indexWrite(annVecs, "vec_id", "embedding", root,
      k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    val shifted = SimilarityOps.readIndexCentroids(spark, root)
      .map { case (cid, v) => (cid, v.map(_ + 1.0)) }
    withOlderPlanted(s"$root/centroids")(
      TinyParquet.write(hconf, s"$root/centroids",
        Seq("cid" -> "long", "dim" -> "int", "value" -> "double"),
        shifted.flatMap { case (cid, v) =>
          v.toSeq.zipWithIndex.map { case (x, d) => Seq(cid, d, x) }
        }))
    val got = SimilarityOps.readIndexCentroids(spark, root)
    assert(got.map(_._1) === shifted.map(_._1))
    assert(got.map(_._2.toSeq) === shifted.map(_._2.toSeq))
  }

  test("TinyParquet fails by name when one stamped generation holds" +
      " two part files (racing writers) instead of serving either") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files.createTempDirectory("graft_ictr")
    val side = s"$base/side"
    val fields = Seq("k" -> "long")
    TinyParquet.write(hconf, side, fields, Seq(Seq(1L)))
    TinyParquet.write(hconf, side, fields, Seq(Seq(2L)))
    // plant the race: a second writer took the same generation from
    // its listing and published its own part-g2-* beside the first
    val g2 = new java.io.File(side).listFiles().toSeq
      .filter(_.getName.startsWith("part-"))
    assert(g2.map(_.getName.take(8)) === Seq("part-g2-"))
    java.nio.file.Files.copy(g2.head.toPath, java.nio.file.Paths.get(side,
      s"part-g2-${java.util.UUID.randomUUID()}.parquet"))
    def failsNamingRace(op: => Any): Unit = {
      val msg = intercept[IllegalStateException](op).getMessage
      assert(msg.contains(side) && msg.contains("generation 2") &&
        msg.contains("concurrent writers"), msg)
    }
    failsNamingRace(TinyParquet.read(hconf, side))
    failsNamingRace(TinyParquet.rowCount(hconf, Seq(side)))
    // generation 0 (a dir Spark wrote) stays multi-file
    val sparkDir = s"$base/spark"
    spark.range(4).repartition(2).write.parquet(sparkDir)
    assert(TinyParquet.read(hconf, sparkDir).map(_.getLong("id")).sorted ===
      Seq(0L, 1L, 2L, 3L))
    assert(TinyParquet.rowCount(hconf, Seq(sparkDir)) === 4L)
  }

  test("maintenance policies are threshold-gated: below both" +
      " thresholds indexMaintain / invertedIndexMaintain are no-ops" +
      " (no pointer swap); above them they fold and compact") {
    val root = java.nio.file.Files.createTempDirectory("graft_icm")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", root, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 20),
      "vec_id", "embedding", root, buffered = true)
    SimilarityOps.indexDelete(vecs.where(col("vec_id") === 5),
      "vec_id", root, vecCol = "embedding")
    val v0 = IndexCommits.currentVersion(spark, root)
    // 1 segment < 16; 1 deleted of 40 = 2.5% < 50%: nothing runs
    assert(SimilarityOps.indexMaintain(spark, root,
      flushSegments = 16, compactDeletedFraction = 0.5) === (false, false))
    assert(IndexCommits.currentVersion(spark, root) === v0)
    // 1 segment >= 1; 2.5% >= 1%: both run
    assert(SimilarityOps.indexMaintain(spark, root,
      flushSegments = 1, compactDeletedFraction = 0.01) === (true, true))
    val after = IndexCommits.readEntries(spark, root)
    assert(IndexCommits.logOf(after, "vectors").isEmpty)
    assert(IndexCommits.filesOf(after, "deletes").isEmpty)
    // and a second tick is a clean no-op again
    assert(SimilarityOps.indexMaintain(spark, root,
      flushSegments = 1, compactDeletedFraction = 0.01) === (false, false))
    // BM25 twin
    val bm = java.nio.file.Files.createTempDirectory("graft_icmb")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", bm,
      nBuckets = 16)
    TextOps.invertedIndexDelete(bmCorpus.where(col("doc_id") === 4),
      "doc_id", bm)
    val b0 = IndexCommits.currentVersion(spark, bm)
    // 1 of 7 docs ~ 14% < 50%: no compact
    assert(!TextOps.invertedIndexMaintain(spark, bm,
      compactDeletedFraction = 0.5))
    assert(IndexCommits.currentVersion(spark, bm) === b0)
    assert(TextOps.invertedIndexMaintain(spark, bm,
      compactDeletedFraction = 0.1))
    assert(IndexCommits.filesOf(
      IndexCommits.readEntries(spark, bm), "deletes").isEmpty)
    assert(!TextOps.invertedIndexMaintain(spark, bm,
      compactDeletedFraction = 0.1))
  }

  test("vacuum retention window: a reader planned from the previous" +
      " snapshot survives a compact when graft.index.vacuum.retainMs" +
      " is set; debris reclaims once the window lapses") {
    val root = java.nio.file.Files.createTempDirectory("graft_icr")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs, "vec_id", "embedding", root,
      k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    val queries = vecs.where(col("vec_id") < 4)
    // the in-flight reader: planned (snapshot read + probed file list)
    // BEFORE the delete/compact below, collected only after
    val preDf = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2)
    val preWant = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq
    SimilarityOps.indexDelete(
      vecs.where(col("vec_id") % 2 === 0 && col("vec_id") >= 20),
      "vec_id", root, vecCol = "embedding")
    val mor = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq
    spark.conf.set("graft.index.vacuum.retainMs", "3600000")
    try SimilarityOps.indexCompact(spark, root)
    finally spark.conf.unset("graft.index.vacuum.retainMs")
    // new reads serve the compacted store...
    assert(SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq === mor)
    // ...while the in-flight reader's superseded files were RETAINED:
    // it still collects its own planned-at snapshot (which predates
    // even the delete sidecar), instead of failing on deleted files
    assert(preDf.collect().toSeq === preWant)
    // superseded files exist but are invisible orphans
    val live = IndexCommits.readEntries(spark, root).map(_.file).toSet
    assert((dataFiles(root, Seq("vectors")) -- live).nonEmpty)
    // window cleared (default 0): the next vacuum reclaims them all
    IndexCommits.vacuum(spark, root,
      Seq("vectors", "applog", "deletes", ".compact"))
    assert(dataFiles(root, Seq("vectors", "applog", "deletes")) === live)
    val cd = commitDirs(root)
    assert(cd.count(_.startsWith("v=")) === 1, cd.mkString(","))
  }

  test("BM25 append dup-arbitration reads only the suspects'" +
      " docbucket= doclens partitions (plan-captured), never the" +
      " whole doclens table") {
    val root = java.nio.file.Files.createTempDirectory("graft_icp")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.foreach(p =>
              seen.add(p.toString))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // a true dup: the Bloom hits, arbitration must consult doclens —
      // and must consult ONLY the suspect's own docbucket= partition
      val e = intercept[IllegalArgumentException] {
        TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") === 5),
          "doc_id", "text", root)
      }
      assert(e.getMessage.contains("already indexed"))
      // the listener bus is async: wait for the doclens scan to land
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.contains("/doclens")) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      val lens = seen.asScala.toSeq.filter(_.contains("/doclens"))
      assert(lens.nonEmpty, "no doclens scan captured")
      assert(lens.forall(_.contains("docbucket=")),
        s"arbitration scanned doclens outside the suspect buckets: " +
          lens.mkString(", "))
    } finally spark.listenerManager.unregister(listener)
  }

  test("BM25 append dup-arbitration over log segments: a duplicate of a" +
      " doc that lives only in an unfolded segment is rejected by name;" +
      " the doclens scans are exactly the suspect's docbucket= files" +
      " plus the segment files (plan-captured)") {
    val root = java.nio.file.Files.createTempDirectory("graft_icps")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus.where(col("doc_id") < 5),
      "doc_id", "text", root, nBuckets = 16)
    TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") >= 5),
      "doc_id", "text", root)
    val snap = IndexCommits.readEntries(spark, root)
    val segs = IndexCommits.logOf(snap, "doclens")
    assert(segs.nonEmpty)
    // doc 6 is in the segment only; its docbucket rides the segment row
    val bucket = spark.read.parquet(segs: _*).where(col("doc_id") === 6)
      .select(col("docbucket").cast("long")).head().getLong(0)
    val want = (IndexCommits.filesOfParts(snap, "doclens", Set(bucket)) ++
      segs).toSet
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.foreach(p =>
              seen.add(p.toUri.getPath))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val e = intercept[IllegalArgumentException] {
        TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") === 6),
          "doc_id", "text", root)
      }
      assert(e.getMessage.contains("doc_id 6 is already indexed"),
        e.getMessage)
      import scala.jdk.CollectionConverters._
      def lens = seen.asScala.toSet.filter(_.contains("/doclens"))
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (lens.size < want.size && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(lens === want)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a snapshot kind the store does not own fails by name: an ANN" +
      " store naming the retired applog kind, and an ANN read of a BM25" +
      " root") {
    val base = java.nio.file.Files.createTempDirectory("graft_ick")
      .toString
    val ann = s"$base/ann"
    val bm = s"$base/bm"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20), "vec_id",
      "embedding", ann, k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", bm,
      nBuckets = 16)
    // hand-commit what an older ANN writer left: a segment registered
    // under its own kind, which this store would serve without
    val seg = s"$base/applog-segment"
    vecs.where(col("vec_id") >= 20).select(col("vec_id"),
        lit(0L).as("list_id"), lit(Array[Byte](0)).as("codes"))
      .coalesce(1).write.parquet(seg)
    val segFile = new java.io.File(seg).listFiles()
      .find(_.getName.startsWith("part-")).get.getPath
    IndexCommits.commit(spark, ann, IndexCommits.readEntries(spark, ann) :+
      IndexCommits.Entry("applog", None, segFile))
    def failsNaming(root: String, kind: String)(op: => Any): Unit = {
      val msg = intercept[IllegalStateException](op).getMessage
      assert(msg.contains(root) && msg.contains(s"'$kind'"), msg)
    }
    val queries = vecs.where(col("vec_id") < 4)
    failsNaming(ann, "applog")(SimilarityOps.indexSearch(queries, ann,
      "vec_id", "embedding", k = 3, nProbe = 2))
    failsNaming(ann, "applog")(SimilarityOps.indexAppend(
      vecs.where(col("vec_id") === 39), "vec_id", "embedding", ann))
    failsNaming(ann, "applog")(SimilarityOps.indexMaintain(spark, ann))
    failsNaming(bm, "postings")(SimilarityOps.indexSearch(queries, bm,
      "vec_id", "embedding", k = 3, nProbe = 2))
    failsNaming(bm, "postings")(SimilarityOps.indexDelete(
      vecs.where(col("vec_id") === 0), "vec_id", bm))
    failsNaming(ann, "vectors")(TextOps.bm25SearchIndexed(spark, ann,
      Seq("spark"), k = 3))
  }

  test("ANN search over an unfolded log scans exactly the probed lists'" +
      " list_id= files plus the log segments (plan-captured)") {
    val root = java.nio.file.Files.createTempDirectory("graft_icas")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20), "vec_id",
      "embedding", root, k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30),
      "vec_id", "embedding", root, buffered = true)
    SimilarityOps.indexAppend(
      vecs.where(col("vec_id") >= 20 && col("vec_id") < 30),
      "vec_id", "embedding", root, buffered = true)
    val snap = IndexCommits.readEntries(spark, root)
    val segs = IndexCommits.logOf(snap, "vectors")
    assert(segs.size === 2)
    // one probe from vector 0: its own list, one of the two
    val lists = snap.flatMap(_.partId).toSet
    assert(lists.size === 2)
    val probed = lists.filter(l => spark.read.parquet(
        IndexCommits.filesOfParts(snap, "vectors", Set(l)): _*)
      .where(col("vec_id") === 0).count() === 1)
    assert(probed.size === 1)
    val want = (IndexCommits.filesOfParts(snap, "vectors", probed) ++
      segs).toSet
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.foreach(p =>
              seen.add(p.toUri.getPath))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // k covers the probed list: every other even id, 20+ from the log
      val got = SimilarityOps.indexSearch(vecs.where(col("vec_id") === 0),
        root, "vec_id", "embedding", k = 40, nProbe = 1).collect()
        .map(_.getAs[Long]("neighbor_id")).toSet
      assert(got === (2L until 40L by 2).toSet)
      import scala.jdk.CollectionConverters._
      def scanned = seen.asScala.toSet.filter(_.contains("/vectors"))
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (scanned.size < want.size && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(scanned === want)
    } finally spark.listenerManager.unregister(listener)
  }
}
