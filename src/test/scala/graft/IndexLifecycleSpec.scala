package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** The round-17 lifecycle-symmetry surface: partition-surgical ANN
  * index compaction, the BM25 index's delete / census / compaction
  * legs, both stores' idempotent delete, the batched indexed-BM25
  * search, and the persisted BPE merge table. The file-list assertions here are the physical-evidence half
  * of the gate queries' row-identity oracles: compaction must change
  * ONLY the partitions it claims to.
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def listFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val base = new java.io.File(dir)
    if (!base.exists()) Map.empty
    else walk(base).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  private def annVecs = (0 until 40).map { i =>
    val base = if (i % 2 == 0) 0.0f else 10.0f
    (i.toLong, Array.tabulate(64)(d => base + (i / 2) * 0.01f + d * 0.001f))
  }.toDF("vec_id", "embedding")

  test("indexCompact: only delete-touched list_id partitions rewrite;" +
      " sidecar dropped; searches row-identical; census still fresh") {
    val root = java.nio.file.Files.createTempDirectory("graft_anncmp")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs, "vec_id", "embedding", root,
      k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    // doom only EVEN ids: with the clean even/odd clustering, exactly
    // one of the two list_id partitions is touched
    SimilarityOps.indexDelete(
      vecs.where(col("vec_id") % 2 === 0 && col("vec_id") >= 20),
      "vec_id", root, vecCol = "embedding")
    val queries = vecs.where(col("vec_id") < 4)
    val preCompact = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq
    val before = listFiles(s"$root/vectors")
    // the doomed rows' list: every doomed row recorded its list_id, so
    // compact needs no discovery scan — read the sidecar to learn which
    val doomedLists = spark.read.parquet(s"$root/deletes")
      .select("list_id").distinct().collect().map(_.getLong(0)).toSet
    assert(doomedLists.size === 1) // even cluster only
    SimilarityOps.indexCompact(spark, root)
    val after = listFiles(s"$root/vectors")
    // untouched partitions: files byte-identical (same paths, same mtimes)
    val untouchedBefore = before.filter {
      case (p, _) => !doomedLists.exists(l => p.contains(s"list_id=$l"))
    }
    val untouchedAfter = after.filter {
      case (p, _) => !doomedLists.exists(l => p.contains(s"list_id=$l"))
    }
    assert(untouchedBefore === untouchedAfter)
    assert(untouchedBefore.nonEmpty)
    // touched partition: fully rewritten (no pre-compact file survives)
    val touchedBefore = before.keySet -- untouchedBefore.keySet
    val touchedAfter = after.keySet -- untouchedAfter.keySet
    assert(touchedBefore.nonEmpty && (touchedBefore & touchedAfter).isEmpty)
    // sidecar gone, doomed rows physically gone
    assert(!new java.io.File(s"$root/deletes").exists())
    val ids = spark.read.parquet(s"$root/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === (0 until 40).map(_.toLong)
      .filterNot(i => i % 2 == 0 && i >= 20).toSet)
    // searches row-identical to the pre-compact merge-on-read
    val postCompact = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2).collect().toSeq
    assert(postCompact === preCompact)
    // meta untouched: census still fresh for the surviving corpus
    assert(!SimilarityOps.indexIsStale(
      vecs.where(!(col("vec_id") % 2 === 0 && col("vec_id") >= 20)),
      "vec_id", root))
    // compacting again is a no-op (no sidecar)
    SimilarityOps.indexCompact(spark, root)
    assert(listFiles(s"$root/vectors") === after)
  }

  test("indexCompact: id-only deletes (no recorded list_id) fall back" +
      " to the discovery join; a fully-doomed list's partition drops") {
    // legacy = a sidecar written before deletes recorded their list_id
    // (null keys): the compaction finds the doomed list by the
    // discovery join instead, and rewrites the same list only
    for (legacy <- Seq(false, true)) {
      val root = java.nio.file.Files.createTempDirectory("graft_anncm2")
        .toString + "/idx"
      val vecs = annVecs
      SimilarityOps.indexWrite(vecs, "vec_id", "embedding", root,
        k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
      // id-only delete of EVERY even id: the whole even list is doomed
      SimilarityOps.indexDelete(vecs.where(col("vec_id") % 2 === 0),
        "vec_id", root)
      // the id-only delete reads every list, so each sidecar row carries
      // its stored list_id: the compaction rewrites that list only
      val stored = spark.read.parquet(s"$root/vectors")
        .select("vec_id", "list_id")
      val recorded = spark.read.parquet(s"$root/deletes")
      assert(recorded.where(col("list_id").isNull).count() === 0)
      assert(recorded.select("vec_id", "list_id").exceptAll(
        stored.where(col("vec_id") % 2 === 0)).count() === 0)
      assert(recorded.count() === 20)
      val doomedList = recorded.select("list_id").distinct().collect()
        .map(_.getLong(0)).toSeq
      assert(doomedList.size === 1)
      if (legacy) {
        val IC = graft.sources.IndexCommits
        val snap = IC.readEntries(spark, root)
        val old = IC.list(spark, "deletes", s"$root/deletes").toSet
        recorded.select(col("vec_id"), lit(null).cast("long").as("list_id"))
          .coalesce(1).write.mode("append").parquet(s"$root/deletes")
        IC.commit(spark, root, snap.filterNot(_.kind == "deletes") ++
          IC.list(spark, "deletes", s"$root/deletes").filterNot(old))
        assert(spark.read.parquet(IC.filesOf(IC.readEntries(spark, root),
          "deletes"): _*).where(col("list_id").isNotNull).count() === 0)
      }
      val before = listFiles(s"$root/vectors")
      SimilarityOps.indexCompact(spark, root)
      val after = listFiles(s"$root/vectors")
      val otherList =
        before.filterNot(_._1.contains(s"list_id=${doomedList.head}"))
      assert(otherList.nonEmpty && otherList === after)
      val surviving = spark.read.parquet(s"$root/vectors")
      assert(surviving.select("vec_id").collect().map(_.getLong(0)).toSet ===
        (0 until 40).map(_.toLong).filter(_ % 2 == 1).toSet)
      // one of the two list partitions vanished entirely
      assert(surviving.select("list_id").distinct().count() === 1)
      assert(!new java.io.File(s"$root/deletes").exists())
      // post-compact search equals in-memory IVFPQ over the survivors
      val cents = SimilarityOps.trainIvf(vecs, "vec_id", "embedding",
        k = 2, iters = 2)
      val cb = SimilarityOps.pqCodebooks(vecs, "vec_id", "embedding",
        m = 8, dsub = 8, ksub = 4)
      val queries = vecs.where(col("vec_id") < 4)
      val got = SimilarityOps.indexSearch(queries, root,
        "vec_id", "embedding", k = 3, nProbe = 2)
      val want = SimilarityOps.ivfPqTopKWith(queries,
        vecs.where(col("vec_id") % 2 === 1),
        "vec_id", "vec_id", "embedding", k = 3, cents, cb, nProbe = 2)
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    }
  }

  test("ANN append dup-guard: re-appended vec_id rejected (including" +
      " deleted-not-compacted); clean re-append after compact") {
    val root = java.nio.file.Files.createTempDirectory("graft_anndup")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 30),
      "vec_id", "embedding", root, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    // fresh ids append fine (bloom misses: provably new, no read)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30),
      "vec_id", "embedding", root)
    assert(!SimilarityOps.indexIsStale(vecs, "vec_id", root))
    // a re-append must fail fast, not silently double the vector
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.indexAppend(vecs.where(col("vec_id") === 35),
        "vec_id", "embedding", root)
    }
    assert(e.getMessage.contains("already indexed"))
    // deleted but not compacted: physically present, still rejected
    SimilarityOps.indexDelete(vecs.where(col("vec_id") === 35),
      "vec_id", root, vecCol = "embedding")
    val e2 = intercept[IllegalArgumentException] {
      SimilarityOps.indexAppend(vecs.where(col("vec_id") === 35),
        "vec_id", "embedding", root)
    }
    assert(e2.getMessage.contains("already indexed"))
    // post-compact the id is legally new: re-append restores the full
    // corpus and the index serves exactly like a never-deleted one
    SimilarityOps.indexCompact(spark, root)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") === 35),
      "vec_id", "embedding", root)
    assert(!SimilarityOps.indexIsStale(vecs, "vec_id", root))
    val queries = vecs.where(col("vec_id") < 4)
    val cents = SimilarityOps.trainIvf(vecs.where(col("vec_id") < 30),
      "vec_id", "embedding", k = 2, iters = 2)
    val cb = SimilarityOps.pqCodebooks(vecs.where(col("vec_id") < 30),
      "vec_id", "embedding", m = 8, dsub = 8, ksub = 4)
    val got = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 3, nProbe = 2)
    val want = SimilarityOps.ivfPqTopKWith(queries, vecs,
      "vec_id", "vec_id", "embedding", k = 3, cents, cb, nProbe = 2)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("LSM-buffered append: log-served searches row-identical to" +
      " direct append; flush lossless; dup guard sees the log;" +
      " compact strips doomed log rows") {
    val vecs = annVecs
    val direct = java.nio.file.Files.createTempDirectory("graft_lsm0")
      .toString + "/idx"
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", direct, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 20),
      "vec_id", "embedding", direct)
    // the reference serves from its partition files alone
    SimilarityOps.indexFlush(spark, direct)
    val queries = vecs.where(col("vec_id") < 4)
    // k covers every stored row: PQ code ties let base ids outrank log
    // ids at a small k, which would hide whether a search reads the log
    val want = SimilarityOps.indexSearch(queries, direct,
      "vec_id", "embedding", k = 40, nProbe = 2).collect().toSeq
    // buffered twin: two segments, searches served from the log
    val root = java.nio.file.Files.createTempDirectory("graft_lsm1")
      .toString + "/idx"
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", root, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30),
      "vec_id", "embedding", root, buffered = true)
    SimilarityOps.indexAppend(
      vecs.where(col("vec_id") >= 20 && col("vec_id") < 30),
      "vec_id", "embedding", root, buffered = true)
    assert(new java.io.File(s"$root/applog").exists())
    assert(SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 40, nProbe = 2).collect().toSeq === want)
    assert(!SimilarityOps.indexIsStale(vecs, "vec_id", root))
    // the dup guard must see log-resident ids too
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.indexAppend(vecs.where(col("vec_id") === 35),
        "vec_id", "embedding", root, buffered = true)
    }
    assert(e.getMessage.contains("already indexed"))
    // flush: physical fold, serving identical, log gone
    SimilarityOps.indexFlush(spark, root)
    assert(!new java.io.File(s"$root/applog").exists())
    assert(SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 40, nProbe = 2).collect().toSeq === want)
    // flush with no log is a no-op
    SimilarityOps.indexFlush(spark, root)
    // delete + compact with a live log: doomed log rows stripped too
    val root2 = java.nio.file.Files.createTempDirectory("graft_lsm2")
      .toString + "/idx"
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", root2, k = 2, iters = 2, m = 8, dsub = 8,
      ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 20),
      "vec_id", "embedding", root2, buffered = true)
    SimilarityOps.indexDelete(vecs.where(col("vec_id") >= 30),
      "vec_id", root2, vecCol = "embedding")
    SimilarityOps.indexCompact(spark, root2)
    // the compaction folded the log: no log entry remains, and no
    // stored vectors row is a doomed one
    val IC = graft.sources.IndexCommits
    val compacted = IC.readEntries(spark, root2)
    assert(IC.logOf(compacted, "vectors").isEmpty)
    assert(spark.read.parquet(IC.filesOf(compacted, "vectors"): _*)
      .where(col("vec_id") >= 30).count() === 0)
    val cents = SimilarityOps.trainIvf(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", k = 2, iters = 2)
    val cb = SimilarityOps.pqCodebooks(vecs.where(col("vec_id") < 20),
      "vec_id", "embedding", m = 8, dsub = 8, ksub = 4)
    val got2 = SimilarityOps.indexSearch(queries, root2,
      "vec_id", "embedding", k = 40, nProbe = 2)
    val want2 = SimilarityOps.ivfPqTopKWith(queries,
      vecs.where(col("vec_id") < 30),
      "vec_id", "vec_id", "embedding", k = 40, cents, cb, nProbe = 2)
    assert(got2.exceptAll(want2).count() === 0)
    assert(want2.exceptAll(got2).count() === 0)
    // post-compact the deleted log ids are legally new again
    SimilarityOps.indexAppend(vecs.where(col("vec_id") === 35),
      "vec_id", "embedding", root2, buffered = true)
  }

  test("indexDelete is idempotent: duplicate ids in a batch, a" +
      " re-deleted subset and an overlapping batch retire each id once;" +
      " a fully repeated batch commits nothing; searches equal the" +
      " in-memory IVFPQ over the survivors") {
    val root = java.nio.file.Files.createTempDirectory("graft_annidem")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs, "vec_id", "embedding", root,
      k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    def del(ids: Long*): Unit = SimilarityOps.indexDelete(
      vecs.join(ids.toDF("vec_id"), "vec_id"), "vec_id", root,
      vecCol = "embedding")
    def version = graft.sources.IndexCommits.currentVersion(spark, root)
    del(4, 6, 6, 8) // duplicates inside one batch
    val v = version
    del(6, 8) // every id already recorded: no commit
    assert(version === v)
    del(8, 10, 10, 12) // overlaps the recorded ids
    assert(version === v.map(_ + 1))
    val doomed = Seq(4L, 6L, 8L, 10L, 12L)
    val survivors = vecs.where(!col("vec_id").isin(doomed: _*))
    assert(!SimilarityOps.indexIsStale(survivors, "vec_id", root))
    assert(SimilarityOps.indexIsStale(vecs, "vec_id", root))
    assert(graft.sources.IndexCommits.pendingDeletes(spark,
      graft.sources.IndexCommits.readEntries(spark, root)) === doomed.size)
    val queries = vecs.where(col("vec_id") < 2)
    val stored = SimilarityOps.indexSearch(queries, root,
      "vec_id", "embedding", k = 4, nProbe = 2)
    val mem = SimilarityOps.ivfPqTopKWith(queries, survivors,
      "vec_id", "vec_id", "embedding", k = 4,
      SimilarityOps.readIndexCentroids(spark, root),
      SimilarityOps.readIndexCodebooks(spark, root), nProbe = 2)
    assert(stored.count() === 8)
    assert(stored.exceptAll(mem).count() === 0)
    assert(mem.exceptAll(stored).count() === 0)
  }

  test("indexDelete records only indexed ids: a never-indexed id is" +
      " not pending, leaves the census alone, and a later append of it" +
      " is served, not hidden") {
    val vecs = annVecs
    // id 99 rides along with the vector of id 3, so both the id-only
    // and the routed delete would find a list for it
    val late = vecs.where(col("vec_id") === 3)
      .select(lit(99L).as("vec_id"), col("embedding"))
    val doomed = vecs.where(col("vec_id") === 1).union(late)
    val IC = graft.sources.IndexCommits
    for (vecCol <- Seq[String](null, "embedding")) {
      val r = java.nio.file.Files.createTempDirectory("graft_annnever")
        .toString + "/idx"
      SimilarityOps.indexWrite(vecs, "vec_id", "embedding", r,
        k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
      SimilarityOps.indexDelete(doomed, "vec_id", r, vecCol)
      assert(IC.pendingDeletes(spark, IC.readEntries(spark, r)) === 1)
      val survivors = vecs.where(col("vec_id") =!= 1)
      assert(!SimilarityOps.indexIsStale(survivors, "vec_id", r))
      SimilarityOps.indexAppend(late, "vec_id", "embedding", r)
      assert(!SimilarityOps.indexIsStale(survivors.union(late), "vec_id", r))
      // k covers every stored row: 99 is served, 1 is not
      val hits = SimilarityOps.indexSearch(vecs.where(col("vec_id") === 0),
          r, "vec_id", "embedding", k = 41, nProbe = 2).collect()
        .map(_.getAs[Long]("neighbor_id")).toSet
      assert(hits === (2L until 40L).toSet + 99L, s"vecCol = $vecCol")
    }
  }

  private def bmCorpus = Seq(
    (0L, "spark joins data with hash joins"),
    (1L, "hash tables back the join"),
    (2L, "completely unrelated prose here"),
    (3L, "spark spark spark"),
    (4L, "the quick brown fox"),
    (5L, "join join hash spark"),
    (6L, "spark hash join spark hash")).toDF("doc_id", "text")

  test("invertedIndexDelete: merge-on-read search equals a fresh build" +
      " over the surviving corpus; census subtractive; compact equal" +
      " and drops the sidecar") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmdel")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    TextOps.invertedIndexDelete(bmCorpus.where(col("doc_id") % 3 === 0),
      "doc_id", root)
    val terms = Seq("spark", "join", "hash")
    val got = TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3))).toSeq
    // oracle: a FRESH index over the surviving docs — idf/avgdl/n_docs
    // must all reflect the post-delete corpus for this to match
    val root2 = java.nio.file.Files.createTempDirectory("graft_bmdel2")
      .toString + "/idx"
    val surviving = bmCorpus.where(col("doc_id") % 3 =!= 0)
    TextOps.invertedIndexWrite(surviving, "doc_id", "text", root2,
      nBuckets = 16)
    val want = TextOps.bm25SearchIndexed(spark, root2, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3))).toSeq
    assert(got === want)
    // census went subtractive with the delete
    assert(!TextOps.invertedIndexIsStale(surviving, "doc_id", root))
    assert(TextOps.invertedIndexIsStale(bmCorpus, "doc_id", root))
    // compaction: physically removes the doomed postings, search
    // row-identical, sidecar gone, census untouched
    TextOps.invertedIndexCompact(spark, root)
    assert(!new java.io.File(s"$root/deletes").exists())
    assert(spark.read.parquet(s"$root/postings")
      .where(col("doc_id") % 3 === 0).count() === 0)
    assert(spark.read.parquet(s"$root/doclens")
      .where(col("doc_id") % 3 === 0).count() === 0)
    val gotC = TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3))).toSeq
    assert(gotC === want)
    assert(!TextOps.invertedIndexIsStale(surviving, "doc_id", root))
    // compacting with no sidecar is a no-op
    TextOps.invertedIndexCompact(spark, root)
    assert(TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3))).toSeq === want)
  }

  test("invertedIndexDelete is idempotent: duplicate ids in a batch, a" +
      " re-deleted subset, an overlapping batch and a never-indexed id" +
      " retire each indexed doc once; a fully repeated batch commits" +
      " nothing; searches equal a fresh build over the survivors") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmidem")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    def del(ids: Long*): Unit =
      TextOps.invertedIndexDelete(ids.toDF("doc_id"), "doc_id", root)
    def version = graft.sources.IndexCommits.currentVersion(spark, root)
    del(0, 3, 3) // duplicates inside one batch
    val v = version
    del(3) // every id already recorded: no commit
    assert(version === v)
    del(3, 5, 5) // overlaps the recorded ids
    assert(version === v.map(_ + 1))
    val doomed = Seq(0L, 3L, 5L)
    assert(graft.sources.IndexCommits.pendingDeletes(spark,
      graft.sources.IndexCommits.readEntries(spark, root)) === doomed.size)
    // a never-indexed id beside a recorded one leaves the census alone
    del(5, 99)
    val survivors = bmCorpus.where(!col("doc_id").isin(doomed: _*))
    assert(!TextOps.invertedIndexIsStale(survivors, "doc_id", root))
    assert(TextOps.invertedIndexIsStale(bmCorpus, "doc_id", root))
    val fresh = java.nio.file.Files.createTempDirectory("graft_bmidem2")
      .toString + "/idx"
    TextOps.invertedIndexWrite(survivors, "doc_id", "text", fresh,
      nBuckets = 16)
    val terms = Seq("spark", "join", "hash")
    def search(r: String) = TextOps.bm25SearchIndexed(spark, r, terms,
      k = 10).collect().toSeq
    assert(search(root).nonEmpty)
    assert(search(root) === search(fresh))
    def batch(r: String) = TextOps.bm25SearchIndexedBatch(spark, r,
      Seq(1L -> terms, 2L -> Seq("quick", "hash")), k = 10)
      .collect().map(_.toString).toSeq.sorted
    assert(batch(root) === batch(fresh))
  }

  test("invertedIndexCompact rewrites only doomed-posting buckets") {
    def bucketOf(t: String) =
      java.lang.Math.floorMod(TextOps.polyHashFn(t), 16L)
    // doc 4 is the only doc with these terms: its buckets are the only
    // buckets any doomed posting lives in
    val doomedBuckets = Seq("quick", "brown", "fox", "the").map(bucketOf)
      .toSet
    // a pending log doc whose postings route to buckets without a
    // doomed posting: they move in beside those buckets' own files
    val lateTerms = Seq("spark", "hash", "join", "data", "tables")
      .filterNot(t => doomedBuckets(bucketOf(t))).take(2)
    assert(lateTerms.nonEmpty)
    val late = Seq((7L, lateTerms.mkString(" "))).toDF("doc_id", "text")
    def bucketFiles(root: String): Set[(String, Long, Long)] =
      listFiles(s"$root/postings").map { case (p, mtime) =>
        (p, "bucket=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong, mtime)
      }.toSet
    for (pendingLog <- Seq(false, true)) {
      val root = java.nio.file.Files.createTempDirectory("graft_bmcmp")
        .toString + "/idx"
      TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
        nBuckets = 16)
      if (pendingLog)
        TextOps.invertedIndexAppend(late, "doc_id", "text", root)
      TextOps.invertedIndexDelete(bmCorpus.where(col("doc_id") === 4),
        "doc_id", root)
      val before = bucketFiles(root)
      TextOps.invertedIndexCompact(spark, root)
      val after = bucketFiles(root)
      val untouchedBefore = before.filterNot(f => doomedBuckets(f._2))
      val untouchedAfter = after.filterNot(f => doomedBuckets(f._2))
      // untouched buckets keep their files: same paths, same mtimes
      assert(untouchedBefore.subsetOf(untouchedAfter))
      assert(untouchedBefore.nonEmpty)
      val landed = untouchedAfter -- untouchedBefore
      if (!pendingLog) assert(landed.isEmpty)
      else {
        // the log doc's postings landed beside them, one file per
        // bucket, and nothing else did
        val lateBuckets = lateTerms.map(bucketOf).toSet
        assert(untouchedBefore.exists(f => lateBuckets(f._2)))
        assert(landed.toSeq.map(_._2).sorted === lateBuckets.toSeq.sorted)
        assert(spark.read.parquet(landed.map(_._1).toSeq: _*)
          .select("doc_id").distinct().collect().map(_.getLong(0)) ===
          Array(7L))
        val IC = graft.sources.IndexCommits
        val snap = IC.readEntries(spark, root)
        assert(IC.logOf(snap, "postings").isEmpty &&
          IC.logOf(snap, "doclens").isEmpty)
      }
      // touched buckets: fully rewritten, no pre-compaction file left
      val touchedBefore = before -- untouchedBefore
      val touchedAfter = after -- untouchedAfter
      assert(touchedBefore.nonEmpty)
      assert(touchedBefore.map(_._1).intersect(touchedAfter.map(_._1))
        .isEmpty)
    }
  }

  test("invertedIndexAppend rejects an already-indexed doc_id instead" +
      " of silently double-counting it") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmapp")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus.where(col("doc_id") < 4),
      "doc_id", "text", root, nBuckets = 16)
    // fresh docs append fine
    TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") >= 4),
      "doc_id", "text", root)
    assert(!TextOps.invertedIndexIsStale(bmCorpus, "doc_id", root))
    // re-appending doc 5 must fail fast, not double-count
    val e = intercept[IllegalArgumentException] {
      TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") === 5),
        "doc_id", "text", root)
    }
    assert(e.getMessage.contains("already indexed"))
    // and the failed append left the index serving correctly
    val terms = Seq("spark", "join", "hash")
    val root2 = java.nio.file.Files.createTempDirectory("graft_bmapp2")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root2,
      nBuckets = 16)
    assert(TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
      .collect().toSeq ===
      TextOps.bm25SearchIndexed(spark, root2, terms, k = 10)
        .collect().toSeq)
  }

  test("append dup-guard lifecycle: a deleted doc_id stays rejected" +
      " until compact physically removes it, then re-appends cleanly") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmre")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    TextOps.invertedIndexDelete(bmCorpus.where(col("doc_id") === 5),
      "doc_id", root)
    // deleted but not compacted: the postings still exist physically
    // (served invisible via the sidecar), so a re-append would be
    // anti-joined invisible too — the guard must reject it
    val e = intercept[IllegalArgumentException] {
      TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") === 5),
        "doc_id", "text", root)
    }
    assert(e.getMessage.contains("already indexed"))
    TextOps.invertedIndexCompact(spark, root)
    // post-compact the id is legally new again: re-append, and the
    // index must serve exactly like a fresh build over the full corpus
    TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") === 5),
      "doc_id", "text", root)
    assert(!TextOps.invertedIndexIsStale(bmCorpus, "doc_id", root))
    val terms = Seq("spark", "join", "hash")
    val root2 = java.nio.file.Files.createTempDirectory("graft_bmre2")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root2,
      nBuckets = 16)
    assert(TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq ===
      TextOps.bm25SearchIndexed(spark, root2, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq)
  }

  test("bm25SearchIndexedBatch: each query's rows float-identical to" +
      " its single-query search; one postings scan serves the batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmbat")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    val batch = Seq(
      7L -> Seq("spark", "join", "hash"),
      8L -> Seq("quick", "brown", "fox"),
      9L -> Seq("unrelated", "prose", "zzz"))
    val got = TextOps.bm25SearchIndexedBatch(spark, root, batch, k = 10)
    for ((qid, terms) <- batch) {
      val per = got.where(col("query_id") === qid)
        .select("doc_id", "dl", "n_terms_matched", "bm25", "bm_rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getDouble(3), r.getInt(4))).sortBy(_._5).toSeq
      val single = TextOps.bm25SearchIndexed(spark, root, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getDouble(3))).toSeq
      assert(per.map(t => (t._1, t._2, t._3, t._4)) === single,
        s"query $qid")
      assert(per.map(_._5) === (1 to per.length).toSeq)
    }
    // one postings scan in the whole plan
    val scans = got.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("postings")) => f
    }
    assert(scans.length === 1)
    // deletes honored identically in the batched path
    TextOps.invertedIndexDelete(bmCorpus.where(col("doc_id") === 5),
      "doc_id", root)
    val gotD = TextOps.bm25SearchIndexedBatch(spark, root,
      batch.take(1), k = 10)
    val singleD = TextOps.bm25SearchIndexed(spark, root,
      batch.head._2, k = 10)
    assert(gotD.select("doc_id", "bm25").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq ===
      singleD.select("doc_id", "bm25").collect().map(r =>
        (r.getLong(0), r.getDouble(1))).toSeq)
    assert(gotD.where(col("doc_id") === 5).count() === 0)
  }

  test("serving plans touch nothing corpus-sized: no doclens scan in" +
      " either BM25 path; ANN reads only the probed list directories") {
    val bmRoot = java.nio.file.Files.createTempDirectory("graft_plbm")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", bmRoot,
      nBuckets = 16)
    def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    // the doc length rides the posting row: serving must never scan
    // the doclens table (it exists for maintenance only)
    val single = scanRoots(TextOps.bm25SearchIndexed(spark, bmRoot,
      Seq("spark", "join"), k = 5))
    assert(single.nonEmpty && !single.exists(_.contains("doclens")),
      s"single-query serving scans: $single")
    val batch = scanRoots(TextOps.bm25SearchIndexedBatch(spark, bmRoot,
      Seq(0L -> Seq("spark", "join"), 1L -> Seq("hash")), k = 5))
    assert(batch.nonEmpty && !batch.exists(_.contains("doclens")),
      s"batch serving scans: $batch")
    // ANN: the stored-index search plans its read from the PROBED
    // list_id= directories only — planning cost rides |probed|, not K
    val annRoot = java.nio.file.Files.createTempDirectory("graft_plann")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs, "vec_id", "embedding", annRoot,
      k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    val queries = vecs.where(col("vec_id") < 4 && col("vec_id") % 2 === 0)
    val ann = scanRoots(SimilarityOps.indexSearch(queries, annRoot,
      "vec_id", "embedding", k = 3, nProbe = 1))
    val vecRoots = ann.filter(_.contains("/vectors"))
    assert(vecRoots.nonEmpty && vecRoots.forall(_.contains("list_id=")),
      s"vectors read lists the whole store, not the probed dirs: $ann")
  }

  /** Both indexed searches of `root`, rows as collected (raw doubles). */
  private def bmServed(root: String): (Seq[org.apache.spark.sql.Row],
                                       Seq[org.apache.spark.sql.Row]) = {
    val terms = Seq("spark", "join", "hash")
    (TextOps.bm25SearchIndexed(spark, root, terms, k = 10).collect().toSeq,
      TextOps.bm25SearchIndexedBatch(spark, root,
          Seq(1L -> terms, 2L -> Seq("quick", "hash", "fox")), k = 10)
        .orderBy("query_id", "bm_rank").collect().toSeq)
  }

  /** A fresh one-shot build over `docs`, and its searches. */
  private def bmFresh(docs: org.apache.spark.sql.DataFrame) = {
    val root = java.nio.file.Files.createTempDirectory("graft_bmfresh")
      .toString + "/idx"
    TextOps.invertedIndexWrite(docs, "doc_id", "text", root, nBuckets = 16)
    bmServed(root)
  }

  test("BM25 appends land as log segments: after each of 17 direct and" +
      " sink appends both searches are float-identical to a fresh build" +
      " over the union; the log never holds more than 16 segments per" +
      " kind; compact folds it and equals a fresh build over the" +
      " survivors") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmlog")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    val words = Seq("spark", "join", "hash", "quick", "fox", "data")
    val extra = (0 until 17).map { i =>
      (100L + i, Seq.tabulate(1 + i % 4)(j => words((i + 2 * j) % 6))
        .mkString(" "))
    }
    val IC = graft.sources.IndexCommits
    def log(kind: String) = IC.logOf(IC.readEntries(spark, root), kind)
    for (((id, text), i) <- extra.zipWithIndex) {
      val df = Seq((id, text)).toDF("doc_id", "text")
      if (i % 2 == 0) TextOps.invertedIndexAppend(df, "doc_id", "text", root)
      else graft.streaming.StreamingOps.invertedIndexAppendSink(
        "doc_id", "text", root)(df, i.toLong)
      val n = i + 1
      // one segment per kind per append; the 16th folds inline
      assert(log("postings").size === n % 16, s"after append $n")
      assert(log("doclens").size === n % 16, s"after append $n")
      assert(log("postings").forall(_.contains("/applog/postings/")))
      val union = bmCorpus.union(extra.take(n).toDF("doc_id", "text"))
      assert(bmServed(root) === bmFresh(union), s"after append $n")
    }
    val all = bmCorpus.union(extra.toDF("doc_id", "text"))
    assert(!TextOps.invertedIndexIsStale(all, "doc_id", root))
    // doom a base doc, a folded doc and the unfolded one
    val doomed = Seq(3L, 105L, 116L)
    TextOps.invertedIndexDelete(doomed.toDF("doc_id"), "doc_id", root)
    TextOps.invertedIndexCompact(spark, root)
    val after = IC.readEntries(spark, root)
    assert(after.forall(_.partId.isDefined), after.mkString(", "))
    val survivors = all.where(!col("doc_id").isin(doomed: _*))
    assert(bmServed(root) === bmFresh(survivors))
    assert(!TextOps.invertedIndexIsStale(survivors, "doc_id", root))
  }

  test("a BM25 log segment written but never committed stays invisible" +
      " to both searches and is vacuumed by the next maintain") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmorph")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus.where(col("doc_id") < 5),
      "doc_id", "text", root, nBuckets = 16)
    TextOps.invertedIndexAppend(bmCorpus.where(col("doc_id") >= 5),
      "doc_id", "text", root)
    val served = bmServed(root)
    assert(served === bmFresh(bmCorpus))
    // simulated crash: a second append of the same rows wrote its
    // segments, then died before the pointer swap — were the copies
    // visible, docs 5 and 6 would double-count
    val IC = graft.sources.IndexCommits
    val snap = IC.readEntries(spark, root)
    val orphans = Seq("postings", "doclens").map { kind =>
      val seg = java.nio.file.Paths.get(IC.logOf(snap, kind).head)
      val copy = seg.resolveSibling("part-99999-orphan.c000.zstd.parquet")
      java.nio.file.Files.copy(seg, copy)
      copy.toFile
    }
    assert(bmServed(root) === served)
    TextOps.invertedIndexDelete(Seq(1L).toDF("doc_id"), "doc_id", root)
    assert(TextOps.invertedIndexMaintain(spark, root,
      compactDeletedFraction = 0.1))
    assert(orphans.forall(!_.exists()))
    assert(bmServed(root) ===
      bmFresh(bmCorpus.where(col("doc_id") =!= 1)))
  }

  test("invertedIndexMaintain folds a log left at the 16-segment bound" +
      " by an append that committed and died before its inline fold") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmfold")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    val words = Seq("spark", "join", "hash", "quick", "fox", "data")
    val extra = (0 until 16).map(i =>
      (100L + i, s"${words(i % 6)} ${words((i + 3) % 6)}"))
    // 15 appends, the first carrying two docs: 15 segments per kind
    TextOps.invertedIndexAppend(extra.take(2).toDF("doc_id", "text"),
      "doc_id", "text", root)
    extra.drop(2).foreach(d => TextOps.invertedIndexAppend(
      Seq(d).toDF("doc_id", "text"), "doc_id", "text", root))
    val IC = graft.sources.IndexCommits
    val snap = IC.readEntries(spark, root)
    // split the two-doc segment of each kind into one file per doc: the
    // same rows in 16 segments, the state an append leaves when it
    // commits the 16th segment and dies before folding
    val (olds, splits) = Seq("postings", "doclens").map { kind =>
      val seg = IC.logOf(snap, kind).find(f =>
        spark.read.parquet(f).select("doc_id").distinct().count() == 2).get
      val rows = spark.read.parquet(seg)
      seg -> Seq(100L, 101L).map { id =>
        val tmp = java.nio.file.Files.createTempDirectory("graft_split")
        rows.where(col("doc_id") === id).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles().find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val file = s"${seg.substring(0, seg.lastIndexOf('/'))}/" +
          s"part-split-$id.parquet"
        java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(file))
        IC.Entry(kind, None, file)
      }
    }.unzip
    IC.commit(spark, root,
      snap.filterNot(e => olds.contains(e.file)) ++ splits.flatten)
    def log(kind: String) = IC.logOf(IC.readEntries(spark, root), kind)
    assert(log("postings").size === 16 && log("doclens").size === 16)
    val union = bmCorpus.union(extra.toDF("doc_id", "text"))
    val fresh = bmFresh(union)
    assert(bmServed(root) === fresh)
    // no deletes pending: the log bound alone makes maintain fold
    assert(TextOps.invertedIndexMaintain(spark, root))
    assert(log("postings").isEmpty && log("doclens").isEmpty)
    assert(bmServed(root) === fresh)
    assert(!TextOps.invertedIndexIsStale(union, "doc_id", root))
    assert(!TextOps.invertedIndexMaintain(spark, root))
  }

  test("invertedIndexDelete records only indexed ids: a never-indexed" +
      " id is not pending, leaves the census alone, and a later append" +
      " of it is served, not hidden") {
    val root = java.nio.file.Files.createTempDirectory("graft_bmnever")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 16)
    TextOps.invertedIndexDelete(Seq(1L, 99L).toDF("doc_id"), "doc_id", root)
    val IC = graft.sources.IndexCommits
    assert(IC.pendingDeletes(spark, IC.readEntries(spark, root)) === 1)
    val survivors = bmCorpus.where(col("doc_id") =!= 1)
    assert(!TextOps.invertedIndexIsStale(survivors, "doc_id", root))
    val late = Seq((99L, "hash join spark")).toDF("doc_id", "text")
    TextOps.invertedIndexAppend(late, "doc_id", "text", root)
    val hit = TextOps.bm25SearchIndexed(spark, root,
      Seq("spark", "join", "hash"), k = 10)
    assert(hit.where(col("doc_id") === 99).count() === 1)
    assert(bmServed(root) === bmFresh(survivors.union(late)))
  }

  test("BPE merge table round-trips storage: bpeApply from mergesRead" +
      " is token-identical to the in-memory table") {
    val docs = Seq(
      (0L, "banana bandana"),
      (1L, "an analog banana"),
      (2L, "nan nan nan")).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(docs, "text", nMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("sym_left"), r.getAs[String]("sym_right")))
      .toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_mrg")
      .toString + "/merges"
    TextOps.mergesWrite(merges, spark, path)
    assert(TextOps.mergesRead(spark, path) === merges)
    val mem = TextOps.bpeApply(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSeq.sorted
    val stored = TextOps.bpeApply(docs, "doc_id", "text",
        TextOps.mergesRead(spark, path))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSeq.sorted
    assert(stored === mem)
  }
}
