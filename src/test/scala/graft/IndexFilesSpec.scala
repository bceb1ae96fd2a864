package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.operators._
import graft.sources.{IndexCommits, IndexStore}

/** The one reader and the one writer of index data files
  * (graft.sources.IndexStore):
  *
  *   - building a routed read, the merge-on-read anti-join and a fold's
  *     or compaction's staging read submits no Spark job: each group's
  *     schema comes from one footer read on the driver, never from
  *     Spark's schema-inference job;
  *   - per file group (part files, log segments, the delete sidecar,
  *     nothing picked) the reader returns the schema and rows
  *     `spark.read.parquet` returns;
  *   - a read of a kind the snapshot holds no file of fails naming the
  *     root and the kind;
  *   - a buffered ANN append's segment is sorted by list_id, like every
  *     log segment.
  */
class IndexFilesSpec extends SparkSpec {
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

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  /** An ANN store holding part files, one unfolded log segment and a
    * pending delete.
    */
  private def annStore(): String = {
    val root = tmpRoot("graft_iff_ann")
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 30), "vec_id",
      "embedding", root, k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30), "vec_id",
      "embedding", root, buffered = true)
    SimilarityOps.indexDelete(vecs.where(col("vec_id").isin(4, 33)),
      "vec_id", root)
    root
  }

  /** A BM25 store of the same shape. */
  private def bmStore(): String = {
    val root = tmpRoot("graft_iff_bm")
    val corpus = bmCorpus
    TextOps.invertedIndexWrite(corpus.where(col("doc_id") < 5), "doc_id",
      "text", root, nBuckets = 8)
    TextOps.invertedIndexAppend(corpus.where(col("doc_id") >= 5),
      "doc_id", "text", root)
    TextOps.invertedIndexDelete(corpus.where(col("doc_id") === 1),
      "doc_id", root)
    root
  }

  /** Rows as comparable values (binary cells by content), sorted. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.toSeq.map {
      case b: Array[Byte] => b.toSeq.mkString("[", ",", "]")
      case v              => String.valueOf(v)
    }.mkString("|")).sorted

  private def sameAs(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(rowsOf(got) === rowsOf(want))
  }

  test("building the routed read, the merge-on-read anti-join and the" +
      " staging reads of a fold and a compaction submits no Spark job") {
    val ann = annStore()
    val bm = bmStore()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val built = try {
      val annSnap = IndexStore.readEntries(spark, ann, SimilarityOps.AnnStore)
      val lists = annSnap.flatMap(_.partId).toSet
      assert(lists.nonEmpty &&
        IndexCommits.logOf(annSnap, "vectors").nonEmpty &&
        IndexCommits.filesOf(annSnap, "deletes").nonEmpty)
      val bmSnap = IndexStore.readEntries(spark, bm, TextOps.BmStore)
      val bmParts = bmSnap.filter(_.kind == "postings").flatMap(_.partId).toSet
      assert(bmParts.nonEmpty &&
        IndexCommits.logOf(bmSnap, "postings").nonEmpty &&
        IndexCommits.filesOf(bmSnap, "deletes").nonEmpty)
      val built = Seq(
        IndexStore.withoutDeleted(IndexStore.readRouted(spark, ann, annSnap,
          SimilarityOps.AnnStore, "vectors", lists).get, ann, annSnap,
          SimilarityOps.AnnStore, "vec_id"),
        IndexStore.stagedRows(spark, ann, annSnap, "vectors", Set.empty),
        IndexStore.stagedRows(spark, ann, annSnap, "vectors", lists.take(1)),
        IndexStore.withoutDeleted(IndexStore.readRouted(spark, bm, bmSnap,
          TextOps.BmStore, "postings", bmParts).get, bm, bmSnap,
          TextOps.BmStore, "doc_id"),
        IndexStore.stagedRows(spark, bm, bmSnap, "postings", Set.empty),
        IndexStore.stagedRows(spark, bm, bmSnap, "doclens", Set.empty))
      org.apache.spark.ListenerBusDrain.drain(sc)
      built
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0, s"${jobs.get} jobs ran while building the reads")
    // and they serve: the anti-joins drop the deleted ids
    val annIds = built.head.select("vec_id").as[Long].collect().toSet
    assert(annIds === (0L until 40L).toSet -- Set(4L, 33L))
    val bmIds = built(3).select("doc_id").as[Long].collect().toSet
    assert(bmIds === Set(0L, 2L, 3L, 4L, 5L, 6L))
    assert(built(1).count() === 10) // the whole log, one segment
  }

  test("per file group the reader returns spark.read.parquet's schema and" +
      " rows: parts (route key from the path, int), log segments (route" +
      " key a long column), the delete sidecar, parts plus log, none") {
    val root = annStore()
    val snap = IndexStore.readEntries(spark, root, SimilarityOps.AnnStore)
    val read = IndexStore.read(spark, root, snap, "vectors") _
    val partFiles = IndexCommits.partFilesOf(snap, "vectors")
    val log = IndexCommits.logOf(snap, "vectors")
    val parts = spark.read.option("basePath", s"$root/vectors")
      .parquet(partFiles: _*)
    val segments = spark.read.parquet(log: _*)
    sameAs(read(_.partId.isDefined), parts)
    assert(parts.schema("list_id").dataType === IntegerType)
    sameAs(read(_.partId.isEmpty), segments)
    assert(segments.schema("list_id").dataType === LongType)
    sameAs(read(_ => true), parts.unionByName(segments))
    sameAs(IndexStore.read(spark, root, snap, "deletes")(_ => true),
      spark.read.parquet(IndexCommits.filesOf(snap, "deletes"): _*))
    val none = read(_ => false)
    sameAs(none, spark.read.parquet(s"$root/vectors").where(lit(false)))
    assert(none.count() === 0)
  }

  test("a read of a kind the snapshot holds no file of fails naming the" +
      " root and the kind: a search after every vector was deleted and" +
      " compacted") {
    val root = tmpRoot("graft_iff_gone")
    val vecs = annVecs.where(col("vec_id") < 20)
    SimilarityOps.indexWrite(vecs, "vec_id", "embedding", root, k = 2,
      iters = 2, m = 8, dsub = 8, ksub = 4)
    SimilarityOps.indexDelete(vecs, "vec_id", root)
    SimilarityOps.indexCompact(spark, root)
    assert(IndexCommits.readEntries(spark, root).isEmpty)
    val msg = intercept[IllegalStateException](SimilarityOps.indexSearch(
      vecs.where(col("vec_id") === 0), root, "vec_id", "embedding", k = 3,
      nProbe = 1)).getMessage
    assert(msg.contains(root) && msg.contains("'vectors'"), msg)
  }

  test("a buffered ANN append writes its segment sorted by list_id") {
    val root = tmpRoot("graft_iff_sort")
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 20), "vec_id",
      "embedding", root, k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    // ids alternate between the two lists, so input order is unsorted
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 20), "vec_id",
      "embedding", root, buffered = true)
    val log = IndexCommits.logOf(IndexCommits.readEntries(spark, root),
      "vectors")
    assert(log.size === 1)
    val lists = spark.read.parquet(log.head).select("list_id").as[Long]
      .collect().toSeq
    assert(lists.size === 20 && lists.distinct.size === 2)
    assert(lists === lists.sorted)
  }
}
