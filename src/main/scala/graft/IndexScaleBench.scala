package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{SimilarityOps, TextOps}

/** Index-lifecycle 100x rehearsal (round-16 verdict item 3): the
  * persisted-index family is the only one without a 100x row, so this
  * harness runs the WHOLE lifecycle — build once / serve many / append
  * / delete / compact — at 1x (sf0.1: 2k vectors, 5k docs), 10x
  * (/tmp/graft_sf1) and 100x (/tmp/graft_sf10: 200k vectors, 500k
  * docs), recording per scale:
  *
  *   ANN   build wall (train-2-Lloyd + PQ + partitioned code table),
  *         search wall + probed rows/bytes at FIXED K (the honest
  *         slope: probed volume rides corpus) and at K SCALED with
  *         the corpus (the 100 TB operating point: per-list volume
  *         flat, so search wall and probed bytes should be ~flat —
  *         the sub-linear claim, measured),
  *         append wall for a FIXED-size delta (must ride the delta),
  *         delete + compact wall for a FIXED doomed set (compact must
  *         ride doomed-LIST volume — rewritten partitions / total
  *         partitions is recorded to prove the surgery stays surgical)
  *   BM25  build wall, indexed search wall + probed buckets/rows/bytes
  *         vs the full-scan bm25TopK wall (the gap the index exists
  *         to open), append wall for a fixed delta (rides the delta +
  *         one doclens-column dup-guard scan, disclosed)
  *   HYBRID batch serve wall from the two stored indexes (3 dense +
  *         3 sparse queries, one pruned scan per leg)
  *
  * `sbt "runMain graft.IndexScaleBench"` -> one JSON line +
  * BENCH_sf10_r19.json in the CWD. Run on a QUIET machine (the r14/r15
  * lesson: overlapping sbt builds inflate walls 2-4x).
  */
object IndexScaleBench {

  private def jnum(d: Double): String =
    (math.floor(d * 1000) / 1000).toString

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** min-of-2 wall for a served read (2nd run is codegen-warm). */
  private def serveWall(df: => DataFrame): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }.min

  private def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pid = ProcessHandle.current().pid()
    val scales = Seq(
      ("1x", "/root/testdata/sf0.1", 1),
      ("10x", "/tmp/graft_sf1", 10),
      ("100x", "/tmp/graft_sf10", 100))
    val terms = Seq("spark", "join", "hash")
    val sparseBatch = Seq(
      0L -> terms,
      1L -> Seq("scan", "filter", "merge"),
      2L -> Seq("stream", "batch", "window"))
    // fixed-size deltas/doomed sets across scales, id-disjoint from
    // every replica offset the amplifier uses (i * 1e9, i < 100)
    val DeltaOff = 777L * 1000000000L

    val recs = scales.map { case (tag, dir, mult) =>
      // the amplified dirs are written 4-files-per-table; repartition
      // to the executor width so the O(K x d x N) training scans use
      // every core — on a real cluster the store would already be laid
      // out at executor parallelism
      val par = spark.sparkContext.defaultParallelism
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .repartition(par).localCheckpoint(true)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .repartition(par).localCheckpoint(true)
      val queries = emb.where(col("vec_id") < 3)
      val kFixed = 16
      val kScaled = 16 * mult

      def annScenario(k: Int, label: String): (String, String) = {
        val root = s"/tmp/graft_isb_${pid}_${tag}_$label"
        val (_, buildS) = timed {
          SimilarityOps.indexWrite(emb, "vec_id", "embedding", root,
            k = k, iters = 2, m = 8, dsub = 8, ksub = 16)
        }
        val cents = SimilarityOps.readIndexCentroids(spark, root)
        val probed = queries
          .select(explode(graft.functions.ProbeListIds(
            col("embedding").cast("array<double>"), cents, 2))
            .as("list_id"))
          .distinct().collect().map(_.getLong(0))
        val probedRows = spark.read.parquet(s"$root/vectors")
          .where(col("list_id").isin(probed: _*)).count()
        val probedBytes = probed.map(l =>
          dirBytes(spark, s"$root/vectors/list_id=$l")).sum
        val searchS = serveWall(SimilarityOps.indexSearch(queries, root,
          "vec_id", "embedding", k = 5, nProbe = 2))
        (root,
          s""""build_s":${jnum(buildS)},"search_s":${jnum(searchS)},""" +
            s""""probed_rows":$probedRows,"probed_bytes":$probedBytes""")
      }

      val (_, fixedJson) = annScenario(kFixed, "fk")
      val (rootScaled, scaledJson) = annScenario(kScaled, "sk")

      // append a FIXED delta (the 1x corpus, id-offset) to the scaled-K
      // index: wall must ride the delta, never the accumulated index
      val delta = Tables.embeddings(spark, "/root/testdata/sf0.1")
        .select((col("vec_id").cast("long") + lit(DeltaOff)).as("vec_id"),
          col("embedding"))
      val (_, appendS) = timed {
        SimilarityOps.indexAppend(delta, "vec_id", "embedding", rootScaled)
      }
      // the LSM ingest path: a second fixed-size delta lands as ONE
      // segment file (no per-directory commits), then flush folds it —
      // buffered wall must be FLAT across scales; flush pays the
      // directory commits once for the whole log
      val delta2 = Tables.embeddings(spark, "/root/testdata/sf0.1")
        .select((col("vec_id").cast("long") + lit(2 * DeltaOff))
          .as("vec_id"), col("embedding"))
      val (_, bufAppendS) = timed {
        SimilarityOps.indexAppend(delta2, "vec_id", "embedding",
          rootScaled, buffered = true)
      }
      val (_, flushS) = timed {
        SimilarityOps.indexFlush(spark, rootScaled)
      }
      // delete a FIXED doomed set (50 original ids, embeddings present
      // so each records its list_id), then compact: the rewrite must
      // touch only the doomed lists — flat cost while the corpus grows
      val doomed = emb.where(col("vec_id") < 50)
      val (_, deleteS) = timed {
        SimilarityOps.indexDelete(doomed, "vec_id", rootScaled,
          vecCol = "embedding")
      }
      val doomedLists = spark.read.parquet(s"$rootScaled/deletes")
        .select("list_id").distinct().count()
      val fsP = new org.apache.hadoop.fs.Path(s"$rootScaled/vectors")
      val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val totalParts = fs.listStatus(fsP)
        .count(s => s.isDirectory && s.getPath.getName.startsWith("list_id="))
      val (_, compactS) = timed {
        SimilarityOps.indexCompact(spark, rootScaled)
      }
      val postCompactRows = spark.read.parquet(s"$rootScaled/vectors").count()

      // ---- BM25 ----
      val bmRoot = s"/tmp/graft_isb_${pid}_${tag}_bm"
      val (_, bmBuildS) = timed {
        TextOps.invertedIndexWrite(docs, "doc_id", "text", bmRoot)
      }
      val nBuckets = 64
      val probedBuckets = terms.map(t => java.lang.Math.floorMod(
        TextOps.polyHashFn(t), nBuckets.toLong)).distinct
      val bmProbedRows = spark.read.parquet(s"$bmRoot/postings")
        .where(col("bucket").isin(probedBuckets: _*) &&
          col("term").isin(terms: _*)).count()
      val bmProbedBytes = probedBuckets.map(b =>
        dirBytes(spark, s"$bmRoot/postings/bucket=$b")).sum
      val bmSearchS = serveWall(
        TextOps.bm25SearchIndexed(spark, bmRoot, terms, k = 25))
      val bmFullS = serveWall(
        TextOps.bm25TopK(docs, "doc_id", "text", terms, k = 25))
      // selective query: the fixture's one rare term — the shape the
      // index exists for (cost = its short posting list; the full
      // scan still reads every document)
      val rare = Seq("dup")
      val rareRows = spark.read.parquet(s"$bmRoot/postings")
        .where(col("term").isin(rare: _*)).count()
      val bmRareS = serveWall(
        TextOps.bm25SearchIndexed(spark, bmRoot, rare, k = 25))
      val bmRareFullS = serveWall(
        TextOps.bm25TopK(docs, "doc_id", "text", rare, k = 25))
      val bmDelta = Tables.documents(spark, "/root/testdata/sf0.1")
        .select((col("doc_id").cast("long") + lit(DeltaOff)).as("doc_id"),
          col("text"))
      val (_, bmAppendS) = timed {
        TextOps.invertedIndexAppend(bmDelta, "doc_id", "text", bmRoot)
      }

      // ---- hybrid batch serve from the two stored indexes ----
      val hybridS = serveWall {
        import org.apache.spark.sql.expressions.Window
        val cos = SimilarityOps.indexSearch(emb.where(col("vec_id") < 3),
            rootScaled, "vec_id", "embedding", k = 50, nProbe = 2)
          .select(col("query_id"), col("neighbor_id").as("id"),
            col("rank").as("cos_rank"))
        val bm = TextOps.bm25SearchIndexedBatch(spark, bmRoot,
            sparseBatch, k = 50)
          .select(col("query_id"), col("doc_id").as("id"), col("bm_rank"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("id"))
        bm.join(cos, Seq("query_id", "id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("bm_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0)))
          .withColumn("_rn", row_number().over(w))
          .where(col("_rn") <= 20)
      }

      val nVec = emb.count(); val nDoc = docs.count()
      (tag, mult,
        s""""$tag":{"corpus_vectors":$nVec,"corpus_docs":$nDoc,""" +
          s""""ann_fixedK":{"k":$kFixed,$fixedJson},""" +
          s""""ann_scaledK":{"k":$kScaled,$scaledJson},""" +
          s""""ann_append":{"delta_rows":${delta.count()},""" +
          s""""append_s":${jnum(appendS)},""" +
          s""""buffered_append_s":${jnum(bufAppendS)},""" +
          s""""flush_s":${jnum(flushS)}},""" +
          s""""ann_delete_compact":{"doomed_rows":50,""" +
          s""""delete_s":${jnum(deleteS)},"compact_s":${jnum(compactS)},""" +
          s""""rewritten_partitions":$doomedLists,""" +
          s""""total_partitions":$totalParts,""" +
          s""""post_compact_rows":$postCompactRows},""" +
          s""""bm25":{"build_s":${jnum(bmBuildS)},""" +
          s""""search_s":${jnum(bmSearchS)},""" +
          s""""fullscan_s":${jnum(bmFullS)},""" +
          s""""probed_buckets":${probedBuckets.length},""" +
          s""""probed_rows":$bmProbedRows,""" +
          s""""probed_bytes":$bmProbedBytes,""" +
          s""""append_s":${jnum(bmAppendS)},""" +
          s""""selective":{"term":"dup","posting_rows":$rareRows,""" +
          s""""search_s":${jnum(bmRareS)},""" +
          s""""fullscan_s":${jnum(bmRareFullS)}}},""" +
          s""""hybrid_serve_s":${jnum(hybridS)}}""")
    }

    val line =
      s"""{"metric":"index_lifecycle_scale","scales":{""" +
        recs.map(_._3).mkString(",") + "}}"
    val w = new java.io.PrintWriter("BENCH_sf10_r19.json")
    try w.println(line) finally w.close()
    spark.stop()
    println(line)
  }
}
