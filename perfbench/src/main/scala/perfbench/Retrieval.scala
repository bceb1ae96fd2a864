package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{SimilarityOps, TextOps}

/** The three request types against the stored indexes, and the
  * full-scan answers each must equal. Rows are (query, id, score) in
  * rank order.
  */
object Retrieval {
  type Ranked = Seq[(Long, Long, Double)]
  val RrfK = 60

  private def rankedDense(df: DataFrame): Ranked =
    df.select("query_id", "neighbor_id", "adc", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4)).map(r => (r._1, r._2, r._3))

  /** Stored-index ANN search (IVF probe + PQ scoring). */
  def dense(queries: DataFrame, annRoot: String, k: Int, nProbe: Int): Ranked =
    rankedDense(SimilarityOps.indexSearch(queries, annRoot, "qid", "vec",
      k = k, nProbe = nProbe))

  /** The same search as an in-memory IVF-PQ over `corpus`, with the
    * store's own trained centroids and codebooks.
    */
  def denseExpected(queries: DataFrame, corpus: DataFrame, annRoot: String,
                    k: Int, nProbe: Int): Ranked = {
    val spark = queries.sparkSession
    rankedDense(SimilarityOps.ivfPqTopKWith(queries, corpus, "qid", "doc_id",
      "vec", k, SimilarityOps.readIndexCentroids(spark, annRoot),
      SimilarityOps.readIndexCodebooks(spark, annRoot), nProbe))
  }

  private def rankedSparse(df: DataFrame): Ranked =
    df.select("doc_id", "bm25").collect().toSeq
      .map(r => (0L, r.getLong(0), r.getDouble(1)))

  /** Indexed BM25 over the stored postings. */
  def sparse(spark: SparkSession, bmRoot: String, terms: Seq[String], k: Int): Ranked =
    rankedSparse(TextOps.bm25SearchIndexed(spark, bmRoot, terms, k))

  /** Full-scan BM25 over the documents themselves. */
  def sparseExpected(corpus: DataFrame, terms: Seq[String], k: Int): Ranked =
    rankedSparse(TextOps.bm25TopK(corpus, "doc_id", "text", terms, k))

  /** Reciprocal-rank fusion of a dense and a sparse leg per query,
    * served from the two stores in one plan.
    */
  def hybrid(queries: DataFrame, terms: Seq[(Long, Seq[String])],
             annRoot: String, bmRoot: String, depth: Int, k: Int): Ranked = {
    val spark = queries.sparkSession
    val cos = SimilarityOps.indexSearch(queries, annRoot, "qid", "vec",
        k = depth, nProbe = 2)
      .select(col("query_id"), col("neighbor_id").as("id"),
        col("rank").as("cos_rank"))
    val bm = TextOps.bm25SearchIndexedBatch(spark, bmRoot, terms, k = depth)
      .select(col("query_id"), col("doc_id").as("id"), col("bm_rank"))
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("id"))
    bm.join(cos, Seq("query_id", "id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("bm_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("cos_rank")), lit(0.0)))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select("query_id", "id", "rrf", "_rn").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4)).map(r => (r._1, r._2, r._3))
  }

  /** The fusion recomputed from the two full-scan legs. */
  def hybridExpected(queries: DataFrame, terms: Seq[(Long, Seq[String])],
                     corpus: DataFrame, annRoot: String, depth: Int,
                     k: Int): Ranked = {
    val cos = denseExpected(queries, corpus, annRoot, depth, 2)
    terms.sortBy(_._1).flatMap { case (q, ts) =>
      val bmRank = sparseExpected(corpus, ts, depth).map(_._2).zipWithIndex
        .map { case (id, i) => id -> (i + 1) }.toMap
      val cosRank = cos.filter(_._1 == q).map(_._2).zipWithIndex
        .map { case (id, i) => id -> (i + 1) }.toMap
      (bmRank.keySet ++ cosRank.keySet).toSeq.map { id =>
        val a = bmRank.get(id).map(r => 1.0 / (RrfK + r)).getOrElse(0.0)
        val b = cosRank.get(id).map(r => 1.0 / (RrfK + r)).getOrElse(0.0)
        (q, id, a + b)
      }.sortBy(r => (-r._3, r._2)).take(k)
    }
  }
}
