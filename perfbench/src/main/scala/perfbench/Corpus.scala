package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One retrieval item: a document with its embedding, sharing one id. */
final case class Item(id: Long, vec: Array[Double], text: String)

/** Seeded generator of the retrieval corpus: clustered 64-d vectors and
  * documents over a Zipf vocabulary with a few rare terms. Every item
  * is a pure function of (seed, id), so a model can regenerate any of
  * them.
  */
final class Corpus(seed: Long, clusters: Int) {
  val Dim = 64
  val Vocab = 4000
  val RareTerms = 64
  private val ZipfS = 1.1

  private val centers: Array[Array[Double]] = {
    val r = new java.util.Random(seed)
    Array.fill(clusters)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
  }

  private val zipfCdf: Array[Double] = {
    val w = (1 to Vocab).map(k => 1.0 / math.pow(k, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def zipfWord(r: java.util.Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    s"w${if (i >= 0) i else math.min(-i - 1, Vocab - 1)}"
  }

  private def rng(id: Long, salt: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + id * 1000003L + salt)

  private def vector(r: java.util.Random): Array[Double] = {
    val c = centers(r.nextInt(clusters))
    Array.tabulate(Dim)(d => c(d) + r.nextGaussian() * 0.15)
  }

  def item(id: Long): Item = {
    val r = rng(id, 1)
    val vec = vector(r)
    val len = 12 + r.nextInt(19)
    val words = Array.fill(len)(
      if (r.nextDouble() < 0.004) rareTerm(r) else zipfWord(r))
    Item(id, vec, words.mkString(" "))
  }

  /** A query vector drawn from the same clusters as the corpus. */
  def queryVector(qid: Long): Array[Double] = vector(rng(qid, 2))

  /** One of the 40 most frequent words. */
  def commonTerm(r: java.util.Random): String = s"w${r.nextInt(40)}"

  def rareTerm(r: java.util.Random): String = s"r${r.nextInt(RareTerms)}"

  /** 1 to 3 distinct query terms, each common or rare. */
  def queryTerms(r: java.util.Random): Seq[String] =
    Iterator.continually(
      if (r.nextDouble() < 0.6) commonTerm(r) else rareTerm(r))
      .distinct.take(1 + r.nextInt(3)).toSeq
}

object Corpus {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false)),
    StructField("text", StringType)))

  def frame(spark: SparkSession, items: Seq[Item]): DataFrame = {
    val rows = new java.util.ArrayList[Row](items.length)
    items.foreach(it => rows.add(Row(it.id, it.vec.toSeq, it.text)))
    spark.createDataFrame(rows, Schema)
  }

  val QuerySchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  def queries(spark: SparkSession, qs: Seq[(Long, Array[Double])]): DataFrame = {
    val rows = new java.util.ArrayList[Row](qs.length)
    qs.foreach { case (q, v) => rows.add(Row(q, v.toSeq)) }
    spark.createDataFrame(rows, QuerySchema)
  }

  /** User bytes of an item: id, vector and UTF-8 text. */
  def userBytes(it: Item): Long =
    8L + 8L * it.vec.length + it.text.getBytes("UTF-8").length
}

/** Recursive delete of a benchmark directory. */
object Dirs {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
