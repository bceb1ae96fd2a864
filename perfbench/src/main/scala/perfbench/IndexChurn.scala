package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{SimilarityOps, TextOps}
import graft.sources.IndexCommits
import graft.streaming.StreamingOps

/** index_churn: the two index stores under continuous writes, serving
  * reads between them. Each tick appends a fixed-size delta to both
  * stores (the ANN half through two of the four ingest paths, the BM25
  * half through one of two, alternating by tick), deletes a seeded
  * share of the live ids from both, runs both maintain policies, and
  * serves two dense (1 and 8 queries), one sparse and one hybrid (RRF)
  * request. Each loop step is one operation. A model of the live ids
  * checks the answers.
  */
final class IndexChurn(cfg: Config) extends Workload {
  val Initial: Int = if (cfg.tiny) 300 else 1500
  /** Rows per tick and store; the ANN half lands as two appends. */
  val Delta: Int = if (cfg.tiny) 30 else 100
  val Lists: Int = if (cfg.tiny) 8 else 16
  /** indexMaintain folds the append log at this many segments; each
    * tick adds two, so each tick's maintain folds. (The buffered sink's
    * own inline fold is off, so the fold lands in the same operation on
    * every tick.)
    */
  val FlushSegments = 2
  /** Both maintain policies compact at this share of deleted rows... */
  val CompactFraction = 0.06
  /** ...and each tick deletes this share of the live ids, so they
    * compact on the third tick (the traced loop's second) and every
    * third tick after it.
    */
  val DeleteShare = 0.025
  val K = 10
  val HybridDepth = 20
  val OpsPerTick = 11

  val kinds: Seq[String] = Seq("ann_append", "bm25_append", "ann_delete",
    "bm25_delete", "ann_maintain", "bm25_maintain", "ann_search",
    "bm25_search", "hybrid_search")

  private val corpus = new Corpus(cfg.seed, clusters = 32)
  private val items = mutable.LongMap.empty[Item]
  private val live = mutable.TreeSet.empty[Long]
  private val deleted = mutable.Set.empty[Long]
  private var nextId = 0L
  private var dir: File = _
  private var annRoot: String = _
  private var bmRoot: String = _
  private var tick = 0L
  private val plan = mutable.Queue.empty[Ctx => Unit]
  private val bytesPerLive = mutable.ArrayBuffer.empty[Double]

  override def stores: Seq[(String, String)] = Seq("ann" -> annRoot, "bm25" -> bmRoot)

  /** A loop runs whole ticks, a fixed number so that every run times
    * the same operations: one when timed; two when traced, which cover
    * every ingest path and a compaction.
    */
  override def minSteps(traced: Boolean): Long = (if (traced) 2 else 1) * OpsPerTick
  override def maxSteps(traced: Boolean): Option[Long] = Some(minSteps(traced))

  private def newItems(n: Int): Seq[Item] = {
    val its = (nextId until nextId + n).map(corpus.item)
    nextId += n
    its.foreach(it => items(it.id) = it)
    its
  }

  def setup(ctx: Ctx, d: File): Unit = {
    items.clear(); live.clear(); deleted.clear(); plan.clear(); bytesPerLive.clear()
    nextId = 0L; tick = 0L
    dir = d
    annRoot = new File(d, "ann").getAbsolutePath
    bmRoot = new File(d, "bm25").getAbsolutePath
    val base = newItems(Initial)
    val df = Corpus.frame(ctx.spark, base).cache()
    ctx.tracer.span("ann.build") {
      SimilarityOps.indexWrite(df, "doc_id", "vec", annRoot,
        k = Lists, iters = 2, m = 8, dsub = 8, ksub = 16)
    }
    ctx.tracer.span("bm25.build") {
      TextOps.invertedIndexWrite(df, "doc_id", "text", bmRoot)
    }
    df.unpersist()
    live ++= base.map(_.id)
    // warm-up: one request of each kind, untimed
    val r = new java.util.Random(cfg.seed)
    val q = Corpus.queries(ctx.spark, Seq(-1L -> corpus.queryVector(-1L)))
    Retrieval.dense(q, annRoot, K, 2)
    Retrieval.sparse(ctx.spark, bmRoot, corpus.queryTerms(r), K)
    Retrieval.hybrid(q, Seq(-1L -> corpus.queryTerms(r)), annRoot, bmRoot,
      HybridDepth, K)
  }

  def teardown(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    if (dir != null) Dirs.deleteTree(dir)
  }

  def step(ctx: Ctx): Unit = {
    if (plan.isEmpty) planTick(ctx)
    plan.dequeue()(ctx)
  }

  /** One untimed tick: the first run of each write path compiles its
    * plans, which would otherwise dominate the timed tick.
    */
  override def warmUp(ctx: Ctx): Unit = (0 until OpsPerTick).foreach(_ => step(ctx))

  /** Queue the operations of the next tick. Its rows per second of
    * operation time (searches and maintain included) count toward
    * `rows_per_s` when all of them ran in one phase.
    */
  private def planTick(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = tick
    tick += 1
    val r = new java.util.Random(cfg.seed * 104729L + t)
    val phase = ctx.phase
    val secondsBefore = phase.opSeconds
    var tickRows = 0L
    def ingested(c: Ctx, rows: Long, bytes: Long): Unit = {
      tickRows += rows
      c.phase.userBytes += bytes
    }
    // the first tick of a run starts the alternation at a seeded side,
    // so one-tick runs cover every ingest path across seeds
    val side = (t + cfg.seed) % 2

    // 1. appends: the ANN half as two appends, the BM25 half as one
    val delta = newItems(Delta)
    val deltaDf = Corpus.frame(spark, delta)
    val halves = delta.grouped((Delta + 1) / 2).toSeq
    val annPaths: Seq[(String, DataFrame => Unit)] =
      if (side == 0) Seq(
        "ann.append" -> (df => SimilarityOps.indexAppend(df, "doc_id", "vec", annRoot)),
        "ann.append_buffered" -> (df =>
          SimilarityOps.indexAppend(df, "doc_id", "vec", annRoot, buffered = true)))
      else Seq(
        "stream.ann_append" -> (df =>
          StreamingOps.indexAppendSink("doc_id", "vec", annRoot)(df, t)),
        "stream.ann_append" -> (df =>
          StreamingOps.indexAppendBufferedSink("doc_id", "vec", annRoot,
            autoFlushSegments = 0)(df, t)))
    for (((span, append), half) <- annPaths.zip(halves)) plan += { c =>
      val df = Corpus.frame(spark, half).select("doc_id", "vec")
      c.op("ann_append", span)(append(df))
      ingested(c, half.length, half.map(Corpus.userBytes).sum)
    }
    plan += { c =>
      val df = deltaDf.select("doc_id", "text")
      if (side == 0)
        c.op("bm25_append", "bm25.append")(
          TextOps.invertedIndexAppend(df, "doc_id", "text", bmRoot))
      else
        c.op("bm25_append", "stream.bm25_append")(
          StreamingOps.invertedIndexAppendSink("doc_id", "text", bmRoot)(df, t))
      live ++= delta.map(_.id)
      ingested(c, Delta, delta.map(Corpus.userBytes).sum)
    }

    // 2. delete a seeded share of the live ids from both stores
    var doomed = Seq.empty[Long]
    plan += { c =>
      val arr = live.toArray
      val n = math.max(1, math.round(arr.length * DeleteShare).toInt)
      for (j <- 0 until n) {
        val k = j + r.nextInt(arr.length - j)
        val tmp = arr(j); arr(j) = arr(k); arr(k) = tmp
      }
      doomed = arr.take(n).toSeq.sorted
      val df = Corpus.frame(spark, doomed.map(items)).select("doc_id", "vec")
      c.op("ann_delete", "ann.delete")(
        SimilarityOps.indexDelete(df, "doc_id", annRoot, vecCol = "vec"))
      ingested(c, n, 8L * n)
    }
    plan += { c =>
      val df = spark.createDataFrame(doomed.map(Tuple1(_))).toDF("doc_id")
      c.op("bm25_delete", "bm25.delete")(
        TextOps.invertedIndexDelete(df, "doc_id", bmRoot))
      live --= doomed
      deleted ++= doomed
      ingested(c, doomed.length, 8L * doomed.length)
    }

    // 3. the maintain policies
    plan += { c =>
      c.op("ann_maintain", "ann.maintain")(
        SimilarityOps.indexMaintain(spark, annRoot, FlushSegments, CompactFraction))
        .foreach { d => c.phase.maintainCalls += (d.value._1 || d.value._2) }
    }
    plan += { c =>
      c.op("bm25_maintain", "bm25.maintain")(
        TextOps.invertedIndexMaintain(spark, bmRoot, CompactFraction))
        .foreach { d => c.phase.maintainCalls += d.value }
    }

    // 4. two dense requests (1 and 8 queries), one sparse and one
    //    hybrid; the warm-up tick's answers are also compared with full
    //    scans of the model's live rows
    val fullScan = t == 0
    val terms = corpus.queryTerms(r)
    val hybridIds = Seq(-(t * 32 + 20), -(t * 32 + 21))
    val hybridTerms = hybridIds.map(q => q -> corpus.queryTerms(r))
    def queries(ids: Seq[Long]) =
      Corpus.queries(spark, ids.map(q => q -> corpus.queryVector(q)))
    for (batch <- Seq(1, 8)) {
      val nProbe = 1 + r.nextInt(4)
      val ids = (0 until batch).map(j => -(t * 32 + batch + j))
      plan += { c =>
        val q = queries(ids)
        c.op("ann_search", "ann.search")(Retrieval.dense(q, annRoot, K, nProbe))
          .foreach { d =>
            served(c, d)
            if (fullScan) c.verify(d.id, "ann.search equals ivfPqTopKWith over the live model",
              Retrieval.denseExpected(q, liveFrame(c), annRoot, K, nProbe), d.value)(
              Checks.ranked)(Checks.wrongRanked)
          }
      }
    }
    plan += { c =>
      c.op("bm25_search", "bm25.search")(Retrieval.sparse(spark, bmRoot, terms, K))
        .foreach { d =>
          served(c, d)
          if (fullScan) c.verify(d.id, "bm25.search equals bm25TopK over the live model",
            Retrieval.sparseExpected(liveFrame(c), terms, K), d.value)(
            Checks.ranked)(Checks.wrongRanked)
        }
    }
    plan += { c =>
      val q = queries(hybridIds)
      c.op("hybrid_search", "hybrid.search")(
        Retrieval.hybrid(q, hybridTerms, annRoot, bmRoot, HybridDepth, K))
        .foreach { d =>
          served(c, d)
          if (fullScan) c.verify(d.id, "hybrid.search equals the full-scan fusion",
            Retrieval.hybridExpected(q, hybridTerms, liveFrame(c), annRoot, HybridDepth, K),
            d.value)(Checks.ranked)(Checks.wrongRanked)
        }
      if (c.phase eq phase)
        phase.rowRates += tickRows / (phase.opSeconds - secondsBefore)
      bytesPerLive += (Layers.bytesOnDisk(annRoot) + Layers.bytesOnDisk(bmRoot)).toDouble /
        live.size
    }
  }

  private def served(c: Ctx, d: Done[Retrieval.Ranked]): Unit = {
    c.phase.searchResults += d.value.length
    if (d.value.nonEmpty)
      c.verify(d.id, "searches return no deleted id", deleted.toSet,
        d.value.map(_._2).toSet)(
        (del, ids) => (ids intersect del).headOption.map(id => s"returned deleted id $id"))(
        del => del ++ d.value.map(_._2).take(1))
  }

  private def liveFrame(ctx: Ctx) = Corpus.frame(ctx.spark, live.toSeq.map(items))

  /** The ids a store serves: its live files minus pending deletes, read
    * through the current snapshot.
    */
  private def storeIds(ctx: Ctx, root: String, kinds: Seq[String],
                       idCol: String): Set[Long] = {
    val entries = IndexCommits.readEntries(ctx.spark, root)
    def ids(kind: String): Set[Long] = {
      val files = IndexCommits.filesOf(entries, kind)
      if (files.isEmpty) Set.empty
      else ctx.spark.read.parquet(files: _*).select(idCol).collect()
        .map(_.getLong(0)).toSet
    }
    kinds.flatMap(ids).toSet -- ids("deletes")
  }

  /** After the loop: both stores serve exactly the model's live ids. */
  override def finish(ctx: Ctx): Unit = {
    val model = live.toSet
    val last = ctx.opCount - 1
    ctx.verify(last, "ANN store live ids equal the model", model,
      storeIds(ctx, annRoot, Seq("vectors", "applog"), "vec_id"))(
      Checks.sameIds)(Checks.wrongIds)
    ctx.verify(last, "BM25 store live ids equal the model", model,
      storeIds(ctx, bmRoot, Seq("doclens"), "doc_id"))(
      Checks.sameIds)(Checks.wrongIds)
  }

  def bytesPerRow(ctx: Ctx): Double =
    if (bytesPerLive.isEmpty) Double.NaN else Stats.median(bytesPerLive.toSeq)
}
