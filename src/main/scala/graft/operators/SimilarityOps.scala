package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.{IndexCommits => IC, IndexStore => IS}

/** Similarity search over embedding columns (Array[Float]) — the
  * builder brief's ANN requirement: brute-force cosine top-k as the
  * exact baseline, random-hyperplane LSH bucketing as the scale path.
  *
  * 100 TB story: bruteForceTopK broadcasts the (small) query set and
  * scans the corpus once — correct baseline, O(|Q| x |corpus|).
  * lshTopK/nearDupPairs bucket both sides on an nplanes-bit
  * hyperplane signature first, so the join only scores vectors whose
  * buckets collide (expected cost |colliding pairs|, not all pairs);
  * recall is tuned by nplanes and by probing neighboring buckets.
  *
  * PERF NOTE (measured, see TextOps): the inner kernels are native
  * codegen expressions (graft.functions.VectorKernels) — zip_with/
  * aggregate HOFs are CodegenFallback (interpreted per element) and
  * Scala UDFs box a WrappedArray[Double] per row; both were measured
  * bottlenecks at bench scale on what is the hottest corpus scan of
  * the 100 TB story. Norms are computed ONCE per side before the
  * join, never per pair; pair scoring repartitions to the default
  * parallelism (small parquet inputs otherwise arrive as one
  * partition and serialize the whole join onto one core).
  */
object SimilarityOps {

  /** Left-to-right fold — mirrors the oracle's list_reduce exactly. */
  def dotFn(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Dot product of two numeric-array columns — the native codegen
    * expression (graft.functions.DotProduct); bit-identical to the
    * dotFn fold, with no per-row Seq materialization.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** float[] -> double[] via Cast (whole-stage codegen'd; the
    * transform(_, _.cast) HOF spelling is CodegenFallback).
    */
  private def toDouble(c: Column): Column =
    c.cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))

  /** Deterministic pseudo-random hyperplane component for (plane i,
    * dim j): an exact rational in [-0.5, 0.5) derived from a Knuth
    * multiplicative hash — identical in any engine, no RNG state.
    * Stride 100003 (prime > any supported dim) keeps (i, j) keys
    * injective, so planes stay uncorrelated for dim > 64 too.
    */
  def hyperplane(i: Int, j: Int): Double =
    ((i.toLong * 100003 + j) * 2654435761L % 1000L) / 1000.0 - 0.5

  /** nplanes-bit signature: bit i = sign of dot(vec, hyperplane_i).
    * Native codegen expression — this runs on the CORPUS side of every
    * LSH query, so it must not pay the UDF boxing tax per row.
    */
  def hyperplaneBucket(vec: Column, dim: Int, nplanes: Int): Column = {
    val planes = Array.tabulate(nplanes, dim)((i, j) => hyperplane(i, j))
    graft.functions.HyperplaneSig(toDouble(vec), planes)
  }

  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact cosine top-k of each query against the whole corpus.
    * Ranking is deterministic: ties in cosine break on the corpus id.
    * Queries are broadcast (small side); the corpus is spread across
    * the cluster before scoring.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                     cId: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = spread(corpus)
      .select(col(cId).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** LSH-bucketed top-k: score only bucket-colliding (query, corpus)
    * pairs. Returns the same schema as bruteForceTopK plus the bucket.
    */
  /** @param probes 0 = exact-bucket only; 1 = additionally probe the
    *   nplanes neighbor buckets at Hamming distance 1 from the query's
    *   bucket (multi-probe LSH — recovers neighbors that fall just
    *   across one hyperplane, the standard recall/cost dial).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, qId: String,
              cId: String, vecCol: String, dim: Int, k: Int,
              nplanes: Int = 8, probes: Int = 0): DataFrame = {
    val q0 = queries.select(col(qId).as("query_id"), toDouble(col(vecCol)).as("qv"),
        hyperplaneBucket(col(vecCol), dim, nplanes).as("bucket0"))
      .withColumn("qn", norm(col("qv")))
    val probeBuckets =
      if (probes <= 0) array(col("bucket0"))
      else array(col("bucket0") +:
        (0 until nplanes).map(b => col("bucket0").bitwiseXOR(lit(1L << b))): _*)
    val q = q0.withColumn("bucket", explode(probeBuckets)).drop("bucket0")
    val c = spread(corpus)
      .select(col(cId).as("neighbor_id"), toDouble(col(vecCol)).as("cv"),
        hyperplaneBucket(col(vecCol), dim, nplanes).as("bucket"))
      .withColumn("cn", norm(col("cv")))
    val scored0 = c.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    // multi-probe can surface the same pair through several buckets:
    // keep the smallest bucket deterministically
    val scored =
      if (probes <= 0) scored0
      else scored0.withColumn("_rn", row_number().over(
          Window.partitionBy("query_id", "neighbor_id").orderBy("bucket")))
        .where(col("_rn") === 1).drop("_rn")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "bucket", "cosine", "rank")
  }

  /** Squared L2 distance, left-to-right fold (oracle-exact). */
  def sqDistFn(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into
    * inverted lists; a query probes only its nProbe nearest lists.
    * Centroids here are a deterministic subset of the corpus (the
    * first nCentroids ids) rather than k-means-trained — same index
    * structure and scan behavior, reproducible across engines (a
    * trained quantizer plugs into the same shape).
    *
    * 100 TB story: the corpus is scanned once to assign list ids
    * (broadcast centroids, compiled kernel), then the search join
    * touches only the probed lists — cost |queries| x nProbe x
    * avg-list-size instead of |queries| x |corpus|.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, qId: String,
              cId: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents: Array[(Long, Array[Double])] = corpus
      .where(col(cId) < nCentroids)
      .select(col(cId).cast("long"), toDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val c = spread(corpus)
      .select(col(cId).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .withColumn("list_id",
        graft.functions.NearestCentroidId(col("cv"), cents.toSeq))
    val q = queries.select(col(qId).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("list_id",
        explode(graft.functions.ProbeListIds(col("qv"), cents.toSeq, nProbe)))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "list_id", "cosine", "rank")
  }

  /** One Lloyd (k-means) iteration over the embedding column — the
    * training step of a LEARNED IVF coarse quantizer (the deterministic
    * ivfTopK quantizer above plugs the result straight in): assign
    * each vector to its nearest centroid (exact squared distance,
    * lowest-id tiebreak), then recompute centroids as per-cluster
    * means. Output long form: (cluster, dim, centroid, n_members).
    *
    * 100 TB story per iteration: K x d centroids broadcast in the task
    * closure (compiled kernel — see the TextOps perf note), one scan
    * to assign, one hash aggregate over (cluster, dim) to update; the
    * shuffle carries K x d rows, never vectors.
    */
  def kMeansIter(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = centroids.sortBy(_._1)
    // partial K x d sums per input partition (the gridder's
    // partial-plane shape) — the shuffle carries n_partitions x K x d
    // partial rows, never exploded vectors
    emb.select(toDouble(col(vecCol)).as("v")).as[Seq[Double]]
      .mapPartitions { rows =>
        // primitive-array hot loop with EXACT early abandonment: the
        // running sum of squares is monotone nondecreasing, so once it
        // reaches bestD the candidate can at best TIE — and ties lose
        // to the earlier (ascending) id anyway — so abandoning at
        // acc >= bestD picks the identical argmin to the full fold.
        // This is the k x d x n kernel of Lloyd at scale (k=1600 at
        // the 100x rehearsal): boxed Seq access here cost ~10x.
        val ids: Array[Int] = cents.map(_._1).toArray
        val cvs: Array[Array[Double]] = cents.map(_._2).toArray
        val sums = mutable.Map.empty[Int, (Array[Double], Long)]
        for (v <- rows) {
          val va = v.toArray
          var best = -1; var bestD = Double.MaxValue
          var ci = 0
          while (ci < cvs.length) {
            val c = cvs(ci)
            val n = math.min(va.length, c.length)
            var acc = 0.0; var i = 0
            while (i < n && acc < bestD) {
              val d = va(i) - c(i); acc += d * d; i += 1
            }
            if (i == n && acc < bestD) { best = ids(ci); bestD = acc }
            ci += 1
          }
          val (acc, _) = sums.getOrElseUpdate(best,
            (new Array[Double](va.length), 0L))
          var i = 0
          while (i < va.length) { acc(i) += va(i); i += 1 }
          sums(best) = (acc, sums(best)._2 + 1)
        }
        sums.iterator.flatMap { case (cid, (acc, n)) =>
          acc.iterator.zipWithIndex.map { case (s, dim) => (cid, dim, s, n) }
        }
      }
      .toDF("cluster", "dim", "psum", "pn")
      .groupBy("cluster", "dim")
      .agg((sum(col("psum")) / sum(col("pn"))).as("centroid"),
        sum(col("pn")).as("n_members"))
  }

  /** Embedding near-duplicate pairs: bucket self-join + cosine >=
    * threshold, id1 < id2. The all-pairs form is never materialized,
    * and a degenerate hyperplane bucket (all-similar corpora hash
    * together) is excluded from pairing past `maxBucket` members —
    * same bounded-bucket policy as [[DedupOps.minHashCandidates]];
    * recover recall by raising nplanes, not the cap.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   threshold: Double, nplanes: Int = 8,
                   maxBucket: Int = 100000): DataFrame = {
    val sig = spread(df).select(col(idCol), toDouble(col(vecCol)).as("v"),
        hyperplaneBucket(col(vecCol), dim, nplanes).as("bucket"))
      .withColumn("n", norm(col("v")))
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy("bucket")))
      .where(col("_bn") <= maxBucket).drop("_bn")
    val a = sig.select(col(idCol).as("id1"), col("v").as("v1"),
      col("n").as("n1"), col("bucket"))
    val b = sig.select(col(idCol).as("id2"), col("v").as("v2"),
      col("n").as("n2"), col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id1") < col("id2"))
      .withColumn("cosine", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Train an IVF coarse quantizer: seed with the first k corpus
    * vectors, then run `iters` Lloyd iterations ([[kMeansIter]], each
    * fully distributed), QUANTIZING the centroids to `qdec` decimals
    * between iterations. The quantization is part of the algorithm
    * contract, not a display nicety: it pins the centroids to exact
    * decimal values, so every downstream DISCRETE choice (cluster
    * assignment, probe order) is reproducible across engines and runs
    * — the float-order noise of the distributed mean never reaches an
    * argmin. A cluster that loses all members keeps its previous
    * centroid (standard Lloyd dead-cluster rule).
    *
    * 100 TB story: per iteration one scan + one K x d-row shuffle
    * (see kMeansIter); only the K x d centroid table (bounded, tiny)
    * is ever collected.
    */
  def trainIvf(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, qdec: Int = 8): Seq[(Long, Array[Double])] = {
    val scale = math.pow(10, qdec)
    def qr(x: Double): Double = math.floor(x * scale + 0.5) / scale
    var cents: Seq[(Long, Array[Double])] = emb.where(col(idCol) < k)
      .select(col(idCol).cast("long"), toDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    (0 until iters).foreach { _ =>
      val next = kMeansIter(emb, idCol, vecCol,
          cents.map { case (id, v) => (id.toInt, v) })
        .collect()
        .map(r => (r.getAs[Int]("cluster"), r.getAs[Int]("dim"),
          r.getAs[Double]("centroid")))
        .groupBy(_._1)
        .map { case (cid, rows) =>
          cid.toLong -> rows.sortBy(_._2).map(t => qr(t._3))
        }
      cents = cents.map { case (id, old) => (id, next.getOrElse(id, old)) }
    }
    cents
  }

  /** IVF search against an EXPLICIT centroid table (e.g. one produced
    * by [[trainIvf]]) — same inverted-list structure and probe
    * behavior as [[ivfTopK]].
    */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, qId: String,
                  cId: String, vecCol: String, k: Int,
                  cents: Seq[(Long, Array[Double])],
                  nProbe: Int): DataFrame = {
    val c = spread(corpus)
      .select(col(cId).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .withColumn("list_id",
        graft.functions.NearestCentroidId(col("cv"), cents))
    val q = queries.select(col(qId).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("list_id",
        explode(graft.functions.ProbeListIds(col("qv"), cents, nProbe)))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "list_id", "cosine", "rank")
  }

  /** Product-quantization codebooks: the 64-dim space is split into
    * `m` subspaces of `dsub` dims; codebook for subspace s = the s-th
    * subvector of the first `ksub` corpus vectors (the same
    * deterministic seeding rule as [[ivfTopK]]'s coarse quantizer —
    * a k-means-trained codebook plugs into the identical shape).
    * Returns codebooks(s)(code) = centroid subvector.
    *
    * Bounded collect: m x ksub x dsub doubles (8 x 16 x 8 = 1 KiB
    * here) — never corpus-sized.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, dsub: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val seeds = corpus.where(col(idCol) < ksub)
      .select(col(idCol).cast("long"), toDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // codes are POSITIONS in this array, and pqSearch / the SQL oracle
    // key entries by the seed id itself — if any id in [0, ksub) is
    // missing (or ids don't start at 0) the two numbering schemes
    // silently diverge, so demand the dense prefix outright
    require(seeds.length == ksub && seeds.headOption.exists(_._1 == 0L) &&
      seeds.last._1 == ksub - 1,
      s"pqCodebooks needs exactly the dense seed ids 0..${ksub - 1}; " +
        s"got ${seeds.length} rows" +
        seeds.headOption.map(h => s" spanning [${h._1}, ${seeds.last._1}]")
          .getOrElse(""))
    Array.tabulate(m)(s => seeds.map(_._2.slice(s * dsub, s * dsub + dsub)))
  }

  /** Train the PQ codebooks with per-subspace Lloyd iterations — the
    * honest k-means for the PRODUCT quantizer, completing what
    * [[trainIvf]] did for the coarse quantizer (the seeded
    * [[pqCodebooks]] stays the zero-training fallback). All m
    * subspaces train in ONE scan per iteration: each vector
    * contributes its m subvectors to their nearest codebook entries
    * (exact squared distance, lowest-code tiebreak), partial
    * per-(subspace, code, dim) sums combine map-side, and the means
    * are quantized to qdec decimals between iterations (same
    * reproducibility contract as trainIvf — every downstream discrete
    * choice replays exactly in any engine). A code that loses all
    * members keeps its previous entry (dead-code rule).
    *
    * 100 TB story per iteration: one corpus scan with the m x ksub x
    * dsub codebooks in the task closure; the shuffle carries
    * n_partitions x m x ksub x dsub partial rows, never vectors; only
    * the codebook table (bounded, tiny) is collected.
    */
  def trainPqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                       m: Int, dsub: Int, ksub: Int, iters: Int,
                       qdec: Int = 8): Array[Array[Array[Double]]] = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val scale = math.pow(10, qdec)
    def qr(x: Double): Double = math.floor(x * scale + 0.5) / scale
    var books = pqCodebooks(emb, idCol, vecCol, m, dsub, ksub)
    for (_ <- 1 to iters) {
      val cur = books // stable capture for the closure
      val partial = emb.select(toDouble(col(vecCol)).as("v"))
        .as[Seq[Double]]
        .mapPartitions { rows =>
          // (subspace, code) -> (per-dim sums, count)
          val sums = mutable.Map.empty[(Int, Int), (Array[Double], Long)]
          for (v <- rows) {
            var s = 0
            while (s < m) {
              val off = s * dsub
              var best = -1; var bestD = Double.MaxValue
              var c = 0
              while (c < ksub) {
                val cv = cur(s)(c)
                var d2 = 0.0; var i = 0
                while (i < dsub) {
                  val d = v(off + i) - cv(i); d2 += d * d; i += 1
                }
                if (d2 < bestD) { best = c; bestD = d2 } // asc codes win ties
                c += 1
              }
              val key = (s, best)
              val (acc, _) = sums.getOrElseUpdate(key,
                (new Array[Double](dsub), 0L))
              var i = 0
              while (i < dsub) { acc(i) += v(off + i); i += 1 }
              sums(key) = (acc, sums(key)._2 + 1)
              s += 1
            }
          }
          sums.iterator.flatMap { case ((s, c), (acc, n)) =>
            acc.iterator.zipWithIndex.map { case (x, dim) =>
              (s, c, dim, x, n)
            }
          }
        }
        .toDF("subspace", "code", "dim", "psum", "pn")
        .groupBy("subspace", "code", "dim")
        .agg((sum(col("psum")) / sum(col("pn"))).as("c"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2),
          r.getDouble(3)))
        .groupBy(_._1)
        .map { case (k, rows) =>
          k -> rows.sortBy(_._2).map(t => qr(t._3)).toArray
        }
      books = Array.tabulate(m)(s => Array.tabulate(ksub)(c =>
        partial.getOrElse((s, c), books(s)(c))))
    }
    books
  }

  /** PQ encode: each vector becomes m small integer codes — the
    * nearest codebook entry per subspace (exact squared distance,
    * lowest-code tiebreak). Output long form (id, subspace, code).
    *
    * 100 TB story: this is the memory lever for embedding search at
    * scale — a 64-dim float vector (256 B) compresses to m = 8 codes
    * (8 B, 32x). Pure per-row compiled kernel with the codebooks in
    * the task closure: one scan, NO shuffle.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol),
      posexplode(graft.functions.PqCodes(toDouble(col(vecCol)), codebooks))
        .as(Seq("subspace", "code")))

  /** PQ search with asymmetric distance computation (ADC): the query
    * stays un-quantized; its distance to each corpus vector is
    * approximated by summing, per subspace, the exact distance from
    * the query subvector to the corpus vector's ASSIGNED CODEBOOK
    * ENTRY. Ranking is over the quantized ADC (qdec decimals) with id
    * tiebreak, so the order is reproducible across engines.
    *
    * 100 TB story: the scan side touches only the m-code table (32x
    * smaller than the raw vectors); each query precomputes its
    * m x ksub distance table once (tiny, in-closure), so scoring a
    * corpus row is m table lookups + adds — no dot products at scan
    * time. Queries are broadcast; corpus codes are spread.
    */
  def pqSearch(queries: DataFrame, corpus: DataFrame, qId: String,
               cId: String, vecCol: String, k: Int,
               codebooks: Array[Array[Array[Double]]],
               qdec: Int = 6): DataFrame = {
    val scale = math.pow(10, qdec)
    val ksub = codebooks(0).length
    val enc = pqEncode(spread(corpus), cId, vecCol, codebooks)
      .groupBy(col(cId).as("neighbor_id"))
      .agg(array_sort(collect_list(struct(col("subspace"), col("code"))))
        .as("sc"))
      .select(col("neighbor_id"),
        transform(col("sc"), x => x("code")).as("codes"))
    // per-query m x ksub distance table, built ONCE on the broadcast
    // side; the corpus-scale join then prices each row in m table
    // lookups (AdcFromTable, emitted Java) — no per-row boxing, no
    // dot products at scan time
    val q = queries.select(col(qId).as("query_id"),
      graft.functions.PqDistTable(toDouble(col(vecCol)), codebooks).as("tab"))
    val scored = enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc",
        graft.functions.AdcFromTable(col("tab"), col("codes"), ksub, scale))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc", "rank")
  }

  /** IVF + PQ composed (the faiss IVFPQ shape): the coarse quantizer
    * prunes WHICH corpus rows a query prices (nProbe inverted lists),
    * and PQ/ADC prices each candidate from its m codes instead of the
    * raw vector — the standard memory x compute composition of a
    * web-scale embedding index, here as one declarative plan.
    *
    * Same deterministic contracts as the parts: centroids = dense id
    * prefix (a trained quantizer plugs in), codes/probes break ties on
    * the lower id/code, ADC quantized to qdec decimals before ranking.
    *
    * 100 TB story: ONE corpus scan computes (list_id, codes) per row —
    * both kernels share the closure, no corpus self-join, no shuffle
    * until the probe equi-join on list_id; the scan side of that join
    * carries m bytes of codes per row (32x smaller than vectors), and
    * each query only meets its nProbe lists' rows. Query-side state =
    * the m x ksub distance table, built per row in the closure.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                cId: String, vecCol: String, k: Int,
                codebooks: Array[Array[Array[Double]]],
                nCentroids: Int = 16, nProbe: Int = 4,
                qdec: Int = 6): DataFrame = {
    val cents: Array[(Long, Array[Double])] = corpus
      .where(col(cId) < nCentroids)
      .select(col(cId).cast("long"), toDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    ivfPqTopKWith(queries, corpus, qId, cId, vecCol, k, cents.toSeq,
      codebooks, nProbe, qdec)
  }

  /** IVFPQ search against an EXPLICIT coarse quantizer (e.g. trained
    * by [[trainIvf]]) — the honest k-means composition of the IVFPQ
    * shape (the seeded [[ivfPqTopK]] delegates here). Same plan: ONE
    * corpus scan computes (list_id, codes), the probe equi-join on
    * list_id is the only shuffle, queries broadcast with their
    * m x ksub ADC tables.
    */
  def ivfPqTopKWith(queries: DataFrame, corpus: DataFrame, qId: String,
                    cId: String, vecCol: String, k: Int,
                    cents: Seq[(Long, Array[Double])],
                    codebooks: Array[Array[Array[Double]]],
                    nProbe: Int, qdec: Int = 6): DataFrame = {
    // one corpus pass: coarse list + PQ codes, both native codegen
    // kernels riding the same scan projection
    val c = spread(corpus)
      .select(col(cId).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .select(col("neighbor_id"),
        graft.functions.NearestCentroidId(col("cv"), cents).as("list_id"),
        graft.functions.PqCodes(col("cv"), codebooks).as("codes"))
    ivfPqScore(queries, c, qId, vecCol, k, cents, codebooks, nProbe, qdec)
  }

  /** The probe-join + ADC scoring tail shared by the in-memory IVFPQ
    * searches and [[indexSearch]]: `coded` must carry
    * (neighbor_id, list_id, codes).
    */
  private def ivfPqScore(queries: DataFrame, coded: DataFrame, qId: String,
                         vecCol: String, k: Int,
                         cents: Seq[(Long, Array[Double])],
                         codebooks: Array[Array[Array[Double]]],
                         nProbe: Int, qdec: Int): DataFrame = {
    val scale = math.pow(10, qdec)
    val ksub = codebooks(0).length
    val q = queries.select(col(qId).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("list_id",
        explode(graft.functions.ProbeListIds(col("qv"), cents, nProbe)))
      .select(col("query_id"), col("list_id"),
        graft.functions.PqDistTable(col("qv"), codebooks).as("tab"))
    val scored = coded.join(broadcast(q), Seq("list_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc",
        graft.functions.AdcFromTable(col("tab"), col("codes"), ksub, scale))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "list_id", "adc", "rank")
  }

  // ------------------------------------------------------------------
  // Persisted ANN index lifecycle: train once, store, serve many.
  // ------------------------------------------------------------------

  /** The ANN store's layout (graft.sources.IndexStore): one
    * partitioned kind, `vectors` routed by `list_id`, and its meta row
    * — the build parameters plus the (n_vectors, id checksum) census
    * of the staleness check.
    */
  private[graft] val AnnStore = IS.Layout(id = "vec_id",
    kinds = Seq("vectors" -> "list_id"),
    meta = Seq("k" -> "int", "iters" -> "int", "m" -> "int",
      "dsub" -> "int", "ksub" -> "int", "qdec" -> "int",
      "n_vectors" -> "long", "id_checksum" -> "long"),
    count = "n_vectors", checksum = "id_checksum")

  /** Build and PERSIST an IVF+PQ index under `root` — the difference
    * between "has ANN operators" and "is an ANN system" at 100 TB: a
    * real pipeline trains the quantizers once, stores the index, and
    * serves many query batches from it instead of re-running Lloyd per
    * query. Layout (all parquet):
    *
    *   root/centroids  (cid, dim, value)            — K x d rows,
    *     the trained-Lloyd coarse quantizer ([[trainIvf]], quantized
    *     to qdec decimals so reload is value-identical by construction)
    *   root/codebooks  (subspace, code, dim, value) — m x ksub x dsub
    *     rows, the PQ codebooks ([[pqCodebooks]] seeding rule)
    *   root/vectors    (vec_id, codes) PARTITIONED BY list_id — the
    *     only corpus-sized table, m bytes of codes per row (32x
    *     smaller than raw vectors), laid out so a probe's nProbe lists
    *     are PARTITION PRUNING at the scan — search I/O rides probed-
    *     list volume, never corpus size
    *   the append log  (vec_id, list_id, codes): flat segments
    *     sorted by list_id ([[indexAppend]]), registered
    *     under the kind `vectors` with no part id; searches and the
    *     dup arbitration read them behind the same list filter, and
    *     [[indexFlush]] / [[indexCompact]] fold them into the
    *     partitions (graft.sources.IndexStore, the BM25 store's log)
    *   root/deletes    (vec_id, list_id) merge-on-read delete sidecar
    *     ([[indexDelete]]), retired by [[indexCompact]]
    *   root/bloomidx   the packed vec-id Bloom of the append dup-guard
    *   root/meta       one row: the build parameters + corpus census
    *     (n_vectors, id checksum) for the staleness check
    *   root/commits    the snapshot naming every live vectors
    *     (partition files and log segments) / deletes file
    *     (graft.sources.IndexCommits)
    *
    * Doubles round-trip bit-exactly through parquet, so a search
    * through the stored index is row-identical to the in-memory
    * [[ivfPqTopKWith]] on the same trained structures (the
    * `ann_index_persist` gate shares `ann_ivfpq`'s oracle).
    *
    * @param pqIters 0 (default) = seeded PQ codebooks; > 0 = train
    *   them too ([[trainPqCodebooks]]) — the fully-trained production
    *   index (both quantizers k-means).
    */
  def indexWrite(corpus: DataFrame, idCol: String, vecCol: String,
                 root: String, k: Int, iters: Int,
                 m: Int, dsub: Int, ksub: Int, qdec: Int = 8,
                 pqIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val cents = trainIvf(corpus, idCol, vecCol, k, iters, qdec)
    val cb =
      if (pqIters > 0)
        trainPqCodebooks(corpus, idCol, vecCol, m, dsub, ksub,
          pqIters, qdec)
      else pqCodebooks(corpus, idCol, vecCol, m, dsub, ksub)
    // quantizer tables are driver-side Seqs of K x d / m x ksub x dsub
    // rows — write them (and below, the one-row meta and the packed
    // bloom) on the driver: same parquet layout, none of the per-write
    // Spark-job + output-committer fixed cost (round-18 profiling: the
    // lifecycle gates' wall was ~50 tiny jobs, mostly these sidecars)
    graft.sources.TinyParquet.write(hconf, s"$root/centroids",
      Seq("cid" -> "long", "dim" -> "int", "value" -> "double"),
      cents.flatMap { case (cid, v) =>
        v.iterator.zipWithIndex.map { case (x, dim) => Seq(cid, dim, x) }
      })
    graft.sources.TinyParquet.write(hconf, s"$root/codebooks",
      Seq("subspace" -> "int", "code" -> "int", "dim" -> "int",
        "value" -> "double"),
      cb.zipWithIndex.toSeq.flatMap { case (book, s) =>
        book.zipWithIndex.toSeq.flatMap { case (cv, code) =>
          cv.zipWithIndex.toSeq.map { case (x, dim) =>
            Seq[Any](s, code, dim, x)
          }
        }
      })
    // ONE corpus scan: coarse list + PQ codes off the same projection;
    // the list_id partitioning IS the inverted-list structure on disk,
    // one file per list (IndexStore.writeParts). Per-list volume is
    // bounded by design (K scales with the corpus), so the
    // single-task-per-list write cannot skew. The census rides the
    // SAME write job as observed metrics — no second corpus pass
    // (guide §1.2: fewer passes).
    val obs = new org.apache.spark.sql.Observation()
    IS.writeParts(IS.observeCensus(corpus
        .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("_v")),
        obs, AnnStore, col("vec_id"))
      .select(col("vec_id"),
        graft.functions.NearestCentroidId(col("_v"), cents).as("list_id"),
        graft.functions.PqCodes(col("_v"), cb).as("codes")),
      root, AnnStore, "vectors")
    IS.buildBloom(root, corpus.select(col(idCol)), idCol)
    IS.writeMeta(spark, root, AnnStore, IS.observed(obs) ++ Map(
      "k" -> k, "iters" -> iters, "m" -> m, "dsub" -> dsub,
      "ksub" -> ksub, "qdec" -> qdec))
    // Commit the initial snapshot: from here on every read plans its
    // file list from the current commit and every maintenance op is
    // an atomic pointer swap (IndexCommits). The vacuum retires
    // whatever a previous lifecycle on a reused root left behind
    // (old log segments, delete sidecars, superseded snapshots).
    IS.commitBuild(spark, root, AnnStore)
  }

  /** Append NEW vectors to a persisted index WITHOUT retraining — the
    * continuous-ingest half of the index lifecycle: a 100 TB pipeline
    * trains quantizers once and keeps appending embeddings for months.
    * Each delta vector is assigned to its nearest STORED centroid and
    * PQ-encoded with the STORED codebooks, and the coded rows APPEND
    * as flat log segments (new parquet files only — existing files
    * untouched; [[indexFlush]] folds them into the `list_id=`
    * partitions at the log bound or on the maintenance cadence). The
    * meta census
    * updates additively (count +, checksum + mod p — commutative, so
    * it equals the census recomputed over the union), keeping
    * [[indexIsStale]] honest for the appended corpus.
    *
    * Equality contract (spec-pinned): for any disjoint split
    * C = B ∪ D, `indexWrite(B); indexAppend(D)` serves searches
    * row-identical to the in-memory [[ivfPqTopKWith]] over ALL of C
    * under B-trained quantizers — per-row assignment is independent,
    * so append order and batching never matter.
    *
    * @param buffered Both paths land the delta as SEGMENT file(s) of
    *   the append log with list_id as a plain column, sorted by it
    *   and registered under the kind `vectors` with no part id
    *   (the log format of the BM25 store too; round-19 opt,
    *   guide §6 — snapshot-addressed flat segments): a direct append
    *   previously wrote into up-to-K `list_id=` partition directories,
    *   paying one parquet writer open + Hadoop committer rename PER
    *   TOUCHED LIST (~K directory commits — 40 s at K=1600 on the 100x
    *   rehearsal for a 2000-row delta). One flat snapshot-registered
    *   write costs one job regardless of K; searches already union the
    *   log behind the probe filter (an append-sized segment is one row
    *   group, so the filter prunes no segment file: each is scanned
    *   whole, and the log bound keeps that scan small), and
    *   [[indexFlush]] / [[indexMaintain]] fold segments into the
    *   `list_id=` partitions on the maintenance cadence — write-ahead
    *   segment + background merge, the classic LSM trade.
    *   `buffered=true` (the streaming shape) lands each micro-delta as
    *   ONE file; false (batched ingest) spreads large deltas across
    *   list_id-sorted files (AQE coalesces a small delta back to one).
    *   Both paths maintain the same census/bloom, and both serve
    *   row-identically (the `ann_index_append_buffered` /
    *   `ann_index_flush` gates share `ann_index_append`'s oracle).
    * @param autoFlushSegments LSM flush policy for BOTH append paths:
    *   when > 0 and the append log holds at least this many segment
    *   files after the append, [[indexFlush]] runs inline — bounding
    *   the log (whose union scan every search pays) without a manual
    *   maintenance trigger. The default is the bound the BM25 append
    *   and [[indexMaintain]] share (IndexStore.FlushSegments, 16);
    *   0 disables (flush stays a manual/cadence decision, e.g.
    *   [[indexMaintain]]).
    */
  def indexAppend(delta: DataFrame, idCol: String, vecCol: String,
                  root: String, buffered: Boolean = false,
                  autoFlushSegments: Int = IS.FlushSegments): Unit = {
    val spark = delta.sparkSession
    val snap = IS.readEntries(spark, root, AnnStore)
    val cents = readIndexCentroids(spark, root)
    val cb = readIndexCodebooks(spark, root)
    // both paths write flat log segment(s) (see the buffered param
    // doc), discovered by diffing the log listing, and the delta
    // census (count + order-free id checksum) rides the segment write
    // as observed metrics — one delta pass total, no per-list
    // directory commits.
    val obs = new org.apache.spark.sql.Observation()
    val coded = IS.observeCensus(delta
        .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("_v"))
        .select(col("vec_id"),
          graft.functions.NearestCentroidId(col("_v"), cents)
            .cast("long").as("list_id"),
          graft.functions.PqCodes(col("_v"), cb).as("codes")),
      obs, AnnStore, col("vec_id"))
    val next = IS.appendGuarded(root, snap, AnnStore,
        IS.readMeta(spark, root), delta, idCol, "indexAppend: vec_id",
        "NEW vectors only (use indexDelete + indexCompact, or rebuild)",
        IS.listLog(spark, root, AnnStore)) { suspects =>
      // exact arbitration, pruned: a suspect's list is recomputable
      // from the stored centroids, so only the suspects' own lists are
      // read — their files straight from the snapshot plus the log
      val sv = delta.join(broadcast(suspects), Seq(idCol), "left_semi")
        .select(col(idCol).cast("long").as("vec_id"),
          graft.functions.NearestCentroidId(
            toDouble(col(vecCol)), cents).cast("long").as("list_id"))
      IS.readRouted(spark, root, snap, AnnStore, "vectors",
          IS.routeKeys(sv, col("list_id")))
        .map(_.select(col("vec_id").cast("long").as("vec_id"))
          .join(broadcast(sv.select("vec_id")), Seq("vec_id"), "left_semi")
          .limit(1).collect())
        .getOrElse(Array.empty)
    } {
      IS.writeLog((if (buffered)
           coded.coalesce(1) // one segment file per buffered append
         else
           // batched deltas can be large: spread on list_id (AQE
           // coalesces a small delta back to one partition/file)
           coded.repartition(col("list_id")))
          // sorted within files, so a segment's row-group stats can
          // prune the probe filter
          .sortWithinPartitions("list_id"),
        root, AnnStore, "vectors")
      IS.observed(obs)
    }
    if (IS.logFull(next, AnnStore, autoFlushSegments)) indexFlush(spark, root)
  }

  /** Fold the append log into the `list_id=` partitions and drop it —
    * the background-merge half of the LSM ingest path (both
    * [[indexAppend]] paths feed the log): many small appends each
    * paid ONE segment-file write; the flush pays the per-directory
    * commit cost ONCE for all of them, touching only the lists the
    * log actually contains (graft.sources.IndexStore.fold, the BM25
    * store's fold). Census, bloom and quantizers are already up to
    * date (maintained at append time), and searches are row-identical
    * before and after (the `ann_index_flush` gate shares
    * `ann_index_append`'s oracle) — flushing changes the physical
    * layout and nothing else.
    */
  def indexFlush(spark: org.apache.spark.sql.SparkSession,
                 root: String): Unit =
    IS.fold(spark, root, AnnStore)

  /** One-call self-maintenance for a persisted index — the policy
    * layer over [[indexFlush]] and [[indexCompact]] that both stores
    * share (graft.sources.IndexStore.foldOrCompact), so a store stays
    * healthy on a cron cadence without the operator deciding per-store:
    *
    *   - COMPACT when recorded deletes reach `compactDeletedFraction`
    *     of the pre-delete corpus (merge-on-read stays row-identical
    *     at any fraction, but every search pays the anti-join and the
    *     doomed rows' scan volume — reclaim once it is material); the
    *     compaction folds the append log in the same rewrite;
    *   - otherwise FLUSH when the append log holds >= `flushSegments`
    *     segment files (the measured search-wall-vs-log-size curve is
    *     flat to ~16 segments, BENCH_logsens_r18 — the same default
    *     both append paths enforce inline).
    *
    * Below both thresholds this is a cheap no-op (one snapshot read +
    * one sidecar count — nothing corpus-sized), so it is safe to call
    * on every maintenance tick. Returns (log at the flush bound,
    * compacted).
    */
  def indexMaintain(spark: org.apache.spark.sql.SparkSession,
                    root: String, flushSegments: Int = IS.FlushSegments,
                    compactDeletedFraction: Double = 0.1)
    : (Boolean, Boolean) =
    IS.foldOrCompact(spark, root, AnnStore, flushSegments,
      compactDeletedFraction)

  /** Stage a flush WITHOUT committing it and return the snapshot that
    * would serve it (None on an empty log) — the crash window the
    * lifecycle spec and the `ann_index_crash_recovery` gate exercise
    * (staged files are invisible to every read until the pointer
    * swap). Package-private: callers use [[indexFlush]].
    */
  private[graft] def prepareFlush(
      spark: org.apache.spark.sql.SparkSession, root: String)
    : Option[Seq[IC.Entry]] =
    IS.prepareCompact(spark, root, AnnStore, applyDeletes = false)

  /** Record deletions against a persisted index — the third leg of the
    * lifecycle (write once / append forever / delete cheaply): the
    * stored (vec_id, list_id) rows of the doomed ids land in an
    * append-mode `deletes` sidecar (megabytes, never the code table —
    * the deletion-vector discipline of the lakehouse ops applied to
    * the index), and [[indexSearch]] serves base-minus-deletes through
    * ONE anti-join the small list broadcasts through. Only INDEXED ids
    * are recorded (graft.sources.IndexStore.delete, the BM25 store's
    * delete too): a never-indexed id is neither recorded nor
    * subtracted, so a later append of it is served, and a re-deleted
    * id commits nothing. The meta census updates subtractively (count
    * -, checksum - mod p), so [[indexIsStale]] stays honest for the
    * corpus WITHOUT its deleted rows. [[indexCompact]] is the
    * partition-surgical compaction that resets read amplification — a
    * full retrain (indexWrite) is only ever needed when the quantizers
    * themselves have drifted.
    *
    * @param vecCol when the doomed rows carry their vectors, only the
    *   lists NearestCentroidId picks for them (the same stored centroids
    *   that placed each row) and the log are read for their stored
    *   rows; without it every list is read.
    */
  def indexDelete(doomed: DataFrame, idCol: String, root: String,
                  vecCol: String = null): Unit =
    IS.delete(root, AnnStore, "vectors", doomed, idCol, {
      val cents = readIndexCentroids(doomed.sparkSession, root)
      if (vecCol == null) cents.map(_._1).toSet
      else IS.routeKeys(doomed, graft.functions.NearestCentroidId(
        toDouble(col(vecCol)), cents))
    })

  /** Compact a persisted index's delete sidecar — the fourth leg of
    * the lifecycle (write / append / delete / COMPACT), completing the
    * maintenance rhythm: physically remove doomed rows, fold the
    * append log and drop the sidecar, restoring delete-free serving
    * with no log left (graft.sources.IndexStore.compact, the BM25
    * store's compaction too). Surgical by partition, like
    * purgeDeletes for tables: ONLY the `list_id=` partitions holding
    * doomed rows — named by the sidecar, which records each row's
    * stored list_id — are rewritten (read snapshot-pruned to those
    * lists, one broadcastable anti-join against the doomed ids,
    * survivors staged as NEW files and committed by one pointer swap,
    * the log segments' survivors moved in beside their lists' files);
    * every other partition's files are left byte-untouched on disk —
    * at 100 TB a handful of doomed lists cost a handful of list
    * rewrites, never a corpus rewrite. Quantizers and meta are
    * untouched (the census already went subtractive at
    * [[indexDelete]] time, so [[indexIsStale]] agrees before and
    * after). Searches through the compacted index are row-identical
    * to the merge-on-read searches before it (the `ann_index_compact`
    * gate shares `ann_index_delete`'s oracle).
    *
    * The append dup-guard bloom is NOT rebuilt here (unsetting bits
    * would need a corpus scan, defeating the surgical contract):
    * deleted ids stay "possibly present", and [[indexAppend]]'s exact
    * arbitration — which reads only the suspects' own lists — correctly
    * finds them gone post-compact, so re-appends work.
    */
  def indexCompact(spark: org.apache.spark.sql.SparkSession,
                   root: String): Unit =
    IS.compact(spark, root, AnnStore)

  /** Stage a compaction WITHOUT committing it and return the snapshot
    * that would serve the compacted store
    * (graft.sources.IndexStore.prepareCompact) — the crash window the
    * lifecycle spec pins. Package-private: callers use
    * [[indexCompact]].
    */
  private[graft] def prepareCompact(
      spark: org.apache.spark.sql.SparkSession, root: String)
    : Option[Seq[IC.Entry]] =
    IS.prepareCompact(spark, root, AnnStore, applyDeletes = true)

  /** Reload the trained coarse quantizer from a persisted index —
    * K x d bounded collect, value-identical to the trained centroids
    * (decimal-quantized doubles round-trip bit-exactly).
    */
  def readIndexCentroids(spark: org.apache.spark.sql.SparkSession,
                         root: String): Seq[(Long, Array[Double])] =
    graft.sources.TinyParquet.read(
        spark.sparkContext.hadoopConfiguration, s"$root/centroids")
      .map(r => (r.getLong("cid"), r.getInt("dim"), r.getDouble("value")))
      .groupBy(_._1).toSeq
      .map { case (cid, rows) => (cid, rows.sortBy(_._2).map(_._3).toArray) }
      .sortBy(_._1)

  /** Reload the PQ codebooks — m x ksub x dsub bounded driver read. */
  def readIndexCodebooks(spark: org.apache.spark.sql.SparkSession,
                         root: String): Array[Array[Array[Double]]] = {
    val rows = graft.sources.TinyParquet.read(
        spark.sparkContext.hadoopConfiguration, s"$root/codebooks")
      .map(r => (r.getInt("subspace"), r.getInt("code"),
        r.getInt("dim"), r.getDouble("value")))
      .toArray
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, book) =>
      book.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, cv) =>
        cv.sortBy(_._3).map(_._4)
      }.toArray
    }.toArray
  }

  /** Has the corpus drifted since [[indexWrite]]? Compares the stored
    * (n_vectors, order-free id checksum) census against the live
    * corpus — one hash aggregate, the cheap gate a serving path runs
    * before trusting a stored index. True = rebuild needed.
    */
  def indexIsStale(corpus: DataFrame, idCol: String, root: String): Boolean =
    IS.isStale(corpus, idCol, root, AnnStore)

  /** Serve a query batch from a PERSISTED index: reload the bounded
    * quantizer tables, compute each query's nProbe lists, and scan
    * ONLY the probed `list_id=` partitions of the stored code table —
    * the IVF probe realized as parquet partition pruning, so search
    * cost rides probed-list volume, not corpus size. The driver-side
    * probe manifest is bounded by K (distinct centroid ids), never by
    * |queries| or the corpus. Results are row-identical to
    * [[ivfPqTopKWith]] over the same trained structures.
    */
  def indexSearch(queries: DataFrame, root: String, qId: String,
                  vecCol: String, k: Int, nProbe: Int,
                  qdec: Int = 6): DataFrame = {
    val spark = queries.sparkSession
    // Plan the probed read from the current SNAPSHOT: one bounded
    // commit read names every live file — no per-list existence
    // probes, and staged/orphaned files from an interrupted
    // maintenance op are invisible by construction. A probed list with
    // no vectors has no snapshot entry; skipping it is exactly the
    // empty-list semantics of the isin scan.
    val snap = IS.readEntries(spark, root, AnnStore)
    val cents = readIndexCentroids(spark, root)
    val cb = readIndexCodebooks(spark, root)
    val probed = queries
      .select(explode(graft.functions.ProbeListIds(
        toDouble(col(vecCol)), cents, nProbe)).as("list_id"))
      .distinct().collect().map(_.getLong(0))
    // the probed lists' files plus the unfolded log segments behind
    // the same list filter (IndexStore.readRouted); the log is bounded
    // by both append paths' autoFlushSegments and indexMaintain's
    // flush cadence — never corpus-sized by design
    val coded0 = IS.readRouted(spark, root, snap, AnnStore, "vectors",
        probed.toSet)
      .getOrElse(IS.read(spark, root, snap, "vectors")(_ => false))
      .select(col("vec_id").as("neighbor_id"),
        col("list_id").cast("long").as("list_id"), col("codes"))
    // serve base minus deletes — the index's merge-on-read
    val coded = IS.withoutDeleted(coded0, root, snap, AnnStore,
      "neighbor_id")
    ivfPqScore(queries, coded, qId, vecCol, k, cents, cb, nProbe, qdec)
  }

  /** SemDeDup (cluster-restricted semantic dedup, after Abbas et al.
    * 2023, arXiv:2303.09540): cluster the embeddings with the trained
    * coarse quantizer ([[trainIvf]]), then score cosine ONLY within
    * each cluster and drop every vector that has a higher-similarity
    * twin with a smaller id. Output (vec_id, cluster, keep).
    *
    * 100 TB story: the quadratic pair scoring is confined to single
    * clusters — cost sum(n_c^2) instead of n^2, dialed by k; the
    * self-join shuffles both sides on the cluster id only. Skewed
    * (degenerate) clusters are the known failure mode, so it is
    * ENFORCED here, not just documented: clusters larger than
    * `maxCluster` are excluded from pair scoring entirely (their
    * members are kept verbatim) — the same bounded-bucket policy as
    * [[DedupOps.minHashCandidates]]'s `maxBucket`. One oversized
    * cluster then costs one window count instead of n_c² pairs;
    * recover its dedup by raising k (finer clusters), not the cap.
    * Centroid state is K x d, broadcast.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, threshold: Double,
                    maxCluster: Int = 100000): DataFrame = {
    val cents = trainIvf(emb, idCol, vecCol, k, iters).sortBy(_._1)
    val e = spread(emb)
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("cluster",
        graft.functions.NearestCentroidId(col("v"), cents))
    val bounded = e
      .withColumn("_cn", count(lit(1)).over(Window.partitionBy("cluster")))
      .where(col("_cn") <= maxCluster).drop("_cn")
    // The within-cluster pairing runs over DISTINCT vectors: replicated
    // embeddings (exact-dup media/text re-encoded) collapse to one
    // group each, so the cosine join is priced on the duplication-
    // independent distinct-vector space instead of |cluster|² id pairs
    // (measured 6× at the 10× duplication rehearsal). The drop rule
    // "∃ id' < id with cos ≥ threshold" factors exactly:
    //  - a NON-MINIMAL member of group g is dropped iff the group's
    //    self-cosine clears the threshold (its own minimum is the
    //    earlier witness), or some foreign qualifying group has a
    //    member below it — i.e. min_foreign < id;
    //  - the MINIMAL member is dropped iff min_foreign < it.
    // min_foreign(g) = min over foreign groups f with cos(g, f) ≥
    // threshold of min(f) — one aggregate over the distinct-pair join.
    val groups = bounded.groupBy(col("cluster"), col("v"), col("n"))
      .agg(collect_list(col("vec_id")).as("_ids"),
        min(col("vec_id")).as("_min"))
      .withColumn("_selfcos",
        dot(col("v"), col("v")) / (col("n") * col("n")))
    val aG = groups.select(col("cluster"), col("v").as("v1"),
      col("n").as("n1"), col("_min").as("min1"))
    val bG = groups.select(col("cluster"), col("v").as("v2"),
      col("n").as("n2"), col("_min").as("min2"))
    val foreign = aG.join(bG, Seq("cluster"))
      .where(col("min1") =!= col("min2"))
      .where(dot(col("v1"), col("v2")) / (col("n1") * col("n2"))
        >= threshold)
      .groupBy(col("cluster"), col("min1"))
      .agg(min(col("min2")).as("_t"))
    val drops = groups
      .join(foreign.select(col("cluster"), col("min1").as("_min"),
        col("_t")), Seq("cluster", "_min"), "left")
      .select(explode(col("_ids")).as("vec_id"), col("_min"),
        col("_selfcos"), col("_t"))
      .where((col("_selfcos") >= threshold && col("vec_id") > col("_min"))
        || (col("_t").isNotNull && col("vec_id") > col("_t")))
      .select(col("vec_id"))
      .withColumn("dropped", lit(true))
    e.select("vec_id", "cluster")
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(!col("dropped"), lit(true)).as("keep"))
  }

  /** Nearest-centroid (Rocchio) classifier over labeled embeddings —
    * the embedding-space analog of the fastText-style quality/domain
    * gate: per-label mean vectors, then every vector assigned to the
    * nearest centroid (squared euclidean, ties to the smaller label).
    * Centroids are QUANTIZED to `qdec` decimals exactly like
    * [[trainIvf]] — the quantization pins every downstream argmin to
    * exact decimal inputs, so the prediction is reproducible across
    * engines. Output (id, label, pred_label, dist2).
    *
    * 100 TB story: two corpus scans — one posexplode + hash aggregate
    * building the (n_labels x d) centroid table (dimension-sized,
    * never collected), one scoring pass against the broadcast
    * centroid arrays with codegen'd zip_with/aggregate folds; the
    * n_labels multiplier applies to rows, not exploded dims.
    */
  def nearestCentroid(emb: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, qdec: Int = 8): DataFrame = {
    val scale = math.pow(10, qdec)
    val e = spread(emb).select(col(idCol),
      col(labelCol).cast("int").as("label"), toDouble(col(vecCol)).as("v"))
    val cents = e.select(col("label").as("c_label"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("c_label", "dim")
      .agg((sum("x") / count(lit(1))).as("c"))
      .withColumn("c", floor(col("c") * scale + lit(0.5)) / scale)
    val carr = cents.groupBy("c_label")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("c_label"), transform(col("dc"), _.getField("c")).as("cv"))
    // same left-to-right fold the oracle's list_reduce replays —
    // native codegen (the zip_with/aggregate spelling is
    // CodegenFallback: one interpreted eval per ELEMENT)
    val scored = e.crossJoin(broadcast(carr))
      .withColumn("dd", graft.functions.SquaredDistance(col("v"), col("cv")))
    scored.groupBy(col(idCol), col("label"))
      .agg(min(struct(col("dd"), col("c_label"))).as("best"))
      .select(col(idCol), col("label"),
        col("best.c_label").as("pred_label"), col("best.dd").as("dist2"))
  }

  /** Deterministic +-1 sign for output-dim d, input-dim j of the
    * random-projection matrix — same Knuth-hash family as
    * [[hyperplane]], stride-protected against (d, j) aliasing.
    */
  def projSign(d: Int, j: Int): Int =
    if ((d.toLong * 100003 + j) * 2654435761L % 1000000007L % 2L == 0L) 1
    else -1

  /** Johnson-Lindenstrauss random projection: reduce `dim`-dim
    * embeddings to `outDim` dims with a deterministic +-1 sign matrix,
    * scaled by 1/sqrt(outDim) (preserves expected norms). Output long
    * form (id, out_dim, value) — the shape the IVF/LSH index builders
    * consume.
    *
    * 100 TB story: pure per-row native kernel (outDim x dim
    * multiply-adds, no shuffle, no UDF boxing); the deterministic
    * +-1 sign matrix is outDim x dim doubles embedded in the plan —
    * KiB-sized, never data-sized. Each output component is a
    * LEFT-TO-RIGHT fold over input dims: bit-exact against the
    * oracle's list_reduce.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int): DataFrame = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val mat = Array.tabulate(outDim, dim)((d, j) => projSign(d, j).toDouble)
    df.select(col(idCol), posexplode(
        graft.functions.ProjectVector(toDouble(col(vecCol)), mat, scale))
      .as(Seq("out_dim", "value")))
  }

  /** Embedding-space drift between two cohorts — the VECTOR member of
    * the drift family (PSI/KS/chi2 watch scalar columns; this one
    * answers "did the representation itself move?", the signal that a
    * re-embed or recalibration is due): cosine similarity and L2
    * distance between the cohort CENTROIDS.
    *
    * Exactness: components are fixed-point-scaled to `digits` decimals
    * (floor(x·10^d + 0.5) on the float→double value — exact in any
    * engine), so the per-dimension cohort sums are exact BIGINTs; each
    * centroid component is one division of those integers, and the
    * three norms/dot are fixed-order folds over the DIM-sorted list
    * (bounded by the embedding width, never the corpus). The L2 is
    * reported in raw embedding units (descaled once at the end).
    *
    * Plan shape: ONE scan — posexplode + a hash aggregate to
    * (dim × four bigints); everything after is |dims|-bounded. An
    * empty cohort yields null metrics via try_divide, never a throw.
    */
  def embeddingDrift(df: DataFrame, cohortCol: String, cohortA: Any,
                     cohortB: Any, vecCol: String,
                     digits: Int = 6): DataFrame = {
    val s = math.pow(10, digits)
    val e = df.where(col(cohortCol).isin(cohortA, cohortB))
      .select(col(cohortCol).as("_c"),
        posexplode(col(vecCol)).as(Seq("_d", "_x")))
      .select(col("_c"), col("_d"),
        floor(col("_x").cast("double") * lit(s) + lit(0.5)).as("_xq"))
    val dims = e.groupBy("_d").agg(
      sum(when(col("_c") === cohortA, col("_xq")).otherwise(0L)).as("_sa"),
      sum(when(col("_c") === cohortB, col("_xq")).otherwise(0L)).as("_sb"),
      sum(when(col("_c") === cohortA, 1L).otherwise(0L)).as("_na"),
      sum(when(col("_c") === cohortB, 1L).otherwise(0L)).as("_nb"))
    def fold(term: String, out: String) =
      StatsOps.orderedFoldSum(Seq("_d"), term).as(out)
    val agg = dims
      .select(col("_d"), col("_na"), col("_nb"),
        try_divide(col("_sa").cast("double"), col("_na")).as("_ca"),
        try_divide(col("_sb").cast("double"), col("_nb")).as("_cb"))
      .select(col("_d"), col("_na"), col("_nb"),
        (col("_ca") * col("_cb")).as("_dot"),
        (col("_ca") * col("_ca")).as("_a2"),
        (col("_cb") * col("_cb")).as("_b2"),
        ((col("_ca") - col("_cb")) * (col("_ca") - col("_cb"))).as("_dd"))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        fold("_dot", "dot"), fold("_a2", "a2"), fold("_b2", "b2"),
        fold("_dd", "dd"))
    agg.select(col("n_a"), col("n_b"),
      try_divide(col("dot"), sqrt(col("a2")) * sqrt(col("b2")))
        .as("cosine"),
      (sqrt(col("dd")) / lit(s)).as("l2_dist"))
  }

  /** Maximal Marginal Relevance re-ranking — the diversification step
    * a RAG retriever runs on its top-C shortlist so the k returned
    * passages aren't k copies of the best one: greedily pick
    *   argmax_c  λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s),
    * ties broken by ascending candidate id.
    *
    * Scale/exactness contract: the DISTRIBUTED work is
    * [[bruteForceTopK]] (or any ANN shortlist) — the greedy loop runs
    * on the driver over the C-bounded shortlist (a sanctioned
    * candidate-bounded collect, like the IVF centroid loops; C·dim
    * doubles + C² cached sims). Both relevance and pairwise cosines
    * are snapped to the 1e-`quantDigits` grid BEFORE any greedy
    * comparison, and every driver float op (index-order dot fold,
    * sqrt, the λ-blend) is the same IEEE expression an oracle
    * replays, so the selection SEQUENCE is deterministic. Shortlist
    * membership itself ranks on raw cosine (same rule as
    * bruteForceTopK).
    *
    * Output: (query_id, rank 1..k, neighbor_id, rel, mmr_score).
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, qId: String,
                cId: String, vecCol: String, topC: Int, k: Int,
                lambda: Double, quantDigits: Int = 8): DataFrame = {
    require(topC >= k && k >= 1, s"need topC >= k >= 1, got $topC, $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    val s = math.pow(10, quantDigits)
    def qq(x: Double): Double = math.floor(x * s + 0.5) / s
    val spark = corpus.sparkSession
    val top = bruteForceTopK(queries, corpus, qId, cId, vecCol, topC)
      .select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"), col("cosine"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), qq(r.getDouble(2))))
    val candIds = top.map(_._2).distinct
    val vecs: Map[Long, Array[Double]] = corpus
      .select(col(cId).cast("long").as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .where(col("_id").isin(candIds: _*))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray)
      .toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val out = top.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (query, cands) =>
        val rel = cands.map(c => c._2 -> c._3).toMap
        val simCache =
          scala.collection.mutable.Map.empty[(Long, Long), Double]
        def sim(a: Long, b: Long): Double =
          simCache.getOrElseUpdate(if (a < b) (a, b) else (b, a),
            qq(cosine(vecs(a), vecs(b))))
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Double, Double)]
        val remaining =
          scala.collection.mutable.SortedSet(rel.keysIterator.toSeq: _*)
        var r = 1
        while (r <= k && remaining.nonEmpty) {
          var bestId = -1L
          var bestScore = Double.NegativeInfinity
          // ascending-id iteration + strict > keeps the smallest id
          // on ties — the same (score DESC, id ASC) rule the oracle's
          // ORDER BY ... LIMIT 1 applies
          remaining.foreach { c =>
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(sM => sim(c, sM)).max
            val score = lambda * rel(c) - (1 - lambda) * maxSim
            if (score > bestScore) { bestScore = score; bestId = c }
          }
          selected += bestId
          remaining -= bestId
          rows += ((query, r, bestId, rel(bestId), bestScore))
          r += 1
        }
        rows
    }
    import spark.implicits._
    out.toDF("query_id", "rank", "neighbor_id", "rel", "mmr_score")
  }

  /** Int8 scalar quantization (SQ8) of an embedding column — the
    * memory-side companion to PQ: per-dimension min/max train the
    * affine code grid (code = round(255·(x−min)/(max−min))), and the
    * report is the per-label reconstruction MSE — the number that
    * decides whether the 4× memory saving is safe for the ANN recall
    * budget.
    *
    * Exactness: min/max are order-free; code and reconstruction error
    * are mirrored IEEE expressions of exact doubles (float widening
    * is exact), and the per-dim squared error snaps to a 1e-12 BIGINT
    * before any sum, so group means are exact integer ratios.
    *
    * 100 TB plan: two corpus scans (dim stats, then encode) — the dim
    * stats table is dim-bounded and broadcast back; no fact-sized
    * state anywhere.
    */
  def scalarQuantize8(df: DataFrame, idCol: String, vecCol: String,
                      groupCol: String): DataFrame = {
    val ex = df.where(col(vecCol).isNotNull)
      .select(col(idCol), col(groupCol),
        posexplode(col(vecCol)).as(Seq("_d", "_xf")))
      .select(col(idCol), col(groupCol), col("_d"),
        col("_xf").cast("double").as("_x"))
    val stats = ex.groupBy(col("_d"))
      .agg(min(col("_x")).as("_lo"), max(col("_x")).as("_hi"))
    val joined = ex.join(broadcast(stats), Seq("_d"))
    val span = col("_hi") - col("_lo")
    val code = when(span > 0,
      least(lit(255L), greatest(lit(0L),
        floor((col("_x") - col("_lo")) / span * lit(255.0) + lit(0.5))
          .cast("long")))).otherwise(lit(0L))
    val recon = col("_lo") + code.cast("double") / lit(255.0) * span
    val err = (col("_x") - recon) * (col("_x") - recon)
    joined
      .select(col(groupCol),
        floor(err * lit(1.0e12) + lit(0.5)).cast("long").as("_eq"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_dims"), sum(col("_eq")).as("_se"))
      .select(col(groupCol), col("n_dims"),
        (col("_se").cast("double") / lit(1.0e12) /
          col("n_dims").cast("double")).as("mse"))
  }

  /** Per-dimension mutual information against a label — feature
    * selection for embedding columns (which dims actually carry the
    * label?): components snap to a coarse grid, and each dim's
    * I(bucket; label) comes from exact integer (dim × bucket × label)
    * censuses with the fixed-order fold [[StatsOps.orderedFoldSum]]
    * walking the (bucket, label) cells — the one summation idiom every
    * cross-engine-exact statistic shares.
    *
    * 100 TB plan: one posexplode scan into a hash aggregate whose
    * output is (d × buckets × labels)-bounded; the marginals broadcast
    * back onto that bounded table. Nothing fact-sized downstream.
    */
  def featureMi(df: DataFrame, vecCol: String, labelCol: String,
                quantDigits: Int = 1): DataFrame = {
    val scale = math.pow(10, quantDigits)
    val ex = df.where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).as("_l"),
        posexplode(expr(s"transform($vecCol, x -> cast(floor(" +
          s"cast(x as double) * $scale + 0.5) as long))"))
          .as(Seq("_d", "_b")))
    val joint = ex.groupBy(col("_d"), col("_b"), col("_l"))
      .agg(count(lit(1)).as("_c"))
    val xm = joint.groupBy(col("_d"), col("_b"))
      .agg(sum(col("_c")).as("_cx"))
    val ym = joint.groupBy(col("_d"), col("_l"))
      .agg(sum(col("_c")).as("_cy"))
    val tot = joint.groupBy(col("_d")).agg(sum(col("_c")).as("_n"))
    def D(c: String) = col(c).cast("double")
    joint.join(broadcast(xm), Seq("_d", "_b"))
      .join(broadcast(ym), Seq("_d", "_l"))
      .join(broadcast(tot), Seq("_d"))
      .select(col("_d"), col("_b"), col("_l"), col("_n"),
        (D("_c") / D("_n") * log(D("_c") * D("_n") /
          (D("_cx") * D("_cy")))).as("_t"))
      .groupBy(col("_d"))
      .agg(max(col("_n")).as("n"),
        StatsOps.orderedFoldSum(Seq("_b", "_l"), "_t").as("mi"))
      .select(col("_d").cast("long").as("dim"), col("n"), col("mi"))
  }

  /** Top principal component by power iteration — the PCA sibling of
    * [[randomProject]] (data-adaptive axis instead of oblivious): the
    * d×d covariance Gram accumulates DISTRIBUTED as exact BIGINTs
    * (components snap to a 1e-4 grid, so Σ xᵢxⱼ is an order-free
    * integer sum; the grid is uniform across dims, which leaves the
    * eigenvector unchanged and scales the eigenvalue by exactly 1e8),
    * then `iters` fixed-order power steps run on the driver over the
    * d²-bounded collected matrix (the codebook-collect budget). Sign
    * and value are deterministic: v₀ = e₀ and every fold is ascending
    * index, so an engine replaying the same folds reproduces the
    * vector bit-for-bit.
    *
    * 100 TB plan: ONE corpus scan emitting d² products per row into a
    * map-side-combined hash aggregate (the standard O(n·d²) Gram
    * cost); everything after is d-bounded. Returns one row per dim:
    * (dim, loading, lambda, n).
    */
  def pcaPower(df: DataFrame, idCol: String, vecCol: String,
               iters: Int = 8, components: Int = 1): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters in [1,32], got $iters")
    require(components >= 1 && components <= 8,
      s"components in [1,8], got $components")
    val q = expr(s"transform($vecCol, x -> " +
      "cast(floor(cast(x as double) * 10000.0 + 0.5) as long))")
    val base = df.where(col(vecCol).isNotNull).select(q.as("_q"))
    val gram = base
      .select(posexplode(expr(
        "flatten(transform(_q, x -> transform(_q, y -> x * y)))"))
        .as(Seq("_ij", "_p")))
      .groupBy(col("_ij")).agg(sum(col("_p")).as("_s"))
    val dimSums = base
      .select(posexplode(col("_q")).as(Seq("_d", "_x")))
      .groupBy(col("_d"))
      .agg(sum(col("_x")).as("_sx"), count(lit(1)).as("_n"))
    // d²- and d-bounded collects (the codebook budget)
    val sums = gram.collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val dims = dimSums.collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val spark = df.sparkSession
    import spark.implicits._
    if (dims.isEmpty) return Seq.empty[(Int, Int, Double, Double, Long)]
      .toDF("component", "dim", "loading", "lambda", "n")
    val d = dims.keys.max + 1
    val n = dims(0)._2
    val nD = n.toDouble
    val c = Array.tabulate(d, d) { (i, j) =>
      sums(i.toLong * d + j).toDouble / nD -
        (dims(i)._1.toDouble / nD) * (dims(j)._1.toDouble / nD)
    }
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
    val rows = (1 to components).flatMap { comp =>
      var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
      for (_ <- 1 to iters) {
        val u = matvec(v)
        var n2 = 0.0; var i = 0
        while (i < d) { n2 += u(i) * u(i); i += 1 }
        val nm = math.sqrt(n2)
        v = u.map(_ / nm)
      }
      val w = matvec(v)
      var lamGrid = 0.0
      var i = 0
      while (i < d) { lamGrid += v(i) * w(i); i += 1 }
      // Hotelling deflation: C <- C - lambda v v^T removes the found
      // component so the SAME v0 = e0 power loop finds the next one
      if (comp < components) {
        var a = 0
        while (a < d) {
          var b = 0
          while (b < d) { c(a)(b) -= lamGrid * v(a) * v(b); b += 1 }
          a += 1
        }
      }
      val lambda = lamGrid / 1.0e8
      v.zipWithIndex.map { case (x, dim) => (comp, dim, x, lambda, n) }
    }
    rows.toDF("component", "dim", "loading", "lambda", "n")
  }
}
