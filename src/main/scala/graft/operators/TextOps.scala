package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.{IndexCommits => IC, IndexStore => IS}

/** Text-analysis operators for large-scale training-data pipelines
  * (builder brief: language-ID, quality scoring, token counting,
  * document fingerprinting). Everything is an embarrassingly parallel
  * scan — no shuffles, no driver-side loops.
  *
  * Hash design: all hashing is an explicit 31-base polynomial rolling
  * hash mod 1e9+7 over character codes, NOT Spark's builtin xxhash64 —
  * the explicit form is engine-portable (the DuckDB oracle computes the
  * identical integers) and integer-exact. Constants below are shared
  * with the oracle SQL generators in Queries.
  *
  * PERF NOTE (measured): the hash kernels are compiled Scala UDFs, not
  * higher-order-function column expressions. Spark's array HOFs
  * (transform/aggregate) are CodegenFallback — interpreted
  * Expression.eval per element — and nested per-character trees get
  * re-inlined by projection collapse (16x for a minhash signature);
  * on the sf0.1 documents table that was >800 s of single-task CPU.
  * The compiled UDFs do the identical integer math at JVM speed.
  */
object TextOps {

  val HashBase = 31L
  val HashMod = 1000000007L

  /** Second independent hash family for the 128-bit composite dedup
    * key — different base AND modulus (both prime), so the two hashes
    * collide together only with ~2^-59 probability per pair.
    */
  val HashBase2 = 131L
  val HashMod2 = 998244353L

  /** Polynomial rolling hash of a string: fold (acc*base + code) % mod. */
  def polyHashFn(s: String, base: Long = HashBase, mod: Long = HashMod): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * base + s.charAt(i).toInt) % mod
      i += 1
    }
    acc
  }

  /** Whitespace tokens, keeping empties — mirrors SQL string_split. */
  def wordsFn(s: String): Array[String] = s.split(" ", -1)

  def wordHashesFn(s: String): Array[Long] = wordsFn(s).map(w => polyHashFn(w))

  /** POSITIONAL hashes of n-word shingles — out(i) = hash of
    * words[i..i+n-1] (base-31^k positional combine); NOT distinct, so
    * index IS token position. The anchor stream for exact-substring
    * run extension; [[shingleHashesFn]] is this plus distinct.
    */
  def positionalShingleHashesFn(s: String, n: Int): Array[Long] = {
    val wh = wordHashesFn(s)
    if (wh.length < n) return Array.empty
    val weights = Array.tabulate(n)(k => {
      var w = 1L; (0 until (n - 1 - k)).foreach(_ => w = w * HashBase % HashMod); w
    })
    val out = new Array[Long](wh.length - n + 1)
    var i = 0
    while (i <= wh.length - n) {
      var acc = 0L
      var k = 0
      while (k < n) { acc += wh(i + k) * weights(k) % HashMod; k += 1 }
      out(i) = acc % HashMod
      i += 1
    }
    out
  }

  /** Distinct hashes of n-word shingles (base-31^k positional combine). */
  def shingleHashesFn(s: String, n: Int): Array[Long] =
    positionalShingleHashesFn(s, n).distinct

  /** Polynomial rolling hash of a string column — a native Catalyst
    * expression with whole-stage codegen (graft.functions.PolyHash);
    * the one custom Expression the engine needs (SURVEY.md §7.2).
    */
  def polyHash(c: Column): Column = graft.functions.PolyHash(c)

  /** The independent second hash (base 131, mod 998244353). */
  def polyHash2(c: Column): Column =
    graft.functions.PolyHash(c, HashBase2, HashMod2)

  /** Whitespace tokens. */
  def words(c: Column): Column = split(c, " ")

  /** Per-word polynomial hashes — native codegen kernel (no UDF
    * wrapper on the corpus scan; see functions.WordHashArr).
    */
  def wordHashes(c: Column): Column = graft.functions.WordHashArr(c)

  /** Hashes of n-word shingles: combine n consecutive word hashes
    * positionally (base-31^k weights, mod M). Returns DISTINCT shingle
    * hashes — the set form used by Jaccard / MinHash. Native codegen
    * kernel (functions.ShingleHashArr).
    */
  def shingleHashes(c: Column, n: Int): Column =
    graft.functions.ShingleHashArr(c, n)

  /** Positional (non-distinct) n-word shingle hashes — array index =
    * token position. Native codegen kernel
    * (functions.PosShingleHashArr).
    */
  def positionalShingleHashes(c: Column, n: Int): Column =
    graft.functions.PosShingleHashArr(c, n)

  /** Winnowed fingerprints (Schleimer et al. 2003, the MOSS local
    * fingerprinting scheme): slide a window of `w` consecutive n-gram
    * shingle hashes and keep each window's MINIMUM; the distinct kept
    * values are the document's fingerprint set. Guarantee: any shared
    * substring of at least w + n - 1 words contributes at least one
    * COMMON fingerprint to both documents, while only ~2/(w+1) of all
    * shingles are kept — the density/recall dial for substring-level
    * dup detection. A document shorter than one window keeps the
    * minimum of what it has.
    */
  def winnowFingerprintsFn(s: String, n: Int, w: Int): Array[Long] = {
    val wh = wordHashesFn(s)
    if (wh.length < n) return Array.empty
    val weights = Array.tabulate(n)(k => {
      var x = 1L; (0 until (n - 1 - k)).foreach(_ => x = x * HashBase % HashMod); x
    })
    val m = wh.length - n + 1
    val sh = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var k = 0
      while (k < n) { acc += wh(i + k) * weights(k) % HashMod; k += 1 }
      sh(i) = acc % HashMod
      i += 1
    }
    val out = new Array[Long](math.max(m - w, 0) + 1)
    i = 0
    while (i < out.length) {
      var mn = Long.MaxValue
      var j = i
      val end = math.min(i + w, m)
      while (j < end) { if (sh(j) < mn) mn = sh(j); j += 1 }
      out(i) = mn
      i += 1
    }
    out.distinct
  }

  /** Column form of [[winnowFingerprintsFn]] — native codegen kernel
    * (functions.WinnowFpArr).
    */
  def winnowFingerprints(c: Column, n: Int, w: Int): Column =
    graft.functions.WinnowFpArr(c, n, w)

  /** Token counts: whitespace tokens and a BPE-ish regex token count
    * (letter runs / digits / other non-space singletons).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_words", size(words(col(textCol))))
      .withColumn("n_tokens_regex",
        size(regexp_extract_all(col(textCol), lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"), lit(0))))

  /** Exact phrase search via a positional inverted index — the
    * word-order-aware companion to [[bm25Score]] (bag-of-words). Each
    * posting (doc, pos, word) that matches ANY phrase term is mapped to
    * its implied phrase START (anchor = pos − term index) tagged with a
    * term bitmask; one hash aggregate per (doc, anchor) bit-ORs the
    * masks, and anchors whose mask is complete are occurrences. A term
    * repeated in the phrase contributes every one of its positions'
    * bits, so "a b a" style phrases work unchanged.
    *
    * Scale shape: the only full-corpus work is the posting explode +
    * ONE shuffle keyed (doc, anchor) — and the broadcast term join
    * discards every posting whose word is not in the phrase before the
    * shuffle, so shuffle volume is the phrase terms' posting lists,
    * exactly what a search engine reads for the query. No window, no
    * self-join on the corpus. Output: (id, n_matches > 0).
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    // the completeness mask packs one bit per phrase position into a
    // Long — 64+ terms would silently overflow the shift
    require(phrase.size <= 63,
      s"phraseSearch supports at most 63 phrase terms, got ${phrase.size}")
    val spark = df.sparkSession
    import spark.implicits._
    val terms = phrase.zipWithIndex.toDF("_w", "_i")
    val full = (1L << phrase.size) - 1
    val postings = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("_pos", "_word")))
    postings.join(broadcast(terms), col("_word") === col("_w"))
      .select(col(idCol), (col("_pos") - col("_i")).as("_anchor"),
        expr("shiftleft(1L, _i)").as("_m"))
      .groupBy(col(idCol), col("_anchor"))
      .agg(expr("bit_or(_m)").as("_mask"))
      .where(col("_mask") === full)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** NDCG@k of a scored ranking against graded relevance — the
    * retrieval-quality eval that completes the bm25 / hybrid family
    * (ann_recall covers the binary-relevance embedding side). DCG uses
    * the standard rel / log2(rank+1) discount, written as ln(·)/ln(2)
    * so any IEEE engine evaluates the identical expression; both DCG
    * and the ideal DCG are FIXED-ORDER folds over the k selected rows
    * (rank-sorted array aggregate, never a parallel float sum), so the
    * numbers are engine-exact up to qround.
    *
    * Scale shape: the only corpus-sized work is two TakeOrdered top-k
    * selections (per-partition heaps, no global sort, no shuffle of
    * the fact); the rank windows and folds run on the k survivors.
    */
  def ndcgAtK(scored: DataFrame, idCol: String, relCol: String,
              scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "ndcgAtK needs a positive k")
    def dcgOf(ordCol: String, out: String) = {
      val top = scored.orderBy(col(ordCol).desc, col(idCol)).limit(k)
        .withColumn("_rk", row_number().over(
          Window.orderBy(col(ordCol).desc, col(idCol))))
      top.agg(expr(
        s"""aggregate(array_sort(collect_list(struct(_rk, $relCol))),
           |  cast(0.0 as double),
           |  (acc, x) -> acc + cast(x.$relCol as double)
           |    / (ln(cast(x._rk as double) + 1.0d) / ln(2.0d)))"""
          .stripMargin).as(out))
    }
    dcgOf(scoreCol, "dcg").crossJoin(broadcast(dcgOf(relCol, "idcg")))
      .select(col("dcg"), col("idcg"),
        // a batch with zero relevant docs has idcg 0 — NDCG is
        // undefined there, and under ANSI mode a plain `/` would kill
        // the job instead of yielding the null the metric wants
        try_divide(col("dcg"), col("idcg")).as("ndcg"))
  }

  /** MRR@k — reciprocal rank of the FIRST relevant hit in the top-k,
    * the position-of-first-answer companion to [[ndcgAtK]] (NDCG
    * grades the whole ranking; MRR asks only "how far down is the
    * first good result", the metric RAG retrieval stacks report).
    * Relevance = `relCol >= relMin`.
    *
    * Determinism: ranking order is (scoreCol desc, idCol) — callers
    * pass an already-quantized score so both engines take identical
    * top-k — and rr derives from the integer rank as
    * floor(1e8 / rank) / 1e8 (one correctly-rounded division, then a
    * grid snap), so it is engine-exact without any float fold. A
    * top-k with no relevant hit yields null rank and null rr.
    *
    * Plan shape: TakeOrdered(k) then a window + aggregate over the k
    * survivors — nothing fact-sized past the top-k, same contract as
    * ndcgAtK.
    */
  def mrrAtK(scored: DataFrame, idCol: String, relCol: String,
             scoreCol: String, k: Int, relMin: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "mrrAtK needs a positive k")
    val rel = col(relCol).cast("long") >= relMin
    scored.orderBy(col(scoreCol).desc, col(idCol)).limit(k)
      .withColumn("_rk", row_number().over(
        Window.orderBy(col(scoreCol).desc, col(idCol))).cast("long"))
      .agg(sum(when(rel, 1L).otherwise(0L)).as("n_rel_topk"),
        min(when(rel, col("_rk"))).as("first_rel_rank"))
      .select(col("n_rel_topk"), col("first_rel_rank"),
        (floor(lit(1.0e8) / col("first_rel_rank")) / lit(1.0e8)).as("rr"))
  }

  /** Average precision @ k of a scored ranking — the area-under-PR
    * companion to [[mrrAtK]] (position of EVERY answer, not just the
    * first): AP = Σ_{relevant i ≤ k} P@i / min(R, k), with R the
    * corpus-wide relevant count so a retriever is penalized for
    * answers it never surfaced. MAP over a query set is the mean of
    * this per query.
    *
    * Determinism: each P@i = cum_rel(i)/i is one IEEE division on
    * exact integers, then snapped to the 1e-8 grid AS A BIGINT — the
    * sum is integer (order-free) and the final normalization is the
    * only remaining float op, so any oracle replays it exactly.
    * Scale: TakeOrdered top-k (never a global fact sort) + one scalar
    * aggregate for R; the window walks k rows.
    */
  def averagePrecisionAtK(scored: DataFrame, idCol: String, relCol: String,
                          scoreCol: String, k: Int,
                          relMin: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "averagePrecisionAtK needs a positive k")
    val rel = col(relCol).cast("long") >= relMin
    val nRel = scored.agg(
      sum(when(rel, 1L).otherwise(0L)).as("n_rel_corpus"))
    val byRank = Window.orderBy(col("_rk"))
    scored.orderBy(col(scoreCol).desc, col(idCol)).limit(k)
      .withColumn("_rk", row_number().over(
        Window.orderBy(col(scoreCol).desc, col(idCol))).cast("long"))
      .withColumn("_crel", sum(when(rel, 1L).otherwise(0L)).over(byRank))
      .agg(
        sum(when(rel, floor(col("_crel").cast("double") / col("_rk")
          * lit(1.0e8) + lit(0.5)).cast("long")).otherwise(0L)).as("_psum"),
        sum(when(rel, 1L).otherwise(0L)).as("n_rel_topk"))
      .crossJoin(nRel)
      .select(col("n_rel_corpus"), col("n_rel_topk"),
        (col("_psum").cast("double") / lit(1.0e8) /
          least(col("n_rel_corpus"), lit(k.toLong)).cast("double"))
          .as("ap"))
  }

  /** Zipf power-law fit of the term-frequency distribution — the
    * does-this-corpus-look-like-natural-language diagnostic (natural
    * text has alpha near 1; boilerplate/spam/machine-generated dumps
    * bend the rank-frequency line): OLS of log f on log rank over the
    * top-N vocabulary, alpha = −slope.
    *
    * Determinism: the regression runs on LOGS QUANTIZED TO THE 1e-6
    * GRID as exact BIGINTs — the four accumulated sums are integer
    * (sum order free), and the slope/intercept closed forms are the
    * only float ops. Ranks come from the deterministic
    * (freq desc, term) order.
    *
    * Plan shape: one fact-scan hash aggregate to the vocab-bounded
    * term-frequency table, a TakeOrdered top-N of THAT table (never a
    * global sort of the fact), a window + one aggregate over the N
    * survivors. Scale: the fit is top-N by construction — the power
    * law lives in the head, and the N-row tail stage is constant-size
    * at any corpus scale.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 2, "zipfFit needs at least 2 ranks to fit a line")
    val tf = df.select(explode(words(col(textCol))).as("_w"))
      .where(length(col("_w")) > 0)
      .groupBy("_w").agg(count(lit(1)).as("_f"))
    val top = tf.orderBy(col("_f").desc, col("_w")).limit(topN)
      .withColumn("_r", row_number().over(
        Window.orderBy(col("_f").desc, col("_w"))))
    val lr = floor(log(col("_r").cast("double")) * lit(1.0e6) + lit(0.5))
      .cast("long")
    val lf = floor(log(col("_f").cast("double")) * lit(1.0e6) + lit(0.5))
      .cast("long")
    val g = top.select(lr.as("_lr"), lf.as("_lf"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("_lr")).as("_slr"), sum(col("_lf")).as("_slf"),
        sum(col("_lr") * col("_lr")).as("_slrr"),
        sum(col("_lr") * col("_lf")).as("_slrf"))
    val nD = col("n_terms").cast("double")
    def D(c: String) = col(c).cast("double")
    // try_divide: a degenerate corpus where every top term has rank
    // domain of one point (topN rows all rank-tied is impossible, but
    // n_terms = 1 after an undersized vocab is not) zeroes the
    // denominator — null fit, never a throw
    val slope = try_divide(nD * D("_slrf") - D("_slr") * D("_slf"),
      nD * D("_slrr") - D("_slr") * D("_slr"))
    g.select(col("n_terms"), (-slope).as("alpha"),
      (try_divide(D("_slf") - slope * D("_slr"), nD) / lit(1.0e6))
        .as("log_c"))
  }

  /** Add-one-smoothed bigram language model TRAINING — the counts →
    * conditional-probability step whose scoring half is [[lmScore]].
    * P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V) with V the corpus
    * vocabulary size; every input is an exact integer, so the single
    * division is bit-identical across engines.
    *
    * Plan shape: bigram extraction is a native transform/sequence
    * explode riding the scan (no UDF); ONE hash aggregate over
    * (w1, w2) — vocab²-bounded state, map-side combined; the
    * context totals derive from that aggregate itself (vocab-sized
    * re-aggregate, broadcast back); V rides a 1-row broadcast.
    */
  def bigramLmTrain(df: DataFrame, textCol: String): DataFrame = {
    val ws = words(col(textCol))
    // PRE-PROJECT the split array: a lambda that references
    // split(text) re-evaluates the split PER ELEMENT (O(words²) per
    // doc — measured 3.1 s vs 0.6 s at sf0.1); `_ws` is computed once
    // per row. Guard single-word docs: sequence(0, -1) DESCENDS.
    val pairs = df.select(ws.as("_ws")).where(size(col("_ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(_ws) - 2),
          |  i -> struct(_ws[i] AS w1, _ws[i + 1] AS w2))""".stripMargin))
        .as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val ctx = pairs.groupBy(col("w1")).agg(sum(col("n_pair")).as("_c1"))
    val vocab = df.select(explode(ws).as("_w")).agg(
      countDistinct(col("_w")).as("_v"))
    pairs.join(broadcast(ctx), Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("n_pair"),
        ((col("n_pair").cast("double") + lit(1.0)) /
          (col("_c1").cast("double") + col("_v").cast("double"))).as("p"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau) — corpus-level
    * keywords as the PageRank centrality of the word-adjacency graph:
    * adjacent content words (length ≥ minLen, no self-loops) form
    * undirected edges, [[graft.operators.DedupOps.pageRankIntegers]]
    * ranks them in exact integer micro-units (deterministic at any
    * parallelism — no float sum-order hazard), top-N by
    * (rank DESC, word) comes back.
    *
    * Scale shape: one fact scan to the DISTINCT adjacency list
    * (vocab²-bounded, in practice ~vocab-sized), then the PageRank
    * joins ride |edges|; the top-N is a TakeOrdered on the vocab
    * table, never a fact sort.
    */
  def textRankKeywords(df: DataFrame, textCol: String, minLen: Int = 4,
                       iters: Int = 3, topN: Int = 20): DataFrame = {
    val ws = words(col(textCol))
    val pairs = df.select(ws.as("_ws")).where(size(col("_ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(_ws) - 2),
          |  i -> struct(_ws[i] AS w1, _ws[i + 1] AS w2))""".stripMargin))
        .as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .where(length(col("w1")) >= minLen && length(col("w2")) >= minLen &&
        col("w1") =!= col("w2"))
      .distinct()
    graft.operators.DedupOps.pageRankIntegers(pairs, "w1", "w2", iters)
      .orderBy(col("rank").desc, col("id"))
      .limit(topN)
      .select(col("id").as("word"), col("rank"))
  }

  /** Held-out bigram-LM perplexity — the intrinsic LM eval every
    * data-mixture decision reads (Gopher/Chinchilla-style "does this
    * corpus slice predict that one"): train an add-one bigram model
    * on the `trainFrac` hash split of documents, score the remaining
    * split, report mean log-prob and perplexity.
    *
    * Exactness: each bigram's p = (n_pair + 1)/(c1 + V) is one exact
    * division of integers (unseen contexts coalesce to 0); per-bigram
    * ln(p) snaps to the 1e-6 grid AS A BIGINT, so the corpus sum is
    * order-free integer arithmetic weighted by exact test counts —
    * the zipf_fit discipline. Perplexity = exp(−mean) is the single
    * remaining float op.
    *
    * Plan shape: train counts are one vocab²-bounded hash aggregate;
    * test bigrams aggregate to their own (pair × count) table BEFORE
    * the two left joins (pair table, context table) — the joins ride
    * vocab²-bounded relations, never fact rows.
    */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                       trainFrac: Double = 0.8): DataFrame = {
    import graft.operators.SampleOps
    val cut = math.floor(trainFrac * SampleOps.SplitBuckets).toLong
    val bucket = SampleOps.splitBucket(col(idCol))
    val ws = words(col(textCol))
    def bigrams(src: DataFrame): DataFrame = src
      .select(ws.as("_ws")).where(size(col("_ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(_ws) - 2),
          |  i -> struct(_ws[i] AS w1, _ws[i + 1] AS w2))""".stripMargin))
        .as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("_n"))
    val train = df.where(bucket < cut)
    val test = df.where(bucket >= cut)
    val pairs = bigrams(train).withColumnRenamed("_n", "_np")
    val ctx = pairs.groupBy("w1").agg(sum("_np").as("_c1"))
    val vocab = train.select(explode(ws).as("_w"))
      .agg(countDistinct(col("_w")).as("_v"))
    val scored = bigrams(test).withColumnRenamed("_n", "_nt")
      .join(pairs, Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("_nt"),
        floor(log((coalesce(col("_np"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("_c1"), lit(0L)) + col("_v")).cast("double")) *
          lit(1.0e6) + lit(0.5)).cast("long").as("_lq"))
    scored.agg(sum(col("_nt")).as("n_test_bigrams"),
        sum(col("_nt") * col("_lq")).as("_slq"))
      .select(col("n_test_bigrams"),
        (col("_slq").cast("double") / lit(1.0e6) /
          col("n_test_bigrams").cast("double")).as("avg_logp"))
      .withColumn("perplexity", exp(-col("avg_logp")))
  }

  /** Interpolated Kneser-Ney bigram perplexity — the smoothing that
    * actually wins LM evals, next to [[bigramPerplexity]]'s add-one
    * baseline: P(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1,·)/c1 ·
    * Pcont(w2), with the continuation probability built from TYPE
    * counts (how many distinct contexts precede w2) instead of raw
    * frequency — which is why "Francisco" (frequent, one context)
    * stops stealing mass from genuinely productive words. Unseen
    * contexts back off to Pcont entirely; Pcont is add-one smoothed
    * over (T + V + 1) so unseen test words keep finite log-loss.
    *
    * Exactness: every model quantity is an exact integer type/token
    * census; each test bigram's log-probability is one mirrored IEEE
    * expression snapped to a 1e-6 BIGINT before the weighted sum.
    * Plan: token explode → vocab-bounded pair/context/continuation
    * tables, broadcast onto the test bigram table.
    */
  def kneserNeyPerplexity(df: DataFrame, idCol: String, textCol: String,
                          trainFrac: Double = 0.8,
                          discount: Double = 0.75): DataFrame = {
    import graft.operators.SampleOps
    require(discount > 0 && discount < 1, s"discount in (0,1): $discount")
    val cut = math.floor(trainFrac * SampleOps.SplitBuckets).toLong
    val bucket = SampleOps.splitBucket(col(idCol))
    val ws = words(col(textCol))
    def bigrams(src: DataFrame): DataFrame = src
      .select(ws.as("_ws")).where(size(col("_ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(_ws) - 2),
          |  i -> struct(_ws[i] AS w1, _ws[i + 1] AS w2))""".stripMargin))
        .as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("_n"))
    val train = df.where(bucket < cut)
    val test = df.where(bucket >= cut)
    val pairs = bigrams(train).withColumnRenamed("_n", "_np")
    val ctx = pairs.groupBy("w1")
      .agg(sum("_np").as("_c1"), count(lit(1)).as("_n1f"))
    val bwd = pairs.groupBy("w2").agg(count(lit(1)).as("_n1b"))
    val types = pairs.agg(count(lit(1)).as("_tt"))
    val vocab = train.select(explode(ws).as("_w"))
      .agg(countDistinct(col("_w")).as("_v"))
    def D(c: Column) = c.cast("double")
    val pc = (D(coalesce(col("_n1b"), lit(0L))) + lit(1.0)) /
      (D(col("_tt")) + D(col("_v")) + lit(1.0))
    val dd = lit(discount)
    val p = when(coalesce(col("_c1"), lit(0L)) > 0,
      greatest(D(coalesce(col("_np"), lit(0L))) - dd, lit(0.0)) /
        D(col("_c1")) +
        dd * D(col("_n1f")) / D(col("_c1")) * pc)
      .otherwise(pc)
    val scored = bigrams(test).withColumnRenamed("_n", "_nt")
      .join(pairs, Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(bwd), Seq("w2"), "left")
      .crossJoin(broadcast(types)).crossJoin(broadcast(vocab))
      .select(col("_nt"),
        floor(log(p) * lit(1.0e6) + lit(0.5)).cast("long").as("_lq"))
    scored.agg(sum(col("_nt")).as("n_test_bigrams"),
        sum(col("_nt") * col("_lq")).as("_slq"))
      .select(col("n_test_bigrams"),
        (col("_slq").cast("double") / lit(1.0e6) /
          col("n_test_bigrams").cast("double")).as("avg_logp"))
      .withColumn("perplexity", exp(-col("avg_logp")))
  }

  /** Pointwise mutual information over within-document word
    * co-occurrence — the collocation / phrase-mining readout
    * (PMI(x,y) = ln(c_xy·N / (df_x·df_y)) over document frequencies).
    * Words below `minCount` document frequency are pruned BEFORE the
    * pairing self-join, which is the standard scale lever: the join
    * blow-up is per-document distinct-vocab², and pruning plus the
    * x < y canonical order cut it to the survivors' half-matrix. All
    * counts are exact integers; the single ln() over their exact
    * ratio is evaluated in the same op order by both engines.
    *
    * Scale shape: one explode + distinct (shuffle keyed (doc, word)),
    * one doc-frequency aggregate (vocab-sized), a vocab-keyed
    * frequency join, and the per-doc self-join keyed on the doc id.
    * N rides a 1-row broadcast, never a driver action.
    */
  def wordPmi(df: DataFrame, idCol: String, textCol: String,
              minCount: Long = 2L): DataFrame = {
    val dw = df.select(col(idCol).as("_doc"),
      explode(array_distinct(words(col(textCol)))).as("_w")).distinct()
    val nDocs = df.agg(count(lit(1)).as("_ndocs"))
    val dfreq = dw.groupBy(col("_w")).agg(count(lit(1)).as("_df"))
      .where(col("_df") >= minCount)
    val kept = dw.join(dfreq, "_w")
    val lhs = kept.select(col("_doc"), col("_w").as("w1"),
      col("_df").as("_df1"))
    val rhs = kept.select(col("_doc"), col("_w").as("w2"),
      col("_df").as("_df2"))
    lhs.join(rhs, Seq("_doc")).where(col("w1") < col("w2"))
      .groupBy(col("w1"), col("w2"), col("_df1"), col("_df2"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
      .crossJoin(broadcast(nDocs))
      .select(col("w1"), col("w2"), col("n_pair"),
        log((col("n_pair").cast("double") * col("_ndocs").cast("double")) /
          (col("_df1").cast("double") * col("_df2").cast("double")))
          .as("pmi"))
  }

  /** Sliding-window document chunking — the RAG / pretraining prep
    * step: split each document's word stream into windows of `size`
    * tokens advancing by `stride` (stride < size gives the standard
    * overlapping windows). Chunk starts are 0, stride, 2*stride, ...
    * while they fall inside the document; the final window is partial.
    * Output (id, chunk_id, chunk_text, n_tokens).
    *
    * 100 TB story: pure per-row generate+project of NATIVE functions
    * (sequence/slice/array_join — whole-stage codegen, no UDF), no
    * shuffle at all; output row count is input tokens / stride.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0)
    val ws = words(col(textCol))
    val n = org.apache.spark.sql.functions.size(ws)
    df.withColumn("_ws", ws)
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          floor((n - lit(1)) / lit(stride)).cast("int"))))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("_ws"), col("chunk_id") * stride + 1, lit(size)), " ")
          .as("chunk_text"),
        org.apache.spark.sql.functions
          .size(slice(col("_ws"), col("chunk_id") * stride + 1, lit(size)))
          .cast("long").as("n_tokens"))
  }

  /** Distributed BPE merge induction (Sennrich et al. 2016,
    * arXiv:1508.07909) — the tokenizer-training primitive. Symbols
    * start as single characters; each round counts adjacent symbol
    * pairs over the frequency-weighted vocabulary and fuses the
    * (count desc, then lexicographic) argmax pair in every word,
    * left-to-right non-overlapping. Returns the merge table
    * (merge_rank, sym_left, sym_right, pair_count) — the artifact a
    * BPE tokenizer ships.
    *
    * 100 TB story: the corpus is scanned ONCE (word-frequency hash
    * aggregate, map-side combined); the merge induction itself is
    * VOCABULARY-sized, never corpus-sized — exactly the structure of
    * Sennrich's learn_bpe, which operates on the word-frequency
    * dictionary. When the vocabulary fits the driver
    * (<= maxDriverVocab distinct words) the whole induction runs
    * there as an incremental pair-count loop (lazy-deletion heap,
    * per-word delta updates): nMerges merges cost ZERO extra Spark
    * jobs after the one corpus aggregate, instead of one
    * explode+agg+limit+rewrite job per merge. Past the threshold the
    * BATCHED distributed loop below takes over: each round collects
    * the top-K pair counts once and applies the longest provably
    * order-safe prefix of them ([[safeBatchPrefix]]) in a single
    * rewrite job (checkpointed so the plan never re-grows) — up to K
    * merges for two jobs when the head of the pair distribution is
    * symbol-disjoint, degrading gracefully to the classic one merge
    * per round when it is not. Both paths are bit-identical: same
    * overlapping pair counting, same (count desc, UTF-8-byte
    * lexicographic) argmax, same greedy left-to-right non-overlapping
    * rewrite.
    */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int,
                maxDriverVocab: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // split by CODEPOINT, not UTF-16 char — surrogate halves are not
    // symbols (and the oracle's string_split works on codepoints)
    val toSyms = udf((w: String) =>
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp))))
    var vocab = df.select(explode(words(col(textCol))).as("wd"))
      .where(length(col("wd")) > 0)
      .groupBy("wd").agg(count(lit(1)).as("wc"))
      .select(toSyms(col("wd")).as("syms"), col("wc"))
      .localCheckpoint()
    if (vocab.count() <= maxDriverVocab) {
      val words0 = vocab.as[(Seq[String], Long)].collect()
        .map { case (s, c) => (s.toArray, c) }
      val merges = bpeMergesLocal(words0, nMerges)
      return merges.toSeq.toDF("merge_rank", "sym_left", "sym_right",
        "pair_count")
    }
    val pairsUdf = udf((s: Seq[String]) =>
      if (s.length < 2) Seq.empty[(String, String)]
      else s.sliding(2).map(p => (p(0), p(1))).toSeq)
    val merges = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    // BATCHED rounds (round-8 verdict item 5): one pair-count job used
    // to run per MERGE (100 merges = 100 explode+agg jobs). Each round
    // now collects the top-K pairs once and applies the longest PREFIX
    // of them that provably replays sequential greedy order (see
    // safeBatchPrefix) in ONE rewrite job — same merges bit-for-bit,
    // jobs per round amortized over the whole accepted batch.
    val topK = 64
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      // the round's pair-count table is consumed by THREE bounded
      // actions (top-K, two max-profiles), so it is cached for the
      // round and dropped after — pair-alphabet-sized, never corpus-
      // sized
      val pairAgg = vocab
        .select(col("wc"), explode(pairsUdf(col("syms"))).as("pr"))
        .groupBy(col("pr._1").as("l"), col("pr._2").as("r"))
        .agg(sum("wc").as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batch = try {
        val top = pairAgg
          // tie-break on UTF-8 BYTES, not strings: Spark compares
          // strings by UTF-16 code unit while DuckDB compares UTF-8
          // bytes — for U+E000..U+FFFF vs supplementary-plane symbols
          // the two orders differ. Both engines compare binary
          // unsigned-lexicographically, so encode() agrees everywhere.
          .orderBy(col("cnt").desc, encode(col("l"), "UTF-8"),
            encode(col("r"), "UTF-8"))
          .limit(topK).collect()
          .map(r => (r.getAs[String]("l"), r.getAs[String]("r"),
            r.getAs[Long]("cnt")))
        if (top.isEmpty) Array.empty[(String, String, Long)]
        else {
          // EXACT per-symbol adjacency maxima over the FULL pair table
          // for the symbols the batch-safety proof inspects (candidate
          // symbols + their concatenations) — two |syms|-bounded
          // collects off the cached aggregate
          val syms = (top.map(_._1) ++ top.map(_._2) ++
            top.map(t => t._1 + t._2)).distinct.toSeq
          def maxBy(side: String): Map[String, Long] = pairAgg
            .where(col(side).isin(syms: _*))
            .groupBy(side).agg(max("cnt").as("m")).collect()
            .map(r => r.getString(0) -> r.getAs[Long]("m")).toMap
          safeBatchPrefix(top, maxBy("l"), maxBy("r"),
            maxLen = nMerges - k + 1).toArray
        }
      } finally pairAgg.unpersist(blocking = false)
      if (batch.isEmpty) exhausted = true
      else {
        for ((l, r, c) <- batch) { merges += ((k, l, r, c)); k += 1 }
        val batchArr = batch.map(t => (t._1, t._2)).toArray
        val mergeUdf = udf((s: Seq[String]) => {
          // apply the batch IN ORDER — identical to one rewrite job per
          // merge (safeBatchPrefix guarantees the passes commute with
          // the pair counts the later merges were selected under)
          var cur: Array[String] = s.toArray
          for ((l, r) <- batchArr) {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < cur.length) {
              if (i < cur.length - 1 && cur(i) == l && cur(i + 1) == r) {
                out += l + r; i += 2 // left-to-right, non-overlapping
              } else { out += cur(i); i += 1 }
            }
            cur = out.toArray
          }
          cur.toSeq
        })
        vocab = vocab.select(mergeUdf(col("syms")).as("syms"), col("wc"))
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "sym_left", "sym_right", "pair_count")
  }

  /** Longest prefix of the (count desc, byte-lexicographic) sorted
    * candidate pairs that can be merged in ONE rewrite pass without
    * changing the sequential greedy order. Candidate i (count c_i) is
    * accepted after the already-accepted set A iff:
    *
    *  1. its symbols and its merged output are disjoint from every
    *     earlier accepted symbol and merged output — then no accepted
    *     merge can create, destroy or shift an instance of pair i
    *     (instances would have to share a symbol occurrence), so c_i
    *     is still exact when sequential greedy reaches step i;
    *  2. no pair CREATED or BOOSTED by an earlier accepted merge m can
    *     outrank candidate i. A merge m spawns new pairs (x, l_m r_m)
    *     / (l_m r_m, y) with count <= bound_m = min(c_m, maxAdj_m)
    *     (each new instance consumes an instance of (x, l_m) resp.
    *     (r_m, y) — maxAdj_m is the EXACT full-table maximum of those,
    *     from maxByL/maxByR); if the concatenated string already
    *     exists as a symbol, an EXISTING pair involving it can gain up
    *     to bound_m on top of its old count (<= maxConcat_m, exact for
    *     the same reason). Acceptance requires bound_m + maxConcat_m
    *     < c_i strictly — ties must lose too, because a tied new pair
    *     could win the byte-order tiebreak.
    *
    * `maxByL(s)` / `maxByR(s)` = the max pair count over the WHOLE
    * current pair table among pairs whose left / right symbol is `s`
    * (absent key = no such pair). The first candidate is always
    * accepted (= the old one-merge round), and the scan stops at the
    * first rejection — a rejected candidate would itself be the next
    * sequential merge.
    */
  private[operators] def safeBatchPrefix(
      cands: Array[(String, String, Long)],
      maxByL: Map[String, Long], maxByR: Map[String, Long],
      maxLen: Int): Seq[(String, String, Long)] = {
    val accepted = scala.collection.mutable.Buffer.empty[(String, String, Long)]
    val usedSyms = scala.collection.mutable.Set.empty[String]
    var stop = false
    for ((l, r, c) <- cands if !stop && accepted.length < maxLen) {
      val concat = l + r
      val disjoint = !usedSyms(l) && !usedSyms(r) && !usedSyms(concat)
      val orderSafe = accepted.forall { case (lm, rm, cm) =>
        val sm = lm + rm
        // pairs (x, l_m): right symbol is l_m; pairs (r_m, y): left is r_m
        val adjMax = math.max(maxByR.getOrElse(lm, 0L),
          maxByL.getOrElse(rm, 0L))
        val bound = math.min(cm, adjMax)
        val maxConcat = math.max(maxByL.getOrElse(sm, 0L),
          maxByR.getOrElse(sm, 0L))
        bound + maxConcat < c
      }
      if (disjoint && orderSafe) {
        accepted += ((l, r, c)); usedSyms ++= Seq(l, r, concat)
      } else stop = true
    }
    accepted.toSeq
  }

  /** Driver-side BPE induction over a collected (syms, weight)
    * vocabulary — the fast path of [[bpeMerges]]. Incremental
    * classic-trainer structure: global overlapping pair counts, a
    * pair -> containing-words index so each merge touches only the
    * words holding the winning pair, and a lazy-deletion max-heap
    * (re-push on every count change, discard stale entries on pop) so
    * argmax selection is O(log) instead of a full rescan per round.
    * Ordering matches the distributed path exactly: count desc, then
    * UTF-8 bytes of left then right symbol, unsigned lexicographic.
    */
  private[operators] def bpeMergesLocal(words0: Array[(Array[String], Long)],
                                        nMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val syms = words0.map(_._1.clone())
    val wcs = words0.map(_._2)
    def wordPairs(s: Array[String]): Iterator[(String, String)] =
      if (s.length < 2) Iterator.empty
      else (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1)))
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def byteLt(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
    // heap entries carry the count they were pushed with; stale ones
    // (count since changed) are discarded on pop
    case class Cand(cnt: Long, l: String, r: String)
    implicit val ord: Ordering[Cand] = new Ordering[Cand] {
      def compare(x: Cand, y: Cand): Int =
        if (x.cnt != y.cnt) java.lang.Long.compare(x.cnt, y.cnt) // max-heap
        else if (x.l != y.l) { if (byteLt(x.l, y.l)) 1 else -1 }  // smaller wins
        else if (x.r != y.r) { if (byteLt(x.r, y.r)) 1 else -1 }
        else 0
    }
    val heap = mutable.PriorityQueue.empty[Cand]
    def bump(p: (String, String), delta: Long, w: Int, add: Boolean): Unit = {
      val n = pairCount.getOrElse(p, 0L) + delta
      if (n <= 0L) pairCount.remove(p) else pairCount(p) = n
      val set = pairWords.getOrElseUpdate(p, mutable.Set.empty)
      if (add) set += w else set -= w
      if (n > 0L) heap.enqueue(Cand(n, p._1, p._2))
    }
    for (w <- syms.indices; p <- wordPairs(syms(w))) bump(p, wcs(w), w, add = true)
    val out = mutable.Buffer.empty[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      // pop to the first live candidate
      var top: Option[Cand] = None
      while (top.isEmpty && heap.nonEmpty) {
        val c = heap.dequeue()
        if (pairCount.get((c.l, c.r)).contains(c.cnt)) top = Some(c)
      }
      top match {
        case None => exhausted = true
        case Some(Cand(cnt, l, r)) =>
          out += ((k, l, r, cnt))
          val affected = pairWords.getOrElse((l, r), mutable.Set.empty).toArray
          for (w <- affected) {
            val old = syms(w)
            // retract this word's pair contributions, rewrite, re-add
            for (p <- wordPairs(old)) bump(p, -wcs(w), w, add = false)
            val nw = mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < old.length) {
              if (i < old.length - 1 && old(i) == l && old(i + 1) == r) {
                nw += l + r; i += 2 // greedy left-to-right, non-overlapping
              } else { nw += old(i); i += 1 }
            }
            syms(w) = nw.toArray
            for (p <- wordPairs(syms(w))) bump(p, wcs(w), w, add = true)
          }
          k += 1
      }
    }
    out.toSeq
  }

  /** BPE TOKENIZATION with a learned merge table — the apply side of
    * [[bpeMerges]] (Sennrich et al. 2016, apply_bpe): merges are
    * applied in rank order, each greedily left-to-right over every
    * word, which is exactly a replay of the induction's merge steps on
    * unseen text. Output long form: one row per (doc, word position,
    * symbol position, token), empty words skipped but still counted in
    * word_idx.
    *
    * 100 TB story: the merge table is tokenizer-sized (vocab rows) and
    * rides the task closure; the corpus pass is ONE scan through a
    * compiled kernel — no shuffle, no state. This is the shape of
    * tokenizing a pretraining corpus on-cluster.
    *
    * Precondition (validated): each rank's operand symbols must be
    * producible at that rank — a single codepoint or the output of an
    * earlier-ranked merge. Tables learned by [[bpeMerges]] satisfy
    * this by construction; for an arbitrary table that violates it
    * (e.g. ("ab","c") ranked before ("a","b")) a single rank-ordered
    * pass is NOT Sennrich apply_bpe, so we reject it loudly instead
    * of silently mis-tokenizing.
    */
  def bpeApply(df: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    val produced = scala.collection.mutable.Set.empty[String]
    for (((l, r), k) <- merges.zipWithIndex) {
      def ok(s: String) = s.codePointCount(0, s.length) == 1 || produced(s)
      require(ok(l) && ok(r),
        s"bpeApply merge table invalid at rank ${k + 1}: ('$l','$r') " +
          "references a symbol no earlier rank produces; single-pass " +
          "rank-order replay only equals apply_bpe for learned tables")
      produced += l + r
    }
    // native codegen kernel (functions.BpeApplySyms): greedy
    // left-to-right non-overlapping replay in rank order, merge table
    // riding the expression as a reference object
    df.select(col(idCol), posexplode(words(col(textCol)))
        .as(Seq("word_idx", "wd")))
      .where(length(col("wd")) > 0)
      .select(col(idCol), col("word_idx"),
        posexplode(graft.functions.BpeApplySyms(col("wd"), merges))
          .as(Seq("sym_idx", "token")))
  }

  /** 1e-9-grid quantized natural-log probability: floor(ln(a/b)*1e9
    * + 0.5) as BIGINT — the exact-integer score unit of the unigram
    * tokenizer (ln parity between engines is proven by lang_id/bm25;
    * sums of quantized scores are exact BIGINTs, so Viterbi argmaxes
    * are engine-portable).
    */
  private def qlogScore(a: Column, b: Column): Column =
    floor(log(a.cast("double") / b.cast("double")) * lit(1e9) + lit(0.5))
      .cast("long")

  /** Word histogram over the corpus — the ONE corpus-sized aggregate
    * every tokenizer-induction pass hangs off (map-side combined;
    * everything downstream is vocabulary-domain).
    */
  private def wordHist(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(words(col(textCol))).as("wd"))
      .where(length(col("wd")) > 0)
      .groupBy("wd").agg(count(lit(1)).as("wc"))

  /** All (start, len<=maxPieceLen) substring spans of each distinct
    * word — vocabulary-domain double explode, bounded by
    * |vocab| * maxWordLen * maxPieceLen.
    */
  private def wordSpans(wh: DataFrame, maxPieceLen: Int): DataFrame =
    wh.select(col("wd"), col("wc"),
        explode(sequence(lit(0L), length(col("wd")).cast("long") - 1))
          .as("i"))
      .select(col("wd"), col("wc"), col("i"),
        explode(sequence(lit(1L),
          least(lit(maxPieceLen.toLong),
            length(col("wd")).cast("long") - col("i")))).as("l"))
      .withColumn("piece",
        col("wd").substr((col("i") + 1).cast("int"), col("l").cast("int")))

  /** Unigram-LM (SentencePiece-style) tokenizer training (Kudo 2018,
    * shaped to the house exact-integer discipline): seed a piece
    * vocabulary from positional substring frequencies of the word
    * histogram — top `vocabSize` pieces by (freq desc, UTF-8-byte
    * lexicographic) PLUS every single-codepoint piece (coverage: any
    * corpus word stays segmentable) — with quantized-log seed scores,
    * then run one EM re-estimation: E-step Viterbi-segments each
    * DISTINCT word under the seed scores (kernel scan on the
    * vocabulary domain, weighted by word count), M-step re-scores
    * every vocab piece with add-one smoothing over the vocab domain
    * (zero-count pieces keep a floor score instead of dropping, so
    * coverage survives). Output: (piece, score, cnt), tokenizer-sized.
    *
    * 100 TB story: the corpus contributes exactly ONE hash aggregate
    * (the word histogram); candidate generation, Viterbi counting and
    * re-scoring all live on the vocabulary domain, and the learned
    * table rides task closures — the same scaling shape as
    * [[bpeMerges]]' driver fast path, without the driver loop.
    */
  def unigramTrain(df: DataFrame, textCol: String, vocabSize: Int = 40,
                   maxPieceLen: Int = 4,
                   unkScore: Long = -30000000000L,
                   emIters: Int = 1,
                   seedSize: Option[Int] = None): DataFrame = {
    require(vocabSize > 0 && vocabSize <= (1 << 20),
      s"vocabSize must be in [1, 2^20], got $vocabSize")
    require(emIters >= 1 && emIters <= 8,
      s"emIters must be in [1, 8], got $emIters")
    val seedN = seedSize.getOrElse(vocabSize)
    require(seedN >= vocabSize,
      s"seedSize ($seedN) must be >= vocabSize ($vocabSize)")
    val spark = df.sparkSession
    import spark.implicits._
    val wh = wordHist(df, textCol).localCheckpoint()
    val cand = wordSpans(wh, maxPieceLen)
      .groupBy("piece").agg(sum("wc").as("freq"))
    val top = cand
      .orderBy(col("freq").desc, encode(col("piece"), "UTF-8"))
      .limit(seedN)
    val chars = cand.where(length(col("piece")) === 1)
    val vocab0 = top.unionByName(chars)
      .groupBy("piece").agg(max("freq").as("freq"))
    val tot0 = cand.agg(sum("freq").as("_tot"))
    // tokenizer-sized collect (seedSize + charset rows)
    var vocab: Seq[(String, Long)] = vocab0.crossJoin(broadcast(tot0))
      .select(col("piece"), qlogScore(col("freq"), col("_tot")).as("score"))
      .orderBy(encode(col("piece"), "UTF-8"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    var result: DataFrame = null
    for (r <- 1 to emIters) {
      // E-step: Viterbi counts over the distinct-word domain, weighted
      // by word count — the kernel never sees the corpus
      val cnts = wh.select(col("wc"),
          explode(graft.functions.UnigramViterbiSyms(col("wd"), vocab,
            maxPieceLen, unkScore)).as("piece"))
        .groupBy("piece").agg(sum("wc").as("cnt"))
      // M-step: add-one smoothing over the FULL current vocab domain
      // keeps zero-count pieces (and with them single-codepoint
      // coverage)
      val vdf = vocab.map(_._1).toDF("piece")
      val joined = vdf.join(cnts, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val tot1 = joined.agg(sum("cnt").as("_tot"), count(lit(1)).as("_v"))
      val rescored = joined.crossJoin(broadcast(tot1))
        .select(col("piece"),
          qlogScore(col("cnt") + 1, col("_tot") + col("_v")).as("score"),
          col("cnt"))
      if (r < emIters) {
        // between rounds: prune toward the target size by Viterbi
        // occupancy (count desc, byte-lex) — the SentencePiece
        // EM+prune loop with count-based loss; single-codepoint
        // pieces are never pruned, so coverage survives every round
        vocab = rescored
          .orderBy(col("cnt").desc, encode(col("piece"), "UTF-8"))
          .limit(vocabSize)
          .unionByName(rescored.where(length(col("piece")) === 1))
          .groupBy("piece").agg(max("score").as("score"))
          .orderBy(encode(col("piece"), "UTF-8"))
          .collect()
          .map(r0 => (r0.getString(0), r0.getLong(1))).toSeq
      } else result = rescored
    }
    result
  }

  /** Tokenize a corpus with a learned unigram piece table
    * ([[unigramTrain]]): maximum-likelihood Viterbi segmentation per
    * word, long-form output (doc, word position, piece position,
    * token) — the unigram sibling of [[bpeApply]], same ONE-codegen-
    * scan corpus shape (table rides the task closure, no shuffle).
    */
  def unigramTokenize(df: DataFrame, idCol: String, textCol: String,
                      vocab: Seq[(String, Long)], maxPieceLen: Int = 4,
                      unkScore: Long = -30000000000L): DataFrame =
    df.select(col(idCol), posexplode(words(col(textCol)))
        .as(Seq("word_idx", "wd")))
      .where(length(col("wd")) > 0)
      .select(col(idCol), col("word_idx"),
        posexplode(graft.functions.UnigramViterbiSyms(col("wd"), vocab,
          maxPieceLen, unkScore)).as(Seq("sym_idx", "token")))

  /** Persist a trained unigram vocabulary — the tokenizer ARTIFACT
    * lifecycle (train once, ship the table, tokenize everywhere):
    * one tokenizer-sized parquet of (piece, score). Integer scores
    * round-trip losslessly, so tokenization from the stored vocab is
    * bit-identical to tokenization from the in-memory table (the
    * `unigram_tokenize_stored` gate shares `unigram_tokenize`'s
    * oracle).
    */
  def vocabWrite(vocab: Seq[(String, Long)], spark: org.apache.spark.sql.SparkSession,
                 path: String): Unit = {
    import spark.implicits._
    vocab.toDF("piece", "score").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Reload a persisted vocabulary in the canonical byte-lex order
    * every trainer emits — tokenizer-sized collect.
    */
  def vocabRead(spark: org.apache.spark.sql.SparkSession,
                path: String): Seq[(String, Long)] =
    spark.read.parquet(path)
      .orderBy(encode(col("piece"), "UTF-8"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Persist a learned BPE merge table — the BPE half of the tokenizer
    * artifact lifecycle ([[vocabWrite]] is the unigram half): rank is
    * the merge ORDER, which is the whole semantic content of a BPE
    * tokenizer, so it is stored explicitly rather than relying on row
    * order. Merge tables are tokenizer-sized (the 30k-100k rows of a
    * production BPE fit one parquet footer).
    */
  def mergesWrite(merges: Seq[(String, String)],
                  spark: org.apache.spark.sql.SparkSession,
                  path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("rank", "sym_left", "sym_right").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Reload a persisted BPE merge table in rank order — tokenizer-
    * sized collect. Round-trips [[mergesWrite]] exactly (ranks are
    * integers, symbols UTF-8 strings), so [[bpeApply]] with the reload
    * is token-identical to applying the in-memory table (the
    * `bpe_apply_stored` gate shares `bpe_apply`'s oracle).
    */
  def mergesRead(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy(col("rank"))
      .select(col("sym_left"), col("sym_right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Byte-fallback unigram tokenization (the SentencePiece
    * `--byte_fallback` contract): Viterbi segmentation exactly as
    * [[unigramTokenize]] (same DP, same unk transition), but every
    * OOV single-codepoint token is REPLACED by its UTF-8 bytes as
    * `<0xNN>` pieces — so the OOV rate is exactly 0 by construction
    * (any codepoint decomposes into bytes, and the 256 byte pieces
    * are always representable). sym_idx renumbers over the expanded
    * per-word sequence; byte pieces use uppercase hex like
    * SentencePiece. A multi-byte codepoint (é -> <0xC3><0xA9>,
    * U+1D11E -> 4 pieces) expands to one piece per byte.
    *
    * Plan shape: the same ONE-codegen-scan corpus pass as
    * unigramTokenize; the expansion is a per-token array transform
    * (vocab membership against the tokenizer-bounded literal array),
    * no extra shuffle, no UDF.
    */
  def unigramTokenizeBytes(df: DataFrame, idCol: String, textCol: String,
                           vocab: Seq[(String, Long)], maxPieceLen: Int = 4,
                           unkScore: Long = -30000000000L): DataFrame = {
    val vocabArr = array(vocab.map(p => lit(p._1)): _*)
    def expand(t: Column): Column =
      when(array_contains(vocabArr, t), array(t))
        .otherwise(transform(
          regexp_extract_all(hex(encode(t, "UTF-8")),
            lit("[0-9A-F]{2}"), lit(0)),
          b => concat(lit("<0x"), b, lit(">"))))
    df.select(col(idCol), posexplode(words(col(textCol)))
        .as(Seq("word_idx", "wd")))
      .where(length(col("wd")) > 0)
      .select(col(idCol), col("word_idx"),
        graft.functions.UnigramViterbiSyms(col("wd"), vocab,
          maxPieceLen, unkScore).as("_syms"))
      .select(col(idCol), col("word_idx"),
        posexplode(flatten(transform(col("_syms"), expand(_))))
          .as(Seq("sym_idx", "token")))
  }

  /** GPT-2-style regex pretokenization — the standard BPE front end
    * (Radford et al. 2019 released pattern), restricted to the regex
    * subset Java and RE2 share so Spark and any RE2 engine agree
    * byte-for-byte: contractions ('s 't 're 've 'm 'll 'd), a word =
    * optional leading space + letters, a number run, a punctuation
    * run, a whitespace run. The one divergence from GPT-2's exact
    * pattern is documented: `\\s+(?!\\S)` needs negative lookahead
    * (unsupported in RE2), so interior whitespace runs stay one
    * pretoken instead of donating their last space to the next word.
    * Both engines scan leftmost-first with ordered alternation, so
    * the split is deterministic and identical.
    */
  val Gpt2PretokenPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Long-form pretokens (id, pt_idx, pretoken) — one regex scan,
    * whole-stage codegen, no shuffle. Pretokens concatenate back to
    * the exact source text (the pattern tiles the string).
    */
  def pretokenize(df: DataFrame, idCol: String, textCol: String,
                  pattern: String = Gpt2PretokenPattern): DataFrame =
    df.select(col(idCol),
      posexplode(regexp_extract_all(col(textCol), lit(pattern), lit(0)))
        .as(Seq("pt_idx", "pretoken")))

  /** Quality-score components + composite (length / punctuation ratio /
    * stopword ratio / mean word length) — the standard cheap heuristics
    * used to filter web-scale training corpora.
    */
  def qualityScore(df: DataFrame, textCol: String,
                   stopwords: Seq[String] =
                     Seq("the", "a", "of", "and", "to", "in", "is")): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    val nWords = size(ws)
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(ws, w => array_contains(stopArr, w)))
    val nPunct = length(t) - length(regexp_replace(t, "[.,!?;:]", ""))
    val meanWordLen =
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / nWords
    df.withColumn("n_chars_q", length(t))
      .withColumn("punct_ratio", nPunct.cast("double") / length(t))
      .withColumn("stopword_ratio", nStop.cast("double") / nWords)
      .withColumn("mean_word_len", meanWordLen)
      .withColumn("quality_score",
        when(nWords >= 5 && meanWordLen.between(2.0, 12.0), lit(1.0))
          .otherwise(lit(0.0))
          * (lit(1.0) - least(nPunct.cast("double") / nWords, lit(1.0))))
  }

  /** PII scrubbing (beyond-parity, standard training-corpus hygiene):
    * replace emails, then dotted-quad IPs, then NNN-NNN-NNNN phone
    * numbers with typed placeholder tokens. Three chained
    * regexp_replace projections — whole-stage codegen, one scan, no
    * shuffle; the patterns stay in the regex subset Java and RE2
    * agree on (no lookaround, no word-boundary).
    */
  def piiScrub(df: DataFrame, textCol: String,
               outCol: String = "text_scrubbed"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    df.withColumn(outCol,
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), email, "<EMAIL>"),
          ip, "<IP>"),
        phone, "<PHONE>"))
  }

  /** URL canonicalization (beyond-parity): lowercase, strip the
    * scheme, a leading www., the query/fragment, and any trailing
    * slash — the normalization under which trivially-duplicated crawl
    * URLs collide. Pure projection.
    */
  def canonicalizeUrl(df: DataFrame, urlCol: String,
                      outCol: String = "url_canonical"): DataFrame =
    df.withColumn(outCol,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col(urlCol)), "^https?://", ""),
            "^www\\.", ""),
          "[?#].*$", ""),
        "/$", ""))

  /** URL-level dedup: group on the canonical URL, keep the smallest
    * doc id, count the collapsed duplicates. One hash aggregate with
    * map-side combine — the classic first-stage crawl dedup that runs
    * BEFORE any content hashing at 100 TB because it needs no text IO.
    */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    canonicalizeUrl(df, urlCol)
      .groupBy(col("url_canonical"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Unigram language-model quality score (the CCNet-style LM filter):
    * train add-one-smoothed unigram counts on the `trainLabel` rows of
    * `splitCol`, then score EVERY document by its mean word logprob
    * logp(w) = ln((c_w + 1) / (total + vocab)). Low scores flag
    * gibberish / OOV-heavy documents for filtering.
    *
    * Scale shape: the count table is vocab-sized (millions of rows at
    * web scale, built by one map-side-combined hash aggregate over the
    * train split), and scoring is one equi-join on the word hash — AQE
    * broadcasts it when it fits. The (total, vocab) scalars ride a
    * broadcast cross join, never a driver collect.
    */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String,
                     splitCol: String, trainLabel: String): DataFrame = {
    val w = df.select(col(idCol), col(splitCol),
      explode(wordHashes(col(textCol))).as("wh"))
    val counts = w.filter(col(splitCol) === trainLabel)
      .groupBy("wh").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum("c").as("total"), count(lit(1)).as("vocab"))
    w.join(counts, Seq("wh"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("logp",
        log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("total") + col("vocab")).cast("double")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        (sum("logp") / count(lit(1))).as("lm_logprob_mean"))
  }

  /** CCNet-style per-language quality buckets: rank each document's
    * (quantized) LM score within its language and label the top third
    * `head`, bottom third `tail`, rest `middle` — the
    * perplexity-bucketed corpus partition CCNet feeds to mixture
    * sampling (keep head, downsample tail).
    *
    * EXACT integer tertiles, no quantile interpolation: counts per
    * DISTINCT quantized score, a cumulative sum over the per-language
    * score DOMAIN (never the fact), and the bucket decision compares
    * integer products — a tied score group lands wholly in one bucket
    * (`tail` iff 3·cum_le ≤ n, `head` iff 3·cum_lt ≥ 2n, else
    * `middle`), so the label is deterministic across engines, runs
    * and partitionings. The label table (one row per distinct
    * (lang, score)) broadcasts back onto the fact.
    */
  def ccnetBuckets(scored: DataFrame, langCol: String,
                   scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = scored.groupBy(col(langCol), col(scoreCol).as("_s"))
      .agg(count(lit(1)).as("_c"))
    // windows over the distinct-score DOMAIN per language — bounded by
    // the quantized score grid, not the row count
    val w = Window.partitionBy(col(langCol)).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lab = counts
      .withColumn("_cumle", sum(col("_c")).over(w))
      .withColumn("_n",
        sum(col("_c")).over(Window.partitionBy(col(langCol))))
      .withColumn("bucket",
        when(lit(3L) * col("_cumle") <= col("_n"), lit("tail"))
          .when(lit(3L) * (col("_cumle") - col("_c")) >= lit(2L) * col("_n"),
            lit("head"))
          .otherwise(lit("middle")))
      .select(col(langCol), col("_s").as(scoreCol), col("bucket"))
    scored.join(broadcast(lab), Seq(langCol, scoreCol))
  }

  /** T5-style span corruption — the pretraining-example builder that
    * turns each document into a (input, target) pair: deterministic
    * ~spanRate of word positions START a `spanLen`-word mask span,
    * overlapping spans merge into maximal runs, each run is replaced
    * by a numbered sentinel in the input and emitted after its
    * sentinel in the target:
    *
    *   words:  w0 w1 [w2 w3 w4] w5 [w6 w7] ...
    *   input:  w0 w1 <extra_id_0> w5 <extra_id_1> ...
    *   target: <extra_id_0> w2 w3 w4 <extra_id_1> w6 w7
    *
    * DETERMINISTIC, not random: the start gate is the portable hash
    * ((doc·1000003 + pos) mod M) · 2654435761 mod M mod `denom` == 0 —
    * reproducible across runs, engines and partitionings (the
    * no-rand() house rule), so the corruption of a 100 TB corpus is
    * re-derivable and incremental.
    *
    * Plan shape: one posexplode off the scan; the mask/run machinery
    * is three window functions PARTITIONED BY document (frames are
    * doc-length-bounded — never a global sort); reassembly is one
    * doc-keyed hash aggregate over sort-keyed token structs. Output is
    * one row per doc.
    */
  def spanCorruption(df: DataFrame, idCol: String, textCol: String,
                     spanLen: Int = 3, denom: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(spanLen >= 1 && denom >= 2)
    val M = HashMod
    val pos = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("_p", "_w")))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("_p"))
    val marked = pos
      .withColumn("_start",
        (col(idCol).cast("long") * lit(1000003L) + col("_p")) % lit(M)
          * lit(graft.operators.SketchOps.KmvMult) % lit(M)
          % lit(denom.toLong) === 0L)
      .withColumn("_m", max(when(col("_start"), 1).otherwise(0))
        .over(byDoc.rowsBetween(-(spanLen - 1), 0)) === 1)
      .withColumn("_runStart",
        col("_m") && !lag(col("_m"), 1, false).over(byDoc))
      .withColumn("_run",
        sum(when(col("_runStart"), 1L).otherwise(0L))
          .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)) - 1L)
    val sentinel = concat(lit("<extra_id_"),
      col("_run").cast("string"), lit(">"))
    // ONE aggregate over the marked stream (collect_list skips the
    // nulls the `when`s produce) — a union of filtered branches would
    // re-run the posexplode + per-doc sort once per branch. Sort keys
    // interleave sentinels before their run's words: word at position
    // p sorts at 2p, a run's sentinel at 2·firstPos − 1. A row emits
    // exactly one input entry (word when unmasked, sentinel when it
    // starts a run, nothing inside a run) and up to two target
    // entries (its word when masked, plus the sentinel when it starts
    // the run) — the two target lists merge in one array_sort.
    val inEntry = when(!col("_m"),
        struct((col("_p") * 2).as("_k"), col("_w").as("_t")))
      .when(col("_runStart"),
        struct((col("_p") * 2).as("_k"), sentinel.as("_t")))
    val tgtWord = when(col("_m"),
      struct((col("_p") * 2).as("_k"), col("_w").as("_t")))
    val tgtSent = when(col("_runStart"),
      struct((col("_p") * 2 - 1).as("_k"), sentinel.as("_t")))
    def joined(entries: Column) = array_join(
      transform(array_sort(entries), x => x("_t")), " ")
    marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("_m"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("_runStart"), 1L).otherwise(0L)).as("n_spans"),
        joined(collect_list(inEntry)).as("input_text"),
        joined(concat(collect_list(tgtWord), collect_list(tgtSent)))
          .as("target_text"))
  }

  /** Document fingerprint: the full-text polynomial hash pair (the
    * 128-bit composite — a single ~2^30 hash false-merges at web
    * scale) plus a winnowed min-shingle fingerprint (smallest 3-word
    * shingle hash — stable under local edits elsewhere in the document).
    */
  def fingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fp_hash", polyHash(col(textCol)))
      .withColumn("fp_hash2", polyHash2(col(textCol)))
      .withColumn("fp_min_shingle", array_min(shingleHashes(col(textCol), 3)))

  /** Language identification by word-frequency profile — a naive-Bayes
    * unigram scorer. `train` is a labeled corpus (textCol, langCol);
    * the profile is a SMALL (n_langs x vocab) table built with one
    * aggregation and broadcast back; scoring is explode + broadcast
    * join + per-doc sum of log probabilities. At 100 TB the profile
    * stays dimension-sized and the scoring is one map-side join + one
    * hash aggregate on doc_id.
    *
    * Laplace smoothing: log((c_wl + 1) / (c_l + V)), unseen words get
    * the lang's floor log(1 / (c_l + V)).
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
                 train: DataFrame, trainTextCol: String, langCol: String): DataFrame = {
    val tokensTrain = train.select(col(langCol).as("lang"),
      explode(words(col(trainTextCol))).as("word"))
    val counts = tokensTrain.groupBy("lang", "word").agg(count(lit(1)).as("cwl"))
    val langTotals = tokensTrain.groupBy("lang").agg(count(lit(1)).as("cl"))
    // Vocabulary size as a LAZY 1-row aggregate folded into the plan
    // (broadcast-joined below) instead of an eager distinct().count()
    // driver job on every languageId call.
    val vocab = counts.agg(countDistinct(col("word")).as("v"))
    val profile = counts.join(langTotals, "lang").crossJoin(broadcast(vocab))
      .select(col("lang"), col("word"),
        log((col("cwl") + 1).cast("double") / (col("cl") + col("v"))).as("logp"))
    val floors = langTotals.crossJoin(broadcast(vocab)).select(col("lang"),
      log(lit(1.0) / (col("cl") + col("v"))).as("floor_logp"))

    // Pre-aggregate the token stream to (doc, word, count) BEFORE the
    // per-language expansion: the n_langs multiplier then applies to
    // DISTINCT doc-words (bounded by per-doc vocabulary), not raw
    // tokens. At 100 TB that is the difference between shuffling
    // |tokens| x n_langs rows into the doc aggregate and
    // |distinct doc-words| x n_langs.
    val docWords = docs.select(col(idCol), explode(words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("wc"))
    val scored = docWords
      .crossJoin(broadcast(floors))
      .join(broadcast(profile), Seq("lang", "word"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(col("wc") * coalesce(col("logp"), col("floor_logp"))).as("score"))
    scored.groupBy(col(idCol))
      .agg(max_by(col("lang"),
        struct(col("score"), col("lang"))).as("lang_pred"),
        max(col("score")).as("lang_score"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021, "Scaling
    * Language Models", table A1): duplicate-word fraction and the
    * fraction of characters taken by the most common word 2-gram /
    * 3-gram. Documents dominated by a repeated phrase are boilerplate
    * and get `quality_keep = false`.
    *
    * 100 TB story: one compiled-UDF scan, NO shuffle — the per-doc
    * n-gram counting stays inside the row kernel (a groupBy(doc,
    * ngram) formulation would shuffle |corpus| x |ngrams| rows for a
    * per-row statistic). All counts are exact integers; the emitted
    * fractions are single int/int divisions — engine-portable.
    */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
                    maxDupWordFrac: Double = 0.5,
                    maxTop2Frac: Double = 0.20,
                    maxTop3Frac: Double = 0.18): DataFrame = {
    // one-pass native codegen kernel (functions.GopherStats): top
    // n-gram by (count desc, string asc) — the same tie-break the
    // oracle's array_agg(s ORDER BY c DESC, s) applies (binary UTF8
    // ordering in both engines).
    df.withColumn("_gq", graft.functions.GopherStats(col(textCol)))
      .withColumn("n_words", col("_gq.n_words"))
      .withColumn("n_distinct_words", col("_gq.n_distinct_words"))
      .withColumn("dup_word_frac", col("_gq.dup_word_frac"))
      .withColumn("top_bigram", col("_gq.top_bigram"))
      .withColumn("top_bigram_char_frac", col("_gq.top_bigram_char_frac"))
      .withColumn("top_trigram_char_frac",
        col("_gq.top_trigram_char_frac"))
      .withColumn("quality_keep",
        col("dup_word_frac") < maxDupWordFrac &&
          col("top_bigram_char_frac") < maxTop2Frac &&
          col("top_trigram_char_frac") < maxTop3Frac)
      .drop("_gq")
  }

  /** Within-document repetition diagnostics — the OTHER half of the
    * Gopher repetition rules (gopherQuality covers duplicate words and
    * the TOP 2/3-gram char mass; this covers duplicate LINES and the
    * TOTAL duplicate-n-gram char mass, the signals that catch
    * boilerplate-looped and template-stamped pages):
    *
    *  - dup_line_frac      = occurrences of repeated lines / n_lines
    *  - dup_line_char_frac = chars in those occurrences / total line chars
    *  - dup_{n}gram_char_frac (per requested n) = COVERAGE: characters
    *      of word positions covered by at least one n-gram that occurs
    *      >= 2 times in the doc, each position counted ONCE, over
    *      length(text) — the Gopher/Dolma "fraction of characters in
    *      duplicate n-grams". (Occurrence-mass accounting — Σ c·len —
    *      is NOT a fraction: overlapping repeats push it past 1, which
    *      the property suite caught.)
    *
    * All counts are exact integers; each fraction is one integer/
    * integer division — engine-exact. Docs shorter than n words score
    * 0 for that n (left-join + coalesce). Fractions are bounded by 1
    * (strictly below when the doc has separators, which the numerator
    * never counts).
    *
    * 100 TB story: lines and n-grams explode off the scan (×|ns|+1
    * passes, each linear), (doc, gram) counting is a hash aggregate
    * whose map-side combine collapses within-doc repeats — the
    * metric's subject — before the shuffle; the coverage expansion is
    * bounded by n × duplicate occurrences, and everything after is
    * doc-sized. No windows, no sorts, no driver data.
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String,
                      lineSep: String = "\n",
                      ngramSizes: Seq[Int] = Seq(5, 10)): DataFrame = {
    require(ngramSizes.nonEmpty && ngramSizes.forall(_ >= 2))
    val sepRe = java.util.regex.Pattern.quote(lineSep)
    val lines = df.select(col(idCol),
      explode(split(col(textCol), sepRe, -1)).as("_line"))
    val lineLeg = lines.groupBy(col(idCol), col("_line"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg(sum(col("_c")).as("n_lines"),
        sum(when(col("_c") >= 2, col("_c")).otherwise(0L)).as("_dl"),
        sum(col("_c") * length(col("_line"))).as("_lc"),
        sum(when(col("_c") >= 2, col("_c") * length(col("_line")))
          .otherwise(0L)).as("_dlc"))
      .select(col(idCol), col("n_lines"),
        try_divide(col("_dl").cast("double"),
          col("n_lines").cast("double")).as("dup_line_frac"),
        try_divide(col("_dlc").cast("double"),
          col("_lc").cast("double")).as("dup_line_char_frac"))
    val base = df.select(col(idCol), length(col(textCol)).as("_tot"),
      words(col(textCol)).as("_ws"))
    val wlens = base.select(col(idCol),
      posexplode(col("_ws")).as(Seq("_p", "_w")))
      .select(col(idCol), col("_p"), length(col("_w")).as("_wl"))
    val gramLegs = ngramSizes.map { n =>
      val occ = base
        .select(col(idCol), col("_tot"),
          posexplode(when(size(col("_ws")) >= n,
            expr(s"transform(sequence(1, size(_ws) - ${n - 1}), " +
              s"i -> array_join(slice(_ws, i, $n), ' '))"))
            .otherwise(expr("array()"))).as(Seq("_i", "_g")))
      val dupStarts = occ
        .groupBy(col(idCol), col("_g"))
        .agg(max(col("_tot")).as("_tot"), count(lit(1)).as("_c"),
          collect_list(col("_i")).as("_is"))
        .where(col("_c") >= 2)
      val covered = dupStarts
        .select(col(idCol), col("_tot"), explode(col("_is")).as("_i"))
        .select(col(idCol), col("_tot"),
          explode(expr(s"sequence(_i, _i + ${n - 1})")).as("_p"))
        .distinct()
      covered.join(wlens, Seq(idCol, "_p"))
        .groupBy(col(idCol))
        .agg(try_divide(sum(col("_wl")).cast("double"),
          max(col("_tot")).cast("double")).as(s"dup_${n}gram_char_frac"))
    }
    gramLegs.foldLeft(lineLeg) { (acc, leg) =>
      acc.join(leg, Seq(idCol), "left")
    }.select((col(idCol) +: col("n_lines") +: col("dup_line_frac") +:
      col("dup_line_char_frac") +: ngramSizes.map(n =>
        coalesce(col(s"dup_${n}gram_char_frac"), lit(0.0))
          .as(s"dup_${n}gram_char_frac"))): _*)
  }

  /** BM25 scoring of every document against a FIXED small query-term
    * set — the keyword-targeted data-selection step of a training
    * pipeline (e.g. pull all docs matching a domain vocabulary).
    *
    * Okapi BM25: score(d) = sum_t idf(t) * tf * (k1+1) /
    * (tf + k1 * (1 - b + b * dl/avgdl)), idf(t) = ln(1 + (N - df +
    * 0.5) / (df + 0.5)).
    *
    * 100 TB story: one scan computes per-doc term frequencies
    * (compiled UDF over the fixed term array — no explode, no
    * |corpus| x |vocab| shuffle); one single-row global aggregate (N,
    * total dl, df per term) is broadcast back; scoring is then pure
    * row-wise arithmetic. The per-doc term sum is a FIXED-ORDER fold
    * over the term list, so float addition order is deterministic —
    * never a sum over an unordered grouped explode.
    */
  def bm25Score(df: DataFrame, idCol: String, textCol: String,
                terms: Seq[String], k1: Double = 1.2,
                b: Double = 0.75): DataFrame = {
    val termsArr = terms.toArray
    val withTf = df.select(col(idCol),
      size(words(col(textCol))).as("dl"),
      graft.functions.TermFreqs(col(textCol), terms).as("tfs"))
    val aggs = count(lit(1)).cast("double").as("n_docs") +:
      sum(col("dl")).cast("double").as("sum_dl") +:
      termsArr.indices.map(i =>
        sum(when(col("tfs").getItem(i) > 0, 1L).otherwise(0L))
          .cast("double").as(s"df_$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val j = withTf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
    // fixed-order fold over terms: deterministic float addition
    val score = termsArr.indices.foldLeft(lit(0.0)) { (acc, i) =>
      val tf = col("tfs").getItem(i).cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      acc + idf * tf * (k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }
    val nMatched = termsArr.indices.foldLeft(lit(0)) { (acc, i) =>
      acc + when(col("tfs").getItem(i) > 0, 1).otherwise(0)
    }
    j.select(col(idCol), col("dl"), nMatched.as("n_terms_matched"),
        score.as("bm25"))
      .where(col("n_terms_matched") > 0)
  }

  /** Top-k BM25 retrieval: rank the scored docs (score desc, id asc).
    * At scale this is a single TakeOrdered (no full sort materialized).
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int): DataFrame =
    bm25Score(df, idCol, textCol, terms)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)

  /** doc-id hash bucket count for the doclens layout: append-time dup
    * ARBITRATION (the exact check a Bloom hit pays) prunes to the
    * suspects' `docbucket=` partitions only — the BM25 mirror of the
    * ANN side's list-pruned arbitration, closing the one append-path
    * read that used to ride corpus size.
    */
  private val DocLenBuckets = 32
  private def docBucket(id: Column, n: Int): Column =
    pmod(hash(id), lit(n))

  /** The BM25 store's layout (graft.sources.IndexStore): its
    * partitioned kinds and their route keys — an append lands one log
    * segment of each, the fold and compaction move them into the
    * `key=` partitions, every data file compressed — and its meta
    * row: the corpus census (n_docs, sum_dl of the doc lengths, doc
    * checksum) plus the bucket counts the layout routes by.
    */
  private[graft] val BmStore = IS.Layout(id = "doc_id",
    kinds = Seq("postings" -> "bucket", "doclens" -> "docbucket"),
    meta = Seq("n_docs" -> "long", "sum_dl" -> "long",
      "n_buckets" -> "int", "doc_checksum" -> "long",
      "n_docbuckets" -> "int"),
    count = "n_docs", checksum = "doc_checksum",
    sums = Seq("sum_dl" -> "dl"), compressed = true)

  /** The postings (doc_id, term, tf, dl, bucket) of `df`: one row per
    * distinct (doc, term), routed to its term-hash bucket. dl is
    * constant per doc: the norm rides the posting row.
    */
  private def postingsOf(df: DataFrame, idCol: String, textCol: String,
                         nBuckets: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        size(words(col(textCol))).as("dl"),
        explode(words(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("int").as("tf"), max(col("dl")).as("dl"))
      .withColumn("bucket", pmod(polyHash(col("term")), lit(nBuckets)))

  /** Persist a BM25 inverted index — the sparse-retrieval sibling of
    * the ANN index lifecycle (SimilarityOps.indexWrite): a 100 TB
    * corpus is indexed ONCE and serves many query batches from the
    * stored postings instead of rescanning text per query. Layout:
    *
    *   root/postings  (doc_id, term, tf, dl) PARTITIONED BY bucket =
    *     pmod(polyHash(term), nBuckets) — a query's terms resolve to
    *     their buckets driver-side, so the search scans only those
    *     `bucket=` partitions (partition pruning as the posting-list
    *     lookup); within a bucket the term IN-list pushes to parquet.
    *     The doc length rides ON the posting row (the norm-inlined
    *     postings layout of a production IR engine), so SERVING never
    *     joins a corpus-sized side table — search cost is probed
    *     posting volume, full stop
    *   root/doclens   (doc_id, dl) PARTITIONED BY docbucket =
    *     pmod(hash(doc_id), n_docbuckets) — the census/maintenance
    *     table (delete census, exact dup arbitration, both pruned to
    *     the ids' docbuckets); not on the serving path
    *   the append log of postings and doclens:
    *     [[invertedIndexAppend]] lands ONE flat segment per kind
    *     (one file, except a bulk delta's postings: one per shuffle
    *     partition), the route key (bucket / docbucket) a plain column
    *     each file is sorted by, registered under the kind with no
    *     part id; every read unions the segments behind its bucket /
    *     docbucket filter, and the fold (graft.sources.IndexStore.fold,
    *     at the append's own log bound or in [[invertedIndexMaintain]])
    *     and [[invertedIndexCompact]] move them into the partitions
    *   root/bloomidx  (widx, word) — a PACKED doc-id Bloom bitmap
    *     (bits/64 rows max, ~2 MB at the 1<<24 default — bounded by
    *     BITS, never by corpus size), the append dup-guard's fast
    *     path: a delta whose ids all miss the bloom is provably new
    *     with NO corpus-sized read at all; only bloom HITS (dups or
    *     false positives) pay the exact doclens check
    *   root/meta      (n_docs, sum_dl, n_buckets, doc_checksum,
    *     n_docbuckets) — corpus census; the checksum is order-free and
    *     additive mod p (mirroring SimilarityOps.indexWrite's), so
    *     append/delete maintain it incrementally and
    *     [[invertedIndexIsStale]] can gate serving without rescanning
    *     text
    *   root/deletes   (doc_id, docbucket) merge-on-read delete sidecar
    *     ([[invertedIndexDelete]]), retired by [[invertedIndexCompact]]
    *   root/commits   the snapshot naming every live postings /
    *     doclens (partition files and log segments) / deletes file
    *     (graft.sources.IndexCommits)
    *
    * One corpus scan builds everything; the postings shuffle is
    * bounded by distinct (doc, term) pairs, never token count.
    */
  def invertedIndexWrite(df: DataFrame, idCol: String, textCol: String,
                         root: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = df.sparkSession
    IS.buildBloom(root, df, idCol)
    // Two tokenize passes BY MEASUREMENT (round-19, guide §1.3): the
    // verdict-ordered single-tokenize fusion (explode_outer keeping a
    // null-term row per empty doc + persist of the distinct-(doc,term)
    // aggregate feeding both writes) was built, verified oracle-exact,
    // and REJECTED — caching the postings-sized aggregate cost more
    // than this second text pass at EVERY measurable scale (BM25 gates
    // +5-12% at sf0.1 min-of-3; 100x rehearsal build +12%, append
    // +17% — plans/r19/bench_family_*.json). The doclens pass below is
    // a split+size projection with no explode/shuffle; its cost is the
    // text re-read, which page cache absorbs at any scale this sandbox
    // can measure.
    // one file per touched bucket (IndexStore.writeParts): term-hash
    // buckets are ~uniform by construction
    IS.writeParts(postingsOf(df, idCol, textCol, nBuckets), root, BmStore,
      "postings")
    // doclens bucketed by doc-id hash: the maintenance table's reads
    // (dup arbitration, delete census) prune to the relevant buckets.
    // The meta census (n_docs, sum_dl, checksum) rides this write as
    // observed metrics — no separate tokenizing pass over the corpus.
    val obs = new org.apache.spark.sql.Observation()
    IS.writeParts(IS.observeCensus(df.select(col(idCol).as("doc_id"),
        size(words(col(textCol))).as("dl"),
        docBucket(col(idCol), DocLenBuckets).as("docbucket")),
        obs, BmStore, col("doc_id")), root, BmStore, "doclens")
    IS.writeMeta(spark, root, BmStore, IS.observed(obs) ++
      Map("n_buckets" -> nBuckets, "n_docbuckets" -> DocLenBuckets))
    // Commit the initial snapshot (IndexCommits): from here on every
    // read plans its file list from the current commit and every
    // maintenance op is an atomic pointer swap. The vacuum retires
    // whatever a previous lifecycle on a reused root left behind.
    IS.commitBuild(spark, root, BmStore)
  }

  /** Append NEW documents to a persisted BM25 index — the ingest leg
    * of the retrieval lifecycle, mirroring the ANN index's
    * train-once/append-forever discipline: a new document's postings
    * are DISJOINT from every existing doc's (doc_id is the key), so
    * the delta lands with no merge at all, as ONE postings segment
    * (sorted by (bucket, term)) and ONE doclens segment (sorted by
    * docbucket) in the append log and one commit, never a write into
    * the `bucket=` / `docbucket=` directories; the census updates
    * additively. A segment is one flat file, except that the
    * postings of a bulk delta keep one file per shuffle partition of
    * their route-key shuffle (AQE coalesces an append-sized delta's to
    * one), so bulk appends keep their write parallelism. Searches
    * through the appended index are identical to a one-shot build over
    * the union — postings of disjoint docs just concatenate
    * (spec-pinned). Once the log holds
    * [[graft.sources.IndexStore.FlushSegments]] files of either kind,
    * the append folds it inline (graft.sources.IndexStore.fold, the
    * ANN store's fold too), so the log every read unions stays
    * bounded with no maintenance call.
    * Delta doc_ids must be NEW, and that is
    * ENFORCED, not just documented: a re-appended doc would silently
    * double-count (duplicate postings rows fanning out through the
    * search pivot, df/n_docs/sum_dl inflated), so the append validates
    * the delta ids first — against the PACKED doc-id Bloom bitmap
    * (bits/64 rows, broadcast; cost rides the DELTA, never the
    * corpus): ids that miss the bloom are provably new, and only
    * bloom HITS (actual dups or ~6e-4 false positives) arbitrate
    * exactly against doclens (the suspects' `docbucket=` files and the
    * log's doclens segments). Fails fast on the first confirmed
    * duplicate. A DELETED doc_id counts as still indexed until
    * [[invertedIndexCompact]] physically removes it — re-appending it
    * earlier would be anti-joined invisible by the delete sidecar, so
    * the guard rejects that too (doclens keeps the row until compact,
    * by design). The continuous census ([[invertedIndexIsStale]])
    * guards the corpus as a whole the same way the ANN index's does.
    */
  def invertedIndexAppend(df: DataFrame, idCol: String, textCol: String,
                          root: String): Unit = {
    val spark = df.sparkSession
    val snap = IS.readEntries(spark, root, BmStore)
    val oldMeta = IS.readMeta(spark, root)
    val nBuckets = oldMeta.getInt("n_buckets")
    val nDocBuckets = oldMeta.getInt("n_docbuckets")
    val next = IS.appendGuarded(root, snap, BmStore, oldMeta, df, idCol,
        "invertedIndexAppend: doc_id",
        "NEW documents only (use invertedIndexDelete + compact, or rebuild)",
        IS.listLog(spark, root, BmStore)) { suspects =>
      // exact arbitration pruned to the SUSPECTS' own `docbucket=`
      // partitions (the ANN side's list-pruned discipline) plus the
      // log's doclens segments — suspect-bounded work, never a
      // corpus-sized doclens scan
      val bkts = IS.routeKeys(suspects, docBucket(col(idCol), nDocBuckets))
      IS.readRouted(spark, root, snap, BmStore, "doclens", bkts)
        .map(_.select(col("doc_id"))
          .join(broadcast(suspects.select(col(idCol).as("doc_id"))),
            Seq("doc_id"), "left_semi")
          .limit(1).collect())
        .getOrElse(Array.empty)
    } {
      // two tokenize passes by measurement — see invertedIndexWrite's
      // rejection note (the fused single-tokenize build measured slower
      // at sf0.1 and at the 100x rehearsal). The postings segment
      // shuffles on its route key and sorts every file by it: AQE
      // coalesces an append-sized delta to ONE file, and a bulk delta
      // keeps its partitions, written in parallel
      IS.writeLog(postingsOf(df, idCol, textCol, nBuckets)
          .repartition(col("bucket")).sortWithinPartitions("bucket", "term"),
        root, BmStore, "postings")
      // the delta census rides the doclens write as observed metrics —
      // no separate tokenizing pass over the delta. One row per doc:
      // ONE file with no shuffle (a shuffle costs a job per append)
      val obs = new org.apache.spark.sql.Observation()
      IS.writeLog(IS.observeCensus(df.select(
          col(idCol).as("doc_id"), size(words(col(textCol))).as("dl")),
          obs, BmStore, col("doc_id"))
        .withColumn("docbucket", docBucket(col("doc_id"), nDocBuckets))
        .coalesce(1).sortWithinPartitions("docbucket"),
        root, BmStore, "doclens")
      IS.observed(obs)
    }
    if (IS.logFull(next, BmStore)) IS.fold(spark, root, BmStore)
  }

  /** Record document deletions against a persisted inverted index —
    * the merge-on-read leg, mirroring SimilarityOps.indexDelete
    * (graft.sources.IndexStore.delete, one delete for both stores):
    * the stored (doc_id, docbucket) doclens rows of the doomed ids —
    * read from their `docbucket=` files and the log's doclens segments
    * — land in an append-mode `deletes` sidecar (never the postings),
    * [[bm25SearchIndexed]] serves base-minus-deletes through ONE
    * broadcastable anti-join applied BEFORE the df aggregate (so idf
    * reflects the surviving corpus exactly), and the meta census
    * (n_docs, sum_dl, checksum), observed on that one write, updates
    * subtractively. Only INDEXED ids are recorded: a never-indexed id
    * is neither recorded nor subtracted, so a later append of it
    * serves normally, and a re-deleted id commits nothing.
    * [[invertedIndexCompact]] physically removes the doomed postings
    * and drops the sidecar.
    */
  def invertedIndexDelete(doomed: DataFrame, idCol: String,
                          root: String): Unit =
    IS.delete(root, BmStore, "doclens", doomed, idCol,
      IS.routeKeys(doomed, docBucket(col(idCol),
        IS.readMeta(doomed.sparkSession, root).getInt("n_docbuckets"))))

  /** Has the document corpus drifted since the index was built?
    * Compares the stored (n_docs, order-free doc checksum) census
    * against the live corpus — one hash aggregate, the cheap gate a
    * serving path runs before trusting stored postings (the BM25 twin
    * of SimilarityOps.indexIsStale). True = rebuild needed.
    */
  def invertedIndexIsStale(corpus: DataFrame, idCol: String,
                           root: String): Boolean =
    IS.isStale(corpus, idCol, root, BmStore)

  /** One-call self-maintenance for a persisted inverted index — the
    * policy layer over [[invertedIndexCompact]] and the log fold that
    * SimilarityOps.indexMaintain shares
    * (graft.sources.IndexStore.foldOrCompact):
    *
    *   - COMPACT once recorded deletes reach `compactDeletedFraction`
    *     of the pre-delete corpus (merge-on-read serving is
    *     row-identical at any fraction, but every search pays the
    *     anti-join and the doomed postings' scan volume — and doc
    *     deletes are non-local in a term-partitioned store, so the
    *     rewrite is worth batching until material); the compaction
    *     folds the append log too;
    *   - otherwise FOLD the append log once it holds
    *     [[graft.sources.IndexStore.FlushSegments]] files of either
    *     kind (the bound the append itself enforces inline; reached
    *     here only when an append died between its commit and its
    *     fold): the log's rows staged one file per `bucket=` /
    *     `docbucket=` partition they route to, moved in beside its
    *     files.
    *
    * Below both thresholds this is a cheap no-op (one snapshot read +
    * one sidecar count), safe on every maintenance tick. Returns
    * whether it compacted or folded.
    */
  def invertedIndexMaintain(spark: org.apache.spark.sql.SparkSession,
                            root: String,
                            compactDeletedFraction: Double = 0.1)
    : Boolean = {
    val (full, due) = IS.foldOrCompact(spark, root, BmStore,
      IS.FlushSegments, compactDeletedFraction)
    full || due
  }

  /** Compact the inverted index's delete sidecar and fold its append
    * log (graft.sources.IndexStore.compact, the ANN store's compaction
    * too): physically drop the doomed docs' postings and doclens rows,
    * move the log segments' rows in beside the partition files they
    * route to, then remove the sidecar — meta stays (the census went
    * subtractive at delete time), and so does the dup-guard bloom: a
    * deleted doc_id stays "possibly present", and the append's exact
    * doclens arbitration lets its re-append through. Unlike the ANN
    * index, a doc's postings spread across MANY term-hash `bucket=`
    * partitions (the partition key is the TERM, deletes key on the
    * DOC), so doc deletes are non-local by construction: the touched
    * buckets are discovered with one column-pruned (doc_id, bucket)
    * scan, the touched docbuckets read off the sidecar, and only those
    * partitions rewrite — few doomed docs touch few buckets; bulk
    * deletes degrade gracefully toward the full rewrite a
    * term-partitioned store fundamentally requires, which is why this
    * runs on the OPTIMIZE maintenance cadence, not per delete.
    * Afterwards no log segment remains. Post-compact searches are
    * row-identical to the pre-compact merge-on-read (the
    * `bm25_index_compact` gate shares `bm25_index_delete`'s oracle).
    */
  def invertedIndexCompact(spark: org.apache.spark.sql.SparkSession,
                           root: String): Unit =
    IS.compact(spark, root, BmStore)

  /** Stage an inverted-index compaction WITHOUT committing it and
    * return the snapshot that would serve the compacted store
    * (graft.sources.IndexStore.prepareCompact) — the crash window the
    * lifecycle spec pins. Package-private: callers use
    * [[invertedIndexCompact]].
    */
  private[graft] def prepareInvertedCompact(
      spark: org.apache.spark.sql.SparkSession, root: String)
    : Option[Seq[IC.Entry]] =
    IS.prepareCompact(spark, root, BmStore, applyDeletes = true)

  /** The indexed BM25 scoring both searches share: one snapshot and
    * meta read; the probed postings of the UNION of the queries' terms
    * (only their `bucket=` files plus the unfolded log segments, read
    * whole under the same bucket filter; planned from the snapshot, so
    * staged/orphaned files of an interrupted append or maintenance op
    * are invisible; the term IN-list pushes to parquet), minus the
    * merge-on-read deletes BEFORE the df aggregate so idf reflects the
    * surviving corpus exactly; the |terms|-bounded df collect; and the
    * per-doc pivot over the union vocabulary (doc lengths ride the
    * posting rows). Returns the pivoted frame (doc_id, dl, _tf_i...)
    * and, for one query's terms, its (n_terms_matched, bm25) columns:
    * [[bm25Score]]'s fixed-order fold with the same expression shapes
    * (df as double, StrictMath log, same division order), so scores
    * are float-identical to it.
    */
  private def scoreIndexed(spark: org.apache.spark.sql.SparkSession,
                           root: String, termLists: Seq[Seq[String]],
                           k1: Double, b: Double)
    : (DataFrame, Seq[String] => (Column, Column)) = {
    val snap = IS.readEntries(spark, root, BmStore)
    val meta = IS.readMeta(spark, root)
    val nDocs = meta.getLong("n_docs").toDouble
    val avgdl = meta.getLong("sum_dl").toDouble / nDocs
    val nBuckets = meta.getInt("n_buckets")
    val unionTerms = termLists.flatten.distinct
    val buckets = unionTerms.map(t =>
      java.lang.Math.floorMod(polyHashFn(t), nBuckets.toLong)).distinct
    val post = IS.withoutDeleted(
      IS.readRouted(spark, root, snap, BmStore, "postings", buckets.toSet)
        .getOrElse(IS.read(spark, root, snap, "postings")(_ => false))
        .where(col("term").isin(unionTerms: _*)),
      root, snap, BmStore, "doc_id")
    val dfMap = post.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pivots = unionTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("tf"))).as(s"_tf_$i")
    } :+ max(col("dl")).as("dl") // norm inlined on the posting rows
    val perDoc = post.groupBy("doc_id")
      .agg(pivots.head, pivots.tail: _*)
    def tfOf(t: String): Column =
      coalesce(col(s"_tf_${unionTerms.indexOf(t)}"), lit(0))
    (perDoc, terms => {
      val nMatched = terms.foldLeft(lit(0)) { (acc, t) =>
        acc + when(tfOf(t) > 0, 1).otherwise(0)
      }
      val score = terms.foldLeft(lit(0.0)) { (acc, t) =>
        val tf = tfOf(t).cast("double")
        val dfi = lit(dfMap.getOrElse(t, 0L).toDouble)
        val idf = log(lit(1.0) + (lit(nDocs) - dfi + 0.5) / (dfi + 0.5))
        acc + idf * tf * (k1 + 1.0) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
      }
      (nMatched, score)
    })
  }

  /** BM25 top-k served from a PERSISTED inverted index — results
    * FLOAT-IDENTICAL to [[bm25TopK]] over the same corpus (the
    * `bm25_index_search` gate shares `bm25_topk`'s oracle): the
    * one-query case of [[bm25SearchIndexedBatch]]'s scoring, with per-doc
    * term frequencies pivoted from the postings instead of recomputed
    * from text. Only the probed `bucket=` partitions and the unfolded
    * log segments (whole, at most the log bound of them) are scanned;
    * the per-term df collect is |terms|-bounded; doc lengths ride the
    * posting rows themselves, so the serving path touches NOTHING
    * corpus-sized — cost is probed posting volume plus the log.
    */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession,
                        root: String, terms: Seq[String], k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (perDoc, score) = scoreIndexed(spark, root, Seq(terms), k1, b)
    val (nMatched, bm25) = score(terms)
    perDoc.select(col("doc_id"), col("dl"),
        nMatched.as("n_terms_matched"), bm25.as("bm25"))
      .where(col("n_terms_matched") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** A BATCH of BM25 queries served from ONE scan of the persisted
    * index — the serving shape of a retrieval deployment (queries
    * arrive in batches; the postings must not be re-read per query).
    * The probed buckets / term IN-list are the UNION of all queries'
    * terms (still partition pruning + pushdown), the per-doc pivot is
    * over the union vocabulary, and each query's score is its OWN
    * fixed-order fold over its own term list — the scoring
    * [[bm25SearchIndexed]] runs for one query, so every query's rows
    * are FLOAT-IDENTICAL to its single-query search (the
    * `hybrid_retrieval_batch` gate pins this). Per-query candidates
    * fan out via one generated struct array (|queries| entries per
    * MATCHED doc, never per posting); ranks are a query-partitioned
    * window, k rows per query survive. Deletes are honored exactly as
    * in the single-query path.
    * Output: (query_id, doc_id, dl, n_terms_matched, bm25, bm_rank).
    */
  def bm25SearchIndexedBatch(spark: org.apache.spark.sql.SparkSession,
                             root: String,
                             queries: Seq[(Long, Seq[String])], k: Int,
                             k1: Double = 1.2, b: Double = 0.75)
    : DataFrame = {
    val (perDoc, score) = scoreIndexed(spark, root, queries.map(_._2), k1, b)
    // one struct per query per matched doc
    val qStructs = queries.map { case (qid, terms) =>
      val (nMatched, bm25) = score(terms)
      struct(lit(qid).as("query_id"),
        nMatched.as("n_terms_matched"), bm25.as("bm25"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id"))
    perDoc
      .select(col("doc_id"), col("dl"),
        explode(array(qStructs: _*)).as("_q"))
      .select(col("_q.query_id").as("query_id"), col("doc_id"),
        col("dl"), col("_q.n_terms_matched").as("n_terms_matched"),
        col("_q.bm25").as("bm25"))
      .where(col("n_terms_matched") > 0)
      .withColumn("bm_rank", row_number().over(w))
      .where(col("bm_rank") <= k)
  }

  /** Per-document top-k terms by TF-IDF — the keyword/topic-feature
    * extraction step of a curation pipeline (domain tagging, cluster
    * labeling). tfidf(t, d) = tf(t, d) * ln(N / df(t)) with raw
    * integer term counts (integer-exact across engines; only the final
    * ln/multiply are float, in a fixed per-row order).
    *
    * 100 TB story: one explode + map-side-combined groupBy produces
    * the (doc, term, tf) table — shuffle bounded by distinct doc-term
    * pairs, not token count. Document frequency is a second partial
    * aggregate of that table, VOCABULARY-sized; it joins back on term
    * with no broadcast hint so AQE picks broadcast while the vocab is
    * small and a shuffle join once it isn't (a web-scale vocab outgrows
    * any broadcast budget). The per-doc top-k is a row_number window
    * (tfidf desc, term asc — total order, ties byte-broken), which
    * Spark plans with a partial WindowGroupLimit below the exchange:
    * each map task forwards at most k rows per doc.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docTerm = df
      .select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val termDf = docTerm.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df_t"))
    val nDocs = df.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    docTerm.join(termDf, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n_docs") / col("df_t")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("tfidf"))
  }

  /** Vocabulary-growth (Heaps) curve: per document in id order, how
    * many NEVER-SEEN-BEFORE terms it introduces and the cumulative
    * vocabulary size — the corpus-diversity diagnostic behind dedup /
    * mixture decisions.
    *
    * 100 TB story: "distinct so far" never materializes as running
    * state. Each term's first occurrence is one min-aggregate
    * (vocab-sized), the per-doc news count is a second bounded
    * aggregate, and the running total reuses PackOps.globalCumsum's
    * two-phase exact prefix sum — per-bucket totals + a bucket-count
    * window, never a corpus-wide global sort.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val firstOcc = df
      .select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy("term").agg(min(col(idCol)).as("first_doc"))
    val newPerDoc = firstOcc.groupBy(col("first_doc").as(idCol))
      .agg(count(lit(1)).as("new_terms"))
    val perDoc = df.select(col(idCol)).distinct()
      .join(newPerDoc, Seq(idCol), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
    PackOps.globalCumsum(perDoc, idCol, "new_terms")
      .withColumn("cum_vocab", col("start_tok") + col("new_terms"))
      .select(col(idCol), col("new_terms"), col("cum_vocab"))
  }

  /** Character-distribution entropy (nats, over UTF-8 bytes) — the
    * junk-text signal (base64 blobs, single-char spam, binary spill)
    * of a quality-filtering pipeline. Pure codegen'd scan via the
    * native [[graft.functions.CharEntropy]] expression: no UDF, no
    * String copy, no shuffle — a per-row kernel riding the parquet
    * scan, exactly what a 100 TB corpus sweep wants.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      length(col(textCol)).as("n_chars"),
      graft.functions.CharEntropy(col(textCol)).as("char_entropy"))

  /** BLEU-2 between given (reference id, candidate id) pairs — the
    * generation-eval metric that completes the retrieval-eval pair
    * (ndcg_eval) and the overlap family (ngram_jaccard measures SET
    * overlap; BLEU measures clipped MULTISET n-gram precision with a
    * brevity penalty, the actual summarization/translation scorer).
    *
    *   p_n  = Σ_g min(cnt_cand(g), cnt_ref(g)) / (#cand n-grams)
    *   BLEU = min(1, e^(1 − r/c)) · exp((ln p₁ + ln p₂)/2),  0 if any pₙ=0
    *
    * Fully relational: n-gram counts are hash aggregates, clipping is
    * one `least` per (pair, gram) join row, so cost is bounded by the
    * pair list's posting volume — no per-pair kernel, no all-pairs.
    * Counts are exact integers; the two ln/exp calls are the same IEEE
    * double expression in any engine (quantize downstream).
    */
  def bleuPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    val ws = docs.select(col(idCol), words(col(textCol)).as("_ws"))
    val uni = ws.select(col(idCol), explode(col("_ws")).as("_g"))
      .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_c"))
    // guard: Spark's sequence(1, 0) runs DESCENDING ([1, 0]) instead of
    // empty — single-word docs must yield zero bigrams explicitly
    val bi = ws.select(col(idCol),
        explode(when(size(col("_ws")) >= 2,
          expr("transform(sequence(1, size(_ws) - 1), i -> " +
            "concat(element_at(_ws, i), chr(31), element_at(_ws, i + 1)))"))
          .otherwise(expr("array()"))).as("_g"))
      .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_c"))
    def clipped(grams: DataFrame) = {
      val cand = pairs.join(
        grams.select(col(idCol).as("id2"), col("_g"),
          col("_c").as("_cc")), "id2")
      cand.join(
          grams.select(col(idCol).as("id1"), col("_g"),
            col("_c").as("_cr")), Seq("id1", "_g"), "left")
        .groupBy("id1", "id2")
        .agg(sum(least(col("_cc"), coalesce(col("_cr"), lit(0L))))
          .as("_clip"), sum(col("_cc")).as("_tot"))
    }
    val c1 = clipped(uni).withColumnRenamed("_clip", "clip1")
      .withColumnRenamed("_tot", "len_cand")
    val c2 = clipped(bi).withColumnRenamed("_clip", "clip2")
      .withColumnRenamed("_tot", "bi_cand")
    val refLen = pairs.join(
      ws.select(col(idCol).as("id1"), size(col("_ws")).cast("long")
        .as("len_ref")), "id1")
    // BOTH gram joins are left: a candidate that tokenizes to zero
    // words has no unigram rows, and an inner join would silently drop
    // the pair instead of scoring the metric's defined value (0)
    val base = refLen.join(c1, Seq("id1", "id2"), "left")
      .join(c2, Seq("id1", "id2"), "left") // single-word cand: no bigrams
    val p1 = col("clip1").cast("double") / col("len_cand")
    val p2 = col("clip2").cast("double") / col("bi_cand")
    val bp = least(lit(1.0),
      exp(lit(1.0) - col("len_ref").cast("double") / col("len_cand")))
    base.select(col("id1"), col("id2"), col("len_ref"),
      coalesce(col("len_cand"), lit(0L)).as("len_cand"),
      coalesce(col("clip1"), lit(0L)).as("clip1"),
      coalesce(col("clip2"), lit(0L)).as("clip2"),
      when(coalesce(col("clip1"), lit(0L)) > 0 &&
          coalesce(col("clip2"), lit(0L)) > 0,
        bp * exp((log(p1) + log(p2)) / lit(2.0)))
        .otherwise(lit(0.0)).as("bleu2"))
  }

  /** ROUGE-1/ROUGE-2 between given (reference id, candidate id) pairs —
    * the recall-side eval twin of [[bleuPairs]] (BLEU asks "how much of
    * the candidate is in the reference?"; ROUGE asks the reverse, the
    * summarization-eval convention):
    *
    *   overlap_n = Σ_g min(cnt_ref(g), cnt_cand(g))
    *   recall_n  = overlap_n / (#ref n-grams)
    *   F1_n      = 2·P·R/(P+R)  =  2·overlap_n / (#ref + #cand n-grams)
    *
    * (the harmonic mean of count-ratio P and R collapses to the second
    * form — one division instead of three, same IEEE result in any
    * engine). Same relational shape as BLEU: n-gram counts are hash
    * aggregates and the overlap join is INNER on (pair, gram) — only
    * shared grams contribute to the min — so cost is bounded by the
    * pair list's posting volume, never all-pairs.
    */
  def rougePairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val ws = docs.select(col(idCol), words(col(textCol)).as("_ws"))
    val uni = ws.select(col(idCol), explode(col("_ws")).as("_g"))
      .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_c"))
    // same descending-sequence guard as bleuPairs: single-word docs
    // must yield zero bigrams, not sequence(1, 0) = [1, 0]
    val bi = ws.select(col(idCol),
        explode(when(size(col("_ws")) >= 2,
          expr("transform(sequence(1, size(_ws) - 1), i -> " +
            "concat(element_at(_ws, i), chr(31), element_at(_ws, i + 1)))"))
          .otherwise(expr("array()"))).as("_g"))
      .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_c"))
    def overlap(grams: DataFrame, out: String) =
      pairs.join(grams.select(col(idCol).as("id2"), col("_g"),
          col("_c").as("_cc")), "id2")
        .join(grams.select(col(idCol).as("id1"), col("_g"),
          col("_c").as("_cr")), Seq("id1", "_g"))
        .groupBy("id1", "id2")
        .agg(sum(least(col("_cc"), col("_cr"))).as(out))
    val lens = ws.select(col(idCol),
      size(col("_ws")).cast("long").as("_n1"),
      greatest(size(col("_ws")) - 1, lit(0)).cast("long").as("_n2"))
    val base = pairs
      .join(lens.select(col(idCol).as("id1"), col("_n1").as("ref1"),
        col("_n2").as("ref2")), "id1")
      .join(lens.select(col(idCol).as("id2"), col("_n1").as("cand1"),
        col("_n2").as("cand2")), "id2")
      .join(overlap(uni, "_ov1"), Seq("id1", "id2"), "left")
      .join(overlap(bi, "_ov2"), Seq("id1", "id2"), "left")
    val ov1 = coalesce(col("_ov1"), lit(0L))
    val ov2 = coalesce(col("_ov2"), lit(0L))
    base.select(col("id1"), col("id2"), col("ref1"), col("cand1"),
      ov1.as("ov1"), ov2.as("ov2"),
      when(ov1 > 0, ov1.cast("double") / col("ref1"))
        .otherwise(lit(0.0)).as("rouge1_r"),
      when(ov1 > 0,
        lit(2.0) * ov1.cast("double") / (col("ref1") + col("cand1")))
        .otherwise(lit(0.0)).as("rouge1_f"),
      when(ov2 > 0,
        lit(2.0) * ov2.cast("double") / (col("ref2") + col("cand2")))
        .otherwise(lit(0.0)).as("rouge2_f"))
  }

  /** Top-k term-frequency shift between two cohorts — the TOKEN-level
    * drift readout that tells you WHAT moved when the distribution
    * monitors ([[graft.operators.StatsOps.ksDrift]], PSI) fire:
    * per-term log-ratio of add-one-smoothed relative frequencies,
    *   shift(w) = ln( ((ca+1)/(n_a+V)) / ((cb+1)/(n_b+V)) ),
    * ranked by |shift| (term tie-break — deterministic cutoff).
    *
    * Fully relational: one explode + hash aggregate to per-term cohort
    * counts (bounded by vocabulary), a 1-row totals broadcast, and a
    * TakeOrdered top-k of the COUNTS table — never a sort of the fact.
    * Counts are exact integers; each shift is two single divisions and
    * one ln, identical IEEE in any engine.
    */
  def termShift(docs: DataFrame, cohortCol: String, cohortA: String,
                cohortB: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "termShift needs k > 0")
    val toks = docs.where(col(cohortCol).isin(cohortA, cohortB))
      .select(col(cohortCol).as("_c"),
        explode(words(col(textCol))).as("_w"))
    val counts = toks.groupBy("_w").agg(
      sum(when(col("_c") === cohortA, 1L).otherwise(0L)).as("_ca"),
      sum(when(col("_c") === cohortB, 1L).otherwise(0L)).as("_cb"))
    val tot = counts.agg(sum(col("_ca")).as("n_a"),
      sum(col("_cb")).as("n_b"), count(lit(1)).as("_v"))
    counts.crossJoin(broadcast(tot))
      .select(col("_w").as("term"), col("_ca").as("cnt_a"),
        col("_cb").as("cnt_b"),
        log(((col("_ca") + 1).cast("double") / (col("n_a") + col("_v"))) /
          ((col("_cb") + 1).cast("double") / (col("n_b") + col("_v"))))
          .as("shift"))
      .orderBy(abs(col("shift")).desc, col("term"))
      .limit(k)
  }

  /** Out-of-vocabulary rate per group against a corpus-derived top-n
    * vocabulary — the tokenizer-coverage readout run before committing
    * a vocab to a training run (a lang/domain whose OOV rate spikes is
    * about to be tokenized into byte soup). The vocabulary is the n
    * globally most frequent words (count desc, word asc tie-break —
    * deterministic); OOV = tokens outside it.
    *
    * Plan shape: one hash aggregate to word counts (map-side combined,
    * state = |vocabulary domain|), a TakeOrdered top-n of THAT bounded
    * table (never the fact), then one broadcast anti-join-shaped left
    * join flag + per-group aggregate over the token stream. The token
    * explode is the only fact-sized stage and it carries two columns.
    */
  def oovRate(df: DataFrame, groupCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val toks = df.select(col(groupCol),
      explode(words(col(textCol))).as("_w"))
    val vocab = toks.groupBy(col("_w"))
      .agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_w"))
      .limit(vocabSize)
      .select(col("_w"), lit(1).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("_w"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(groupCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Vocabulary head coverage — how many distinct terms cover `frac`
    * of each group's tokens (the tokenizer/compression planning
    * number: a tiny head covering 80% means aggressive vocab pruning
    * is safe). k = the smallest rank (freq desc, term asc —
    * deterministic) whose cumulative frequency reaches
    * ceil(frac·total), exact integer rank selection.
    *
    * Plan: token scan → vocab-bounded counts → group-partitioned
    * rank/cumulative window over the vocab domain.
    */
  def vocabCoverage(docs: DataFrame, groupCol: String, textCol: String,
                    fracPermille: Int = 800): DataFrame = {
    require(fracPermille > 0 && fracPermille <= 1000,
      s"fracPermille in (0,1000], got $fracPermille")
    import org.apache.spark.sql.expressions.Window
    val counts = docs.where(col(groupCol).isNotNull &&
        col(textCol).isNotNull)
      .select(col(groupCol).as("_g"),
        explode(words(col(textCol))).as("_w"))
      .groupBy(col("_g"), col("_w")).agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy(col("_g"))
      .orderBy(col("_c").desc, col("_w"))
    val ranked = counts
      .withColumn("_r", row_number().over(w))
      .withColumn("_cum", sum(col("_c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(counts.groupBy(col("_g")).agg(sum(col("_c")).as("_tot"),
        count(lit(1)).as("vocab_size")), Seq("_g"))
    // ceil(frac·total) in exact integers
    val need = expr(s"(_tot * ${fracPermille}L + 999L) div 1000L")
    ranked.where(col("_cum") >= need)
      .groupBy(col("_g"))
      .agg(max(col("_tot")).as("n_tokens"),
        max(col("vocab_size")).as("vocab_size"),
        min(col("_r")).as("k_head"),
        min(col("_cum")).as("_chead"))
    // min(_cum) pairs with min(_r): the first rank past the
    // threshold also has the smallest cumulative among survivors
      .select(col("_g").as(groupCol), col("n_tokens"),
        col("vocab_size"), col("k_head"),
        (col("_chead").cast("double") / col("n_tokens").cast("double"))
          .as("head_share"))
  }

  /** Rank-biased overlap (RBO, Webber et al.) between two cohorts'
    * top-k term rankings — [[termShift]] scores individual terms;
    * RBO scores whether the RANKINGS agree, top-weighted (a swap at
    * rank 2 costs more than at rank 19), the right drift metric for
    * "did the vocabulary head change". Truncated form:
    * (1−p)·Σ_{d<=k} p^(d−1)·|A_d ∩ B_d|/d with p = 0.9.
    *
    * Exactness: rankings are deterministic (count desc, term asc);
    * per-depth overlaps are exact integers from a k²-bounded depth
    * join; p^(d−1) comes from a fixed-order multiply-accumulate fold
    * (no pow(), whose rounding is not portable across libms). Plan:
    * token scan → vocab-bounded counts → per-cohort k-bounded rank
    * windows → k²-bounded arithmetic.
    */
  def rboTerms(docs: DataFrame, cohortCol: String, cohortA: String,
               cohortB: String, textCol: String, k: Int = 20,
               p: Double = 0.9): DataFrame = {
    require(k > 0 && p > 0 && p < 1, s"need k > 0, p in (0,1): $k, $p")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.where(col(cohortCol).isin(cohortA, cohortB))
      .select(col(cohortCol).as("_c"),
        explode(words(col(textCol))).as("_w"))
      .groupBy(col("_c"), col("_w")).agg(count(lit(1)).as("_n"))
    val rw = Window.partitionBy(col("_c"))
      .orderBy(col("_n").desc, col("_w"))
    val ranked = toks.withColumn("_r", row_number().over(rw))
      .where(col("_r") <= k)
    val joined = ranked.where(col("_c") === cohortA)
      .select(col("_w"), col("_r").as("_ra"))
      .join(ranked.where(col("_c") === cohortB)
        .select(col("_w"), col("_r").as("_rb")), Seq("_w"))
    val allD = spark.range(1, k + 1)
      .select(col("id").cast("int").as("_d"))
    val overlaps = joined
      .select(greatest(col("_ra"), col("_rb")).as("_m"))
      .crossJoin(allD)
      .where(col("_m") <= col("_d"))
      .groupBy(col("_d")).agg(count(lit(1)).as("_x0"))
    // zero-overlap depths MUST still advance the weight fold
    val depths = allD.join(overlaps, Seq("_d"), "left")
      .select(col("_d"), coalesce(col("_x0"), lit(0L)).as("_x"))
    val pStr = p.toString
    depths
      .agg(sort_array(collect_list(struct(col("_d"), col("_x"))))
        .as("arr"), max(when(col("_d") === k, col("_x"))).as("_xk"))
      .select(coalesce(col("_xk"), lit(0L)).as("n_common"),
        expr(
          s"""aggregate(arr,
             |  named_struct('w', cast(1.0 as double),
             |    's', cast(0.0 as double)),
             |  (acc, x) -> named_struct(
             |    'w', acc.w * cast($pStr as double),
             |    's', acc.s + acc.w * cast(x._x as double)
             |      / cast(x._d as double)),
             |  acc -> (cast(1.0 as double) - cast($pStr as double))
             |    * acc.s)""".stripMargin).as("rbo"),
        (coalesce(col("_xk"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("overlap_at_k"))
  }

  private def spark = org.apache.spark.sql.SparkSession.active

  /** Flesch reading-ease per group — the readability axis the
    * length/punct quality scores don't capture: 206.835 − 1.015·(W/S)
    * − 84.6·(SYL/W) with words = single-space tokens, sentences =
    * max(1, [.!?]+ runs), syllables = vowel-group runs in the
    * lowercased text (the standard heuristic; hyphenation-free).
    *
    * Exactness: the three counts are exact integers off one regexp
    * scan; the per-doc score is a mirrored IEEE expression snapped to
    * a 1e-6 BIGINT before the group sum, so the mean is an exact
    * integer ratio. Plan: one fact scan → one hash aggregate; no
    * shuffle of text.
    */
  def fleschReadability(df: DataFrame, textCol: String,
                        groupCol: String): DataFrame = {
    val t = df.where(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol),
        size(split(col(textCol), " ")).cast("long").as("_w"),
        greatest(lit(1L), size(regexp_extract_all(col(textCol),
          lit("[.!?]+"), lit(0))).cast("long")).as("_s"),
        size(regexp_extract_all(lower(col(textCol)),
          lit("[aeiouy]+"), lit(0))).cast("long").as("_syl"))
    def D(c: String) = col(c).cast("double")
    val flesch = lit(206.835) - lit(1.015) * (D("_w") / D("_s")) -
      lit(84.6) * (D("_syl") / D("_w"))
    t.select(col(groupCol),
        floor(flesch * lit(1.0e6) + lit(0.5)).cast("long").as("_fq"),
        col("_syl"), col("_w"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum("_fq").as("_sf"),
        sum("_syl").as("_ssyl"), sum("_w").as("_sw"))
      .select(col(groupCol), col("n_docs"),
        (D("_sf") / lit(1.0e6) / D("n_docs")).as("mean_flesch"),
        (D("_ssyl") / D("_sw")).as("syl_per_word"))
  }
}
