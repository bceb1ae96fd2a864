package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming surface (SURVEY.md §2.10 — beyond-parity): the reference
  * is batch-only, but its `time_average` resample is exactly a
  * tumbling event-time window, so the same aggregation runs unchanged
  * under Structured Streaming with a watermark. These operators accept
  * BOTH batch and streaming DataFrames (`spark.read` / `readStream`).
  *
  * 100 TB/day story: event-time windows + watermark bound state; the
  * aggregation is the same partial+final hash agg as the batch path,
  * with state eviction at watermark expiry.
  */
object StreamingOps {

  /** Tumbling-window weighted average — streaming time_average
    * (cngi/vis/time_average.py:66 analog). Works on a streaming frame
    * after `.withWatermark(timeCol, delay)`.
    */
  def windowedAverage(df: DataFrame, timeCol: String, width: String,
                      keys: Seq[String], value: String, weight: String,
                      watermark: Option[String] = None): DataFrame = {
    val in = watermark.map(df.withWatermark(timeCol, _)).getOrElse(df)
    in.groupBy((window(col(timeCol), width).as("time_bin") +:
        keys.map(col)): _*)
      .agg((sum(col(value) * col(weight)) / sum(col(weight))).as(value),
        sum(col(weight)).as(weight),
        count(lit(1)).as("n_rows"))
  }

  /** Streaming flag-summary: running flagged/total counts per key
    * (ngcasa summary, incrementally maintained).
    */
  def runningFlagCounts(df: DataFrame, timeCol: String, width: String,
                        flag: Column, keys: Seq[String],
                        watermark: Option[String] = None): DataFrame = {
    val in = watermark.map(df.withWatermark(timeCol, _)).getOrElse(df)
    in.groupBy((window(col(timeCol), width).as("time_bin") +:
        keys.map(col)): _*)
      .agg(sum(when(flag, 1L).otherwise(0L)).as("flagged"),
        count(lit(1)).as("total"))
  }

  /** Streaming exact-dedup: emit a document's (hash pair, id) the
    * FIRST time its content is seen, suppress every later duplicate —
    * the continuous-ingestion form of DedupOps.exactDedup, with the
    * same 128-bit composite key. `flatMapGroupsWithState` keeps one
    * boolean per distinct content hash; state is the distinct-content
    * cardinality, not the stream length.
    *
    * Works on BOTH batch and streaming frames: on a batch frame each
    * group arrives at once with empty state, so the output is exactly
    * one row per distinct text keyed by min id — which is what the
    * DuckDB oracle of the `stream_dedup` contract query checks; the
    * cross-micro-batch suppression is covered by the MemoryStream
    * ScalaTest.
    */
  def streamingExactDedup(spark: SparkSession, df: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    import graft.operators.TextOps
    val keyed = df.select(
        TextOps.polyHash(col(textCol)).as("h1"),
        TextOps.polyHash2(col(textCol)).as("h2"),
        col(idCol).cast("long").as("id"))
      .as[(Long, Long, Long)]
    keyed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Boolean, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((h1, h2), rows, state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            var best = Long.MaxValue
            for (r <- rows) if (r._3 < best) best = r._3
            Iterator((h1, h2, best))
          }
      }.toDF("text_hash", "text_hash2", "doc_id")
  }

  /** Streaming NEAR-dup detection at ingest — the MinHash-LSH twin of
    * [[streamingExactDedup]]: each document's signature is banded, and
    * every (band, band_hash) bucket remembers the smallest id it has
    * ever held. A document COLLIDES on a band when its bucket already
    * holds an earlier document — i.e. it is a near-duplicate candidate
    * of something already ingested.
    *
    * Emits one row per (id, band): `(id, band, collided)`. The per-doc
    * verdict (dup on ANY band) is a separate plain aggregation —
    * [[nearDupDecisions]] — because Spark does not allow a second
    * stateful operator after flatMapGroupsWithState in one streaming
    * query; run the reduction in the sink (`foreachBatch`) or on the
    * collision stream's output table, exactly as LSH ingest dedup is
    * deployed in practice.
    *
    * Ordering semantics: "earlier" = smaller id within a micro-batch,
    * first-arrival across micro-batches — identical to the pure
    * min-id rule whenever arrival order follows id order (the ingest
    * contract). On a BATCH frame every group arrives at once with
    * empty state, so the operator IS the min-id rule, which is what
    * the `stream_neardup` contract query oracle-checks in DuckDB.
    *
    * 100 TB story: state = ONE long per occupied band bucket (bounded
    * by distinct-bucket cardinality, not stream length); the per-group
    * batch buffer is bucket occupancy within one micro-batch. For
    * adversarial buckets (boilerplate shingles) cap upstream like
    * DedupOps.minHashCandidates(maxBucket); for unbounded retention
    * add a GroupStateTimeout — kept NoTimeout here because dedup
    * memory is the point.
    */
  def streamingBandCollisions(spark: SparkSession, df: DataFrame,
                              idCol: String, textCol: String,
                              shingleN: Int = 3, numHashes: Int = 16,
                              bands: Int = 8): DataFrame = {
    import spark.implicits._
    import graft.operators.{DedupOps, TextOps}
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = df.select(col(idCol).cast("long").as("id"),
        DedupOps.minHashSignature(
          TextOps.shingleHashes(col(textCol), shingleN), numHashes).as("sig"))
      .where(col("sig").isNotNull)
    DedupOps.lshBands(sig, "id", "sig", bands, numHashes / bands)
      .select(col("band").cast("int"), col("band_hash").cast("long"),
        col("id"))
      .as[(Int, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, (Long, Int, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state) =>
          val rs = rows.toArray // bucket occupancy within this batch
          var mn = Long.MaxValue
          for (r <- rs) if (r._3 < mn) mn = r._3
          val seenBefore = state.exists
          state.update(if (seenBefore) math.min(state.get, mn) else mn)
          rs.iterator.map(r => (r._3, band, seenBefore || r._3 > mn))
      }.toDF("id", "band", "collided")
  }

  /** Per-document verdict over [[streamingBandCollisions]] output:
    * `(doc_id, is_dup)` for every document of `orig` — dup iff ANY
    * band collided; documents with no shingles (too short to band)
    * are never dups. Plain hash aggregate + left join: run batch-side
    * or per micro-batch in `foreachBatch`.
    */
  def nearDupDecisions(orig: DataFrame, idCol: String,
                       collisions: DataFrame): DataFrame = {
    val verdict = collisions.groupBy(col("id"))
      .agg(max(col("collided")).as("_coll"))
    orig.select(col(idCol).cast("long").as("doc_id")).distinct()
      .join(verdict, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("_coll"), lit(false)).as("is_dup"))
  }

  /** Batch sessionization (gaps-and-islands) over INTEGER event-time
    * nanos: a new session starts when the gap to the previous event of
    * the same key exceeds `gapNs`. Pure integer arithmetic end to end
    * — session boundaries, ids, and min/max times are bit-exact in any
    * engine (wall-clock float seconds would wobble at the microsecond
    * ulp).
    *
    * 100 TB story: ONE shuffle (partition by key), sort within
    * partition, two window passes + one hash agg — the canonical
    * distributed sessionization. Skew is bounded by the heaviest
    * single key's event count; same-timestamp ties never open a
    * session (gap 0), so tie order is irrelevant to every output.
    */
  def sessionize(df: DataFrame, keyCol: String, tsNanosCol: String,
                 gapNs: Long, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsNanosCol))
    val newSession = when(
      lag(col(tsNanosCol), 1).over(byKey).isNull ||
        col(tsNanosCol) - lag(col(tsNanosCol), 1).over(byKey) > gapNs,
      1L).otherwise(0L)
    df.withColumn("_new_s", newSession)
      .withColumn("session_seq",
        sum(col("_new_s")).over(byKey.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(min(col(tsNanosCol)).as("session_start_ns"),
        max(col(tsNanosCol)).as("session_end_ns"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("value_sum"))
  }

  /** Streaming sessionization via the built-in `session_window`
    * (merging gap windows + watermark state eviction) — the streaming
    * twin of [[sessionize]]; also runs on batch frames. MemoryStream
    * equivalence is covered in StreamingOpsSpec.
    */
  def sessionizeStream(df: DataFrame, timeCol: String, gap: String,
                       keys: Seq[String], valueCol: String,
                       watermark: Option[String] = None): DataFrame = {
    val in = watermark.map(df.withWatermark(timeCol, _)).getOrElse(df)
    in.groupBy((session_window(col(timeCol), gap).as("session") +:
        keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("value_sum"))
  }

  /** Stream-static enrichment: join each event against a static (or
    * slowly-refreshed) dimension snapshot. Works on BOTH batch and
    * streaming fact frames — under Structured Streaming a stream-static
    * equi-join is stateless (each micro-batch probes the dimension,
    * nothing is buffered), and the broadcast hint keeps the probe
    * shuffle-free when the dimension fits; at 100 TB/day this is the
    * enrich-on-ingest shape, with the dimension re-broadcast per batch.
    */
  def enrich(facts: DataFrame, dim: DataFrame, keys: Seq[String],
             dimCols: Seq[String]): DataFrame =
    facts.join(broadcast(dim.select((keys ++ dimCols).map(col): _*)),
      keys, "left")

  /** Stream-stream INTERVAL join: pair each left event with the right
    * events of the same key whose event time falls in
    * [leftTime + lower, leftTime + upper]. Output = all left columns +
    * the right side's non-key columns (right column names must not
    * collide with left ones — rename before the call, as the asof join
    * does).
    *
    * Works on BOTH batch and streaming frames. On a streaming pair
    * this is Spark's canonical watermark-bounded stateful join: both
    * sides buffer rows in the state store, and the time-range ON
    * condition plus the two watermarks let Spark evict a buffered row
    * as soon as the other side's watermark passes its join window —
    * state is O(key-rate x window), not O(stream). On batch frames
    * Catalyst plans the same expression as an equi-join on the keys
    * with the range as a post-filter — the dominant cost is the hash
    * join, never a nested loop.
    *
    * Time columns may be TimestampType (streaming; bounds like
    * `expr("interval 10 minutes")`) or integer nanos (batch-exact;
    * bounds as long literals) — the condition is pure comparisons
    * either way.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String,
                   lower: Column, upper: Column,
                   leftWatermark: Option[String] = None,
                   rightWatermark: Option[String] = None): DataFrame = {
    val l = leftWatermark.map(left.withWatermark(leftTime, _))
      .getOrElse(left).alias("l")
    val r = rightWatermark.map(right.withWatermark(rightTime, _))
      .getOrElse(right).alias("r")
    val cond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
      col(s"r.$rightTime") >= col(s"l.$leftTime") + lower &&
      col(s"r.$rightTime") <= col(s"l.$leftTime") + upper
    keys.foldLeft(l.join(r, cond))((d, k) => d.drop(col(s"r.$k")))
  }

  /** Streaming first-touch funnel — the incremental twin of
    * SequenceOps.funnelSteps. State per key is the chain of step
    * timestamps (O(|steps|) longs, NOT the event history): each
    * micro-batch folds its rows in event-time order and extends the
    * chain greedily — an event extends it iff its type is the next
    * step and its time is strictly after the chain's end. Emits one
    * `(key, chain, depth)` snapshot per batch in which the chain grew.
    *
    * Semantics: identical to the batch conditional-min cascade
    * whenever each key's events arrive in event-time order across
    * micro-batches (the greedy time-ordered fold IS the cascade); a
    * LATE event that would have refined an earlier chain link is
    * ignored — the documented price of O(|steps|) state. On a batch
    * frame every group arrives at once, so the fold sees fully sorted
    * history and the output equals funnelSteps exactly (pinned by
    * StreamingOpsSpec).
    */
  def funnelStream(spark: SparkSession, df: DataFrame, keyCol: String,
                   typeCol: String, timeCol: String,
                   steps: Seq[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the long-keyed state encoding is only sound for integral inputs:
    // a string key would cast to null and merge every user into one
    // state group; a timestamp would truncate to seconds and lose the
    // strict ordering funnelSteps honors
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    require(integral.contains(df.schema(keyCol).dataType),
      s"funnelStream needs an integral $keyCol " +
        s"(got ${df.schema(keyCol).dataType.sql}); hash or dictionary-" +
        "encode other key types upstream")
    require(integral.contains(df.schema(timeCol).dataType),
      s"funnelStream needs an integral (epoch-nanos) $timeCol, " +
        s"got ${df.schema(timeCol).dataType.sql}")
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.size
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(typeCol).as("_ty"), col(timeCol).cast("long").as("_ts"))
      .as[(Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Seq[Long], Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val chain = state.getOption.getOrElse(Array.empty[Long])
          var depth = chain.length
          val grown = new scala.collection.mutable.ArrayBuffer[Long](k)
          grown ++= chain
          // fold in event-time order; at equal times a lower step index
          // first (a (view, click) tie still can't chain: strict >)
          val evs = rows.toArray
            .filter(r => stepIdx.contains(r._2))
            .sortBy(r => (r._3, stepIdx(r._2)))
          for (e <- evs if depth < k)
            if (stepIdx(e._2) == depth &&
                (depth == 0 || e._3 > grown(depth - 1))) {
              grown += e._3; depth += 1
            }
          if (depth > chain.length) {
            state.update(grown.toArray)
            Iterator((key, grown.toSeq, depth))
          } else Iterator.empty
      }
      .toDF(keyCol, "chain", "depth")
  }

  /** Streaming first-seen activity periods — the stateful front half
    * of incremental cohort retention (SequenceOps.retentionCohorts).
    * State per key: the cohort (first period ever seen) plus the set
    * of periods already emitted — bounded by the CALENDAR (periods
    * elapsed), never by event count. Emits one (key, cohort, period)
    * row the first time a key is active in a period; the retention
    * triangle is then a plain downstream aggregation (run it in
    * foreachBatch / on the sink table — same two-stage deployment as
    * streamingBandCollisions, since Spark allows one stateful operator
    * per streaming query).
    *
    * Late-data caveat: a late event from a period EARLIER than the
    * key's known cohort re-bases the cohort only if it arrives before
    * any emission for that key is consumed downstream; on a batch
    * frame each group folds its full history at once, so the output
    * matches the batch operator exactly.
    */
  def firstSeenPeriods(spark: SparkSession, df: DataFrame, keyCol: String,
                       timeCol: String, periodNs: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // same contract as funnelStream: a string key would cast to null
    // and merge every user into one state group
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    require(integral.contains(df.schema(keyCol).dataType),
      s"firstSeenPeriods needs an integral $keyCol " +
        s"(got ${df.schema(keyCol).dataType.sql})")
    require(integral.contains(df.schema(timeCol).dataType),
      s"firstSeenPeriods needs an integral (epoch-nanos) $timeCol, " +
        s"got ${df.schema(timeCol).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        expr(s"$timeCol div ${periodNs}L").as("_p"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val (cohort0, seen0) =
            state.getOption.getOrElse((Long.MaxValue, Seq.empty[Long]))
          val seen = scala.collection.mutable.Set(seen0: _*)
          var cohort = cohort0
          val fresh = scala.collection.mutable.ArrayBuffer.empty[Long]
          for (r <- rows) {
            if (r._2 < cohort) cohort = r._2
            if (!seen.contains(r._2)) { seen += r._2; fresh += r._2 }
          }
          if (fresh.isEmpty) Iterator.empty
          else {
            state.update((cohort, seen.toSeq))
            fresh.iterator.map(p => (key, cohort, p))
          }
      }
      .toDF(keyCol, "cohort", "period")
  }

  /** Streaming rolling z-score anomaly detection — the incremental twin
    * of SequenceOps.anomalyZscore. State per key: a ring buffer of the
    * last `lookback` fixed-point values (O(lookback) longs, bounded by
    * construction — never by the key's history). Each event is scored
    * against the buffer CONTENT before it is appended, with the exact
    * same closed-form double expression as the batch window operator,
    * so on a batch frame (every group folds its full sorted history at
    * once) the output is bit-identical to anomalyZscore — pinned by
    * StreamingOpsSpec and the shared oracle SQL.
    *
    * Cross-micro-batch semantics: exact whenever each key's events
    * arrive in event-time order across batches (the buffer then always
    * holds the true trailing window); a late event is scored against
    * the state as-of arrival — the documented price of O(lookback)
    * state, same contract as funnelStream.
    */
  def anomalyStream(spark: SparkSession, df: DataFrame, keyCol: String,
                    tsCol: String, tieCol: String, valueScaledCol: String,
                    lookback: Int = 10, minN: Int = 5,
                    threshold: Double = 3.0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, tsCol, tieCol, valueScaledCol))
      require(integral.contains(df.schema(c).dataType),
        s"anomalyStream needs an integral $c, " +
          s"got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(tsCol).cast("long").as("_ts"), col(tieCol).cast("long").as("_tie"),
        col(valueScaledCol).cast("long").as("_iv"))
      .as[(Long, Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long],
        (Long, Long, Long, Long, Long, Option[Double], Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val buf = scala.collection.mutable.ArrayDeque[Long](
            state.getOption.getOrElse(Array.empty[Long]).toSeq: _*)
          val out = rows.toArray.sortBy(r => (r._2, r._3)).iterator.map { r =>
            val n = buf.length
            // same operation order as the batch Catalyst expression:
            // exact integer sums, one closed-form double evaluation
            var sm = 0L; var sq = 0L
            buf.foreach { v => sm += v; sq += v * v }
            val nD = n.toDouble
            val varr = (sq.toDouble - sm.toDouble * sm.toDouble / nD) /
              (nD - 1.0)
            val z: Option[Double] =
              if (n >= minN && varr > 0.0)
                Some((r._4.toDouble - sm.toDouble / nD) / math.sqrt(varr))
              else None
            val flag = if (z.exists(v => math.abs(v) > threshold)) 1 else 0
            buf.append(r._4)
            if (buf.length > lookback) buf.removeHead()
            (key, r._2, r._3, r._4, n.toLong, z, flag)
          }.toVector
          state.update(buf.toArray)
          out.iterator
      }
      .toDF(keyCol, tsCol, tieCol, "value_scaled", "n_prev", "z",
        "is_anomaly")
  }

  /** Shared ring-buffer scaffold of the bounded-lookback streaming
    * twins (EWMA, rolling median): integral key/ts/tie requires, a
    * LOUD non-null contract on the value column (the typed encoder's
    * primitive Double would otherwise die with an opaque null-field
    * error mid-job — the batch twins tolerate nulls, so a null here is
    * a contract violation to surface, not silently diverge on), the
    * per-key Array[Double] ring of the last `lookback`+1 values
    * carried across micro-batches, and the within-batch (ts, tie)
    * sort. Each twin supplies only its per-row reducer over the
    * buffer (oldest..current).
    */
  private def ringDoubleStream(spark: SparkSession, df: DataFrame,
                               opName: String, keyCol: String,
                               tsCol: String, tieCol: String,
                               valueCol: String, lookback: Int,
                               outCol: String)
                              (reduce: scala.collection.Seq[Double] => Double)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, tsCol, tieCol))
      require(integral.contains(df.schema(c).dataType),
        s"$opName needs an integral $c, got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(tsCol).cast("long").as("_ts"), col(tieCol).cast("long").as("_tie"),
        coalesce(col(valueCol).cast("double"),
          raise_error(lit(s"$opName: $valueCol must be non-null " +
            "(the batch twin skips nulls; pre-filter or impute them)")))
          .as("_v"))
      .as[(Long, Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Double],
        (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val buf = scala.collection.mutable.ArrayDeque[Double](
            state.getOption.getOrElse(Array.empty[Double]).toSeq: _*)
          val out = rows.toArray.sortBy(r => (r._2, r._3)).iterator.map { r =>
            buf.append(r._4)
            if (buf.length > lookback + 1) buf.removeHead()
            (key, r._2, r._3, reduce(buf))
          }.toVector
          state.update(buf.toArray)
          out.iterator
      }
      .toDF(keyCol, tsCol, tieCol, outCol)
  }

  /** Streaming bounded-lookback EWMA — the incremental twin of
    * SequenceOps.ewmaSmooth. State per key: a ring buffer of the last
    * `lookback` values, O(lookback) whatever the key's history. Each
    * arriving row is smoothed over (buffer ++ itself) with α^i decay
    * in the batch operator's EXACT fold order (oldest first, weights
    * α^(n-1-i), numerator and denominator folded separately, divided
    * once) — with α a power of two every step is an exact IEEE
    * scaling, so on a batch frame the output is bit-identical to the
    * batch window (shared oracle SQL), and across micro-batches the
    * carried buffer makes the smoothing seamless.
    */
  def ewmaStream(spark: SparkSession, df: DataFrame, keyCol: String,
                 tsCol: String, tieCol: String, valueCol: String,
                 alpha: Double = 0.5, lookback: Int = 8): DataFrame =
    ringDoubleStream(spark, df, "ewmaStream", keyCol, tsCol, tieCol,
        valueCol, lookback, "ewma") { buf =>
      val n = buf.length
      var num = 0.0; var den = 0.0
      var i = 0
      while (i < n) { // batch fold order: oldest first
        num += math.pow(alpha, (n - 1 - i).toDouble) * buf(i)
        i += 1
      }
      i = 0
      while (i < n) {
        den += math.pow(alpha, (n - 1 - i).toDouble)
        i += 1
      }
      num / den
    }

  /** Streaming trailing rolling median — the incremental twin of
    * SequenceOps.rollingMedian, sharing ewmaStream's ring-buffer shape
    * (O(lookback) state per key). The pick is the DISCRETE
    * ceil(n/2)-th element of the sorted frame copy, so batch and
    * stream agree exactly with no float arithmetic at all.
    */
  def rollingMedianStream(spark: SparkSession, df: DataFrame,
                          keyCol: String, tsCol: String, tieCol: String,
                          valueCol: String,
                          lookback: Int = 8): DataFrame =
    ringDoubleStream(spark, df, "rollingMedianStream", keyCol, tsCol,
        tieCol, valueCol, lookback, "rolling_median") { buf =>
      val sorted = buf.toArray.sorted
      sorted((math.ceil(sorted.length / 2.0) - 1).toInt)
    }

  /** Streaming SCD type-2 history — the incremental twin of
    * SequenceOps.scd2History. State per key: the OPEN interval only
    * (state value, version, valid_from) — O(1) however long the
    * history. Each batch folds its events in (time, tie) order:
    * every state change emits the PREVIOUS interval closed
    * (valid_to = change time), and a batch whose fold changed the
    * open interval emits its current snapshot (valid_to null) —
    * funnelStream's snapshot contract. On a batch frame each group
    * folds its full sorted history at once, so closed rows + the
    * final open row equal the batch operator exactly (shared oracle
    * SQL); across micro-batches a later change closes a previously
    * snapshotted open row, superseding it downstream.
    */
  def scd2Stream(spark: SparkSession, df: DataFrame, keyCol: String,
                 tsCol: String, tieCol: String,
                 stateCol: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, tsCol, tieCol))
      require(integral.contains(df.schema(c).dataType),
        s"scd2Stream needs an integral $c, " +
          s"got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(tsCol).cast("long").as("_ts"), col(tieCol).cast("long").as("_tie"),
        col(stateCol).cast("string").as("_st"))
      .as[(Long, Long, Long, String)]
    // State = (open state, version, valid_from, last ROW's state).
    // The 4th slot mirrors the batch operator's lag(): batch declares a
    // change on `_prev.isNull || _prev =!= state`, so under SQL
    // three-valued logic a row AFTER a null-state row always changes
    // (null lag → isNull true) while a null-state row after a non-null
    // one does NOT (`x =!= null` is null → filtered). Comparing against
    // the open interval instead of the last row — as this fold did
    // before — diverged from the batch twin whenever stateCol was null.
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(String, Int, Long, String),
        (Long, String, Int, Long, Option[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val restored = state.getOption
          var cur: Option[(String, Int, Long)] =
            restored.map(t => (t._1, t._2, t._3))
          // Some(null) = "last row's state was null" (≠ None = no rows)
          var lastSeen: Option[String] = restored.map(_._4)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String, Int, Long, Option[Long])]
          var openChanged = false
          for (r <- rows.toArray.sortBy(x => (x._2, x._3))) {
            val changed = lastSeen match {
              case None => true // first row of the key ever
              case Some(null) => true // batch: null lag → change
              case Some(p) => r._4 != null && p != r._4
            }
            if (changed) {
              cur.foreach { c =>
                out += ((key, c._1, c._2, c._3, Some(r._2)))
              }
              cur = Some((r._4, cur.map(_._2).getOrElse(0) + 1, r._2))
              openChanged = true
            }
            lastSeen = Some(r._4)
          }
          cur.foreach { c =>
            state.update((c._1, c._2, c._3, lastSeen.orNull))
            if (openChanged) out += ((key, c._1, c._2, c._3, None))
          }
          out.iterator
      }
      .toDF(keyCol, "state", "version", "valid_from", "valid_to")
  }

  /** Streaming last-touch attribution — the incremental twin of
    * SequenceOps.lastTouchAttribution. State per key: the latest touch
    * timestamp only (one long). Conversions are scored on arrival
    * against that state and emitted immediately — no retraction, no
    * buffering; on a batch frame each group folds its full sorted
    * history, so the output equals the batch window operator exactly
    * (shared oracle SQL). Late touches arriving after a conversion
    * was emitted do not re-attribute it — the documented price of
    * O(1) state, same contract as funnelStream.
    */
  def attributionStream(spark: SparkSession, df: DataFrame, keyCol: String,
                        tsCol: String, tieCol: String, typeCol: String,
                        touchType: String, convType: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, tsCol, tieCol))
      require(integral.contains(df.schema(c).dataType),
        s"attributionStream needs an integral $c, " +
          s"got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(tsCol).cast("long").as("_ts"), col(tieCol).cast("long").as("_tie"),
        col(typeCol).cast("string").as("_ty"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long,
        (Long, Long, Long, Option[Long], Option[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var last: Option[Long] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Option[Long], Option[Long])]
          for (r <- rows.toArray.sortBy(x => (x._2, x._3))) {
            if (r._4 == convType)
              out += ((key, r._2, r._3, last, last.map(t => r._2 - t)))
            if (r._4 == touchType) last = Some(r._2)
          }
          last.foreach(state.update)
          out.iterator
      }
      .toDF(keyCol, "conv_ts", tieCol, "touch_ts", "latency")
  }

  /** Distinct active users per event-time window — streaming unique
    * counting without sketches: a keyed dedup on (window, user) whose
    * state the watermark expires, then a plain count per window. Both
    * stages are watermark-bounded; Spark 4 runs the dedup→agg chain
    * as chained stateful operators in append mode. On a batch frame
    * the same plan is exact distinct counting (the oracle's
    * COUNT(DISTINCT)).
    */
  def windowedDistinctUsers(df: DataFrame, timeCol: String, width: String,
                            userCol: String,
                            watermark: Option[String] = None): DataFrame = {
    val src = watermark.map(w => df.withWatermark(timeCol, w)).getOrElse(df)
    src.select(window(col(timeCol), width).as("time_bin"), col(userCol))
      .dropDuplicates("time_bin", userCol)
      .groupBy(col("time_bin"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Streaming per-key linear trend — incremental least squares whose
    * state is the SIX EXACT INTEGER SUMS (n, Σx, Σy, Σxy, Σx², plus
    * the key's first timestamp as the x origin). Because the sums are
    * integers, accumulation order cannot perturb them — unlike every
    * float-accumulator regression — so the fitted line is bit-identical
    * to the batch closed form whenever the x origin is right, i.e.
    * each key's FIRST event arrives first (the ingest contract shared
    * with funnelStream; on a batch frame each group folds at once, so
    * equality is unconditional — shared oracle with group_linfit).
    * Emits a (user, n, slope, intercept) snapshot per batch in which
    * the key saw data and the fit is defined.
    */
  def linfitStream(spark: SparkSession, df: DataFrame, keyCol: String,
                   tsCol: String, valueScaledCol: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, tsCol, valueScaledCol))
      require(integral.contains(df.schema(c).dataType),
        s"linfitStream needs an integral $c, " +
          s"got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(tsCol).cast("long").as("_ts"),
        col(valueScaledCol).cast("long").as("_y"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long, Long),
        (Long, Long, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var (t0, n, sx, sy, sxy, sxx) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L, 0L, 0L))
          val evs = rows.toArray.sortBy(_._2)
          for (r <- evs) {
            if (t0 == Long.MinValue) t0 = r._2
            val x = (r._2 - t0) / 1000000000L
            n += 1; sx += x; sy += r._3; sxy += x * r._3; sxx += x * x
          }
          if (evs.isEmpty) Iterator.empty
          else {
            state.update((t0, n, sx, sy, sxy, sxx))
            // same closed-form double op order as the batch operator
            val nD = n.toDouble
            val den = nD * sxx.toDouble - sx.toDouble * sx.toDouble
            if (den > 0.0) {
              val slope = (nD * sxy.toDouble - sx.toDouble * sy.toDouble) /
                den
              val icept = (sy.toDouble - slope * sx.toDouble) / nD
              Iterator((key, n, slope, icept))
            } else Iterator.empty
          }
      }
      .toDF(keyCol, "n", "slope_per_sec", "intercept")
  }

  /** Streaming two-sided CUSUM — the incremental twin of
    * [[graft.operators.SequenceOps.cusumChange]]. State per key is
    * seven longs + the two alarm stamps: the running prefix sums, their
    * zero-clamped minima (the closed form's "subtract the running min"
    * carried incrementally), the max excursions, and n — O(1) however
    * long the series, all exact integers, so a key's one batch-frame
    * fold equals the batch operator bit-for-bit (shared oracle SQL) and
    * micro-batch folds continue the identical state. Emits a
    * (key, n, max_pos, max_neg, first_alarm_pos, first_alarm_neg)
    * snapshot per batch in which the key saw data. Ingest contract as
    * ever: events arrive per-key time-ordered across batches (within a
    * batch any order — the fold sorts).
    */
  def cusumStream(spark: SparkSession, df: DataFrame, keyCol: String,
                  tsCol: String, tieCol: String, valueCol: String,
                  refUp: Long, refDown: Long,
                  threshold: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(threshold > 0, "cusumStream needs threshold > 0")
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, tsCol, tieCol, valueCol))
      require(integral.contains(df.schema(c).dataType),
        s"cusumStream needs an integral $c, " +
          s"got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(tsCol).cast("long").as("_ts"),
        col(tieCol).cast("long").as("_tie"),
        col(valueCol).cast("long").as("_x"))
      .as[(Long, Long, Long, Long)]
    // state: (n, p, pmin, r, rmin, maxSp, maxSn, firstPos, firstNeg)
    // with the alarm stamps Long.MinValue = "not yet"
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, Long, Long, Long, Long, Long, Long, Long, Long),
        (Long, Long, Long, Long, Option[Long], Option[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var (n, p, pmin, r, rmin, maxSp, maxSn, firstPos, firstNeg) =
            state.getOption.getOrElse(
              (0L, 0L, 0L, 0L, 0L, 0L, 0L, Long.MinValue, Long.MinValue))
          val evs = rows.toArray.sortBy(x => (x._2, x._3))
          for (e <- evs) {
            n += 1
            p += e._4 - refUp; if (p < pmin) pmin = p
            r += refDown - e._4; if (r < rmin) rmin = r
            val sp = p - pmin; val sn = r - rmin
            if (sp > maxSp) maxSp = sp
            if (sn > maxSn) maxSn = sn
            if (sp > threshold && firstPos == Long.MinValue) firstPos = e._2
            if (sn > threshold && firstNeg == Long.MinValue) firstNeg = e._2
          }
          if (evs.isEmpty) Iterator.empty
          else {
            state.update((n, p, pmin, r, rmin, maxSp, maxSn,
              firstPos, firstNeg))
            Iterator((key, n, maxSp, maxSn,
              if (firstPos == Long.MinValue) None else Some(firstPos),
              if (firstNeg == Long.MinValue) None else Some(firstNeg)))
          }
      }
      .toDF(keyCol, "n", "max_pos", "max_neg",
        "first_alarm_pos", "first_alarm_neg")
  }

  /** Streaming algebraic aggregate state — the live face of
    * [[graft.operators.StatsOps.aggState]]/mergeAggStates: the same
    * five-slot (n, Σv, min, max, Σv²) monoid carried per key by
    * flatMapGroupsWithState. Every slot is commutative, so the state
    * is ORDER-FREE — no ingest-order contract at all, any batching
    * equals the batch operator bit-for-bit (shared oracle SQL).
    * Emits a snapshot per batch in which the key saw data.
    */
  def aggStateStream(spark: SparkSession, df: DataFrame, keyCol: String,
                     valueCol: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    require(integral.contains(df.schema(valueCol).dataType),
      s"aggStateStream needs an integral $valueCol, " +
        s"got ${df.schema(valueCol).dataType.sql}")
    // same null exclusion as the batch twin — a null measure would
    // otherwise kill the non-nullable encoder mid-batch
    val typed = df.where(col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("_k"),
        col(valueCol).cast("long").as("_v"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long),
        (String, Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var (n, s, mn, mx, sq) = state.getOption
            .getOrElse((0L, 0L, Long.MaxValue, Long.MinValue, 0L))
          var any = false
          for (r <- rows) {
            any = true; n += 1; s += r._2
            if (r._2 < mn) mn = r._2
            if (r._2 > mx) mx = r._2
            sq += r._2 * r._2
          }
          if (!any) Iterator.empty
          else {
            state.update((n, s, mn, mx, sq))
            Iterator((key, n, s, mn, mx, sq))
          }
      }
      .toDF(keyCol, "n", "sum_v", "min_v", "max_v", "sum_sq")
  }

  /** Streaming per-key success counter — the stateful half of the A/B
    * readout (`ab_test`): one long of ORDER-FREE state per key (a sum
    * commutes, so late/shuffled events cannot change the result — the
    * strongest determinism class a stream op can have). Each batch a
    * key saw data emits its updated lifetime success count; the arm
    * assignment, conversion threshold, and two-proportion z are pure
    * projections/aggregates the sink side composes (they need no
    * per-event state). A key's fold over the whole batch frame equals
    * any micro-batch split of it bit-for-bit.
    */
  def conversionStream(spark: SparkSession, df: DataFrame, keyCol: String,
                       flagCol: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, flagCol))
      require(integral.contains(df.schema(c).dataType),
        s"conversionStream needs an integral $c, " +
          s"got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(flagCol).cast("long").as("_f"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var n = state.getOption.getOrElse(0L)
          var any = false
          for (r <- rows) { any = true; n += r._2 }
          if (!any) Iterator.empty
          else {
            state.update(n)
            Iterator((key, n))
          }
      }
      .toDF(keyCol, "n_success")
  }

  /** Streaming per-key accrual state for the sequential A/B monitors
    * (sequential_test / msprt_test): lifetime success count AND
    * first-seen look per key, both merged commutatively (sum, min) —
    * late events can still flip a unit's conversion or pull its
    * enrollment look earlier, and the state absorbs either in any
    * micro-batch order. Each batch a key saw data emits its updated
    * (count, first look) snapshot; arm assignment and the monitor
    * math are stateless downstream compositions, so the continuously-
    * monitored mSPRT table after any slicing is bit-equal to the
    * batch computation over the same events — always-valid inference
    * in its NATURAL deployment form (the monitor that is valid at
    * every peek, fed by the stream it peeks at).
    */
  def accrualStream(spark: SparkSession, df: DataFrame, keyCol: String,
                    flagCol: String, lookCol: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    for (c <- Seq(keyCol, flagCol, lookCol))
      require(integral.contains(df.schema(c).dataType),
        s"accrualStream needs an integral $c, " +
          s"got ${df.schema(c).dataType.sql}")
    val typed = df.select(col(keyCol).cast("long").as("_k"),
        col(flagCol).cast("long").as("_f"),
        col(lookCol).cast("long").as("_l"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var (n, lo) = state.getOption.getOrElse((0L, Long.MaxValue))
          var any = false
          for (r <- rows) { any = true; n += r._2; lo = math.min(lo, r._3) }
          if (!any) Iterator.empty
          else {
            state.update((n, lo))
            Iterator((key, n, lo))
          }
      }
      .toDF(keyCol, "n_success", "first_look")
  }

  /** Streaming HyperLogLog distinct estimate per key — the streaming
    * twin of [[graft.operators.SketchOps.hllDistinct]]: state is the
    * m-byte register-max array, and register max is commutative AND
    * idempotent, so the emitted estimate is EXACTLY batch-equal
    * regardless of micro-batch slicing, row order, or replays — the
    * rare sketch whose streaming form has no approximation drift on
    * top of the sketch error. Emits one snapshot row per key per
    * batch that touched it. State = 2^p bytes per key, watermark-free
    * (register arrays never need eviction to stay correct).
    */
  def hllStream(spark: SparkSession, df: DataFrame, keyCol: String,
                idCol: String, p: Int = 6): DataFrame = {
    import spark.implicits._
    import graft.operators.SketchOps
    require(p >= 2 && p <= 12, s"hllStream: p must be in [2,12], got $p")
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val typed = df
      .where(col(keyCol).isNotNull && col(idCol).isNotNull)
      .select(col(keyCol).cast("long"), col(idCol).cast("long"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val regs = state.getOption.getOrElse(new Array[Byte](m))
          for ((_, id) <- rows) {
            val h0 = SketchOps.kmvHash(id)
            val g1 = h0 ^ (h0 >> 15)
            val g2 = g1 * SketchOps.KmvMult % SketchOps.KmvMod
            val hm = g2 ^ (g2 >> 15)
            val reg = (hm % m).toInt
            val w = hm / m
            val rho = (if (w == 0) 26
              else java.lang.Long.numberOfTrailingZeros(w) + 1).toByte
            if (rho > regs(reg)) regs(reg) = rho
          }
          state.update(regs)
          var zeros = 0L
          var sp = 0.0
          var i = 0
          while (i < m) { // dyadic-exact sum: order-free
            if (regs(i) == 0) zeros += 1
            else sp += 1.0 / (1L << regs(i))
            i += 1
          }
          val sumAll = sp + zeros.toDouble
          val raw = alpha * m * m / sumAll
          // StrictMath.log: Catalyst's Log expression is StrictMath,
          // and batch-equality with hllDistinct must be bit-exact
          val est = if (raw <= 2.5 * m && zeros > 0)
            m.toDouble * StrictMath.log(m.toDouble / zeros) else raw
          (key, zeros, est)
      }
      .toDF(keyCol, "zero_regs", "hll_est")
  }

  /** Streaming max-drawdown per key — the online twin of
    * [[graft.operators.SequenceOps.maxDrawdown]]'s fold, over the raw
    * quantized value sequence: state = (n, running peak, max
    * drawdown, trough timestamp) in exact integers, events applied in
    * (ts, tie) order within each batch and carried across batches.
    * All-integer state means batch slicing cannot perturb the result
    * as long as batches respect event-time order (same contract as
    * [[cusumStream]]).
    */
  def drawdownStream(spark: SparkSession, df: DataFrame, keyCol: String,
                     tsCol: String, tieCol: String,
                     vqCol: String): DataFrame = {
    import spark.implicits._
    val typed = df
      .where(col(keyCol).isNotNull && col(vqCol).isNotNull)
      .select(col(keyCol).cast("long"), col(tsCol).cast("long"),
        col(tieCol).cast("long"), col(vqCol).cast("long"))
      .as[(Long, Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long),
        (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val evs = rows.toArray.sortBy(x => (x._2, x._3))
          if (evs.isEmpty) Iterator.empty
          else {
            var (n, peak, mdd, at) =
              state.getOption.getOrElse((0L, 0L, 0L, 0L))
            for (e <- evs) {
              if (n == 0L) { peak = e._4; mdd = 0L; at = e._2; n = 1L }
              else {
                n += 1
                if (e._4 > peak) peak = e._4
                val dd = peak - e._4
                if (dd > mdd) { mdd = dd; at = e._2 }
              }
            }
            state.update((n, peak, mdd, at))
            Iterator((key, n, peak, mdd, at))
          }
      }
      .toDF(keyCol, "n", "peak", "max_drawdown", "trough_at")
  }

  /** Streaming twin of [[graft.operators.SequenceOps.burstDetect]] —
    * greedy two-state Poisson burst detection per key with the
    * (window → count) histogram carried as state across
    * micro-batches. The greedy fold depends on the WHOLE series (λ0
    * is the series mean), so unlike the commutative register-max of
    * [[hllStream]] the readout is recomputed from the merged
    * histogram each batch — the state is window-DOMAIN-bounded (one
    * long per observed window, the same budget the batch operator's
    * collect_list has), never fact-sized, and count merging is
    * commutative so arrival order across batches cannot change the
    * final answer. After the last batch the emitted
    * (n_windows, n_bursts, burst_windows) equals burstDetect's
    * bit-exactly: counts are integers (exact in double), λ0 is the
    * same single division, and the fold replays the identical IEEE
    * expressions with StrictMath.log (Catalyst's ln).
    *
    * RETENTION CONTRACT: state per key = one (long → long) entry per
    * DISTINCT OBSERVED WINDOW, growing linearly with the observation
    * span and never with row volume — for hourly windows that is
    * 8,760 entries/key/year, ~140 KB/key/year. This is inherent to
    * the operator's semantics (λ0 is the whole-series mean, so every
    * window stays relevant forever); there is deliberately NO
    * watermark eviction here, because dropping old windows would
    * silently change λ0 and break the batch-equality guarantee. A
    * deployment that needs bounded state must bound the DOMAIN
    * instead: pre-filter the stream to a lookback horizon (making the
    * answer "bursts within the horizon", still batch-exact over that
    * horizon), coarsen the window grain, or restart the query per
    * epoch. Those are semantic choices the caller owns, not defaults
    * this operator should silently apply.
    */
  def burstStream(spark: SparkSession, df: DataFrame, keyCol: String,
                  windowCol: String, gamma: Double = 2.0): DataFrame = {
    import spark.implicits._
    val typed = df
      .where(col(keyCol).isNotNull && col(windowCol).isNotNull)
      .select(col(keyCol).cast("string"), col(windowCol).cast("long"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Map[Long, Long], (String, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var hist = state.getOption.getOrElse(Map.empty[Long, Long])
          for ((_, w) <- rows)
            hist = hist.updated(w, hist.getOrElse(w, 0L) + 1L)
          state.update(hist)
          val ws = hist.keys.toArray.sorted
          var tot = 0L
          for (w <- ws) tot += hist(w)
          val l0 = tot.toDouble / ws.length.toDouble
          var s = 0.0; var nb = 0L; var bw = 0L
          for (w <- ws) {
            val y = hist(w).toDouble
            val pen = if (s < 0.5) gamma else 0.0
            val burstCost =
              l0 * 2.0 - y * StrictMath.log(l0 * 2.0) + pen
            val baseCost = l0 - y * StrictMath.log(l0)
            if (burstCost < baseCost) {
              if (s < 0.5) nb += 1
              bw += 1
              s = 1.0
            } else s = 0.0
          }
          (key, ws.length.toLong, nb, bw)
      }
      .toDF(keyCol, "n_windows", "n_bursts", "burst_windows")
  }

  /** Streaming twin of [[graft.operators.DiagnosticsOps.pageHinkley]]
    * — the sequential mean-shift monitor per key with the
    * (window → count) histogram carried as state across
    * micro-batches, the same recompute-from-merged-state shape as
    * [[burstStream]] (PH's running mean makes every prefix relevant,
    * so the readout replays the whole hour-ordered fold each batch;
    * count merging is commutative, so cross-batch arrival order
    * cannot change the answer). After the last batch the emitted
    * (n_windows, ph_final, max_excess, alarm_windows) equals the
    * batch operator's bit-exactly: the Scala fold below replays the
    * batch SQL aggregate's IEEE expressions operation-for-operation
    * (same association order, old-state min in the excess, δ/λ the
    * same parsed doubles).
    *
    * RETENTION CONTRACT: identical to [[burstStream]] — one long per
    * distinct observed window per key, linear in the observation
    * span, never fact-sized; no watermark eviction because dropping
    * old windows would shift the running mean and break the
    * batch-equality guarantee. Bound the DOMAIN upstream (lookback
    * filter, coarser grain, per-epoch restart) if state must be
    * bounded.
    */
  def pageHinkleyStream(spark: SparkSession, df: DataFrame,
                        keyCol: String, windowCol: String,
                        delta: Double = 0.1,
                        lambda: Double = 10.0): DataFrame = {
    import spark.implicits._
    val typed = df
      .where(col(keyCol).isNotNull && col(windowCol).isNotNull)
      .select(col(keyCol).cast("string"), col(windowCol).cast("long"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[Map[Long, Long],
        (String, Long, Double, Double, Long)](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var hist = state.getOption.getOrElse(Map.empty[Long, Long])
          for ((_, w) <- rows)
            hist = hist.updated(w, hist.getOrElse(w, 0L) + 1L)
          state.update(hist)
          val ws = hist.keys.toArray.sorted
          var n = 0.0; var s = 0.0; var ph = 0.0
          var mn = 0.0; var mx = 0.0; var al = 0.0
          for (w <- ws) {
            val y = hist(w).toDouble
            // mirror the batch fold's expression order exactly:
            // inc = y − (s + y)/(n + 1) − δ, state mins/maxes use the
            // OLD mn (the batch named_struct reads acc.*, never the
            // fields computed alongside)
            val inc = y - (s + y) / (n + 1.0) - delta
            val phNew = ph + inc
            val excess = phNew - mn
            if (excess > lambda) al += 1.0
            if (excess > mx) mx = excess
            if (phNew < mn) mn = phNew
            ph = phNew; s += y; n += 1.0
          }
          (key, ws.length.toLong, ph, mx, al.toLong)
      }
      .toDF(keyCol, "n_windows", "ph_final", "max_excess",
        "alarm_windows")
  }

  /** Incremental append analog of convert_ms(append=True)
    * (cngi/conversion/convert_ms.py:21,79): a streaming sink writing
    * partitioned parquet per micro-batch.
    */
  def appendToStore(df: DataFrame, path: String, checkpoint: String,
                    partitionBy: Seq[String]) =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(partitionBy: _*)
      .outputMode("append")

  /** Incremental SCD2 CDC apply — the foreachBatch lakehouse twin of
    * IoOps.scd2Apply, closing the streaming family's dimension-table
    * leg. The maintained table IS the state; each micro-batch runs the
    * SAME single-full-outer-join batch operator against it, so there is
    * zero semantic drift between the batch and streaming paths (the
    * discipline every other twin earns by re-deriving a fold is here
    * free by construction). Per-batch `localCheckpoint` truncates the
    * join lineage — N micro-batches stay N small jobs, not one
    * N-join-deep plan; on a real cluster swap in a Delta/iceberg table
    * (or durable `checkpoint`) for the same loop.
    *
    * Equality contract: applying ONE batch equals `scd2Apply`
    * bit-for-bit (same code path — the `stream_scd2_apply` gate query
    * shares `scd2_apply`'s oracle). Applying N micro-batches equals
    * one batch apply of the concatenated changes whenever each key's
    * changes arrive within one batch (batch apply collapses a key's
    * in-batch changes to the LATEST; sequential batches version each
    * step — the full version trail a real CDC consumer wants, pinned
    * in the MemoryStream spec).
    *
    * Usage — streaming: `changes.writeStream.foreachBatch(st.sink)`;
    * batch (gate): `st(changes); st.snapshot`.
    */
  final class Scd2TableState(initial: DataFrame, keyCols: Seq[String],
                             trackedCols: Seq[String], tsCol: String) {
    @volatile private var table: DataFrame = initial
    /** Apply one micro-batch of changes to the maintained dimension. */
    def apply(changes: DataFrame): Unit = synchronized {
      table = graft.sources.IoOps
        .scd2Apply(table, changes, keyCols, trackedCols, tsCol)
        .localCheckpoint(true)
    }
    /** foreachBatch adapter. */
    def sink: (DataFrame, Long) => Unit = (df, _) => apply(df)
    /** The dimension table after every batch applied so far. */
    def snapshot: DataFrame = table
  }

  def scd2ApplyStream(current: DataFrame, keyCols: Seq[String],
                      trackedCols: Seq[String],
                      tsCol: String): Scd2TableState =
    new Scd2TableState(current, keyCols, trackedCols, tsCol)

  /** Incremental MERGE (upsert + delete) — the foreachBatch
    * copy-on-write twin of IoOps.mergeUpsert, the COW sibling of
    * [[Scd2TableState]] (which versions; MERGE replaces). The
    * maintained table IS the state; each micro-batch runs the SAME
    * anti-join + union batch operator against it, so batch/streaming
    * semantic equality holds by construction. Per-batch
    * `localCheckpoint` truncates the lineage — N micro-batches stay N
    * small jobs (swap a Delta/Iceberg table or durable `checkpoint`
    * in on a real cluster).
    *
    * Equality contract: ONE batch equals `mergeUpsert` bit-for-bit
    * (shared code path — the `stream_merge_upsert` gate query shares
    * `merge_upsert`'s oracle). N micro-batches equal one batch MERGE
    * of the concatenated changes whenever the batches are KEY-DISJOINT
    * (each key's change rows arrive within one batch); same-key
    * changes split across batches apply sequentially — later batches
    * replace earlier ones, the CDC ordering a streaming consumer
    * expects (pinned in the MemoryStream spec).
    */
  final class MergeTableState(initial: DataFrame, keys: Seq[String],
                              deleteCol: Option[String]) {
    @volatile private var table: DataFrame = initial
    /** Apply one micro-batch of change rows to the maintained table. */
    def apply(changes: DataFrame): Unit = synchronized {
      table = graft.sources.IoOps
        .mergeUpsert(table, changes, keys, deleteCol)
        .localCheckpoint(true)
    }
    /** foreachBatch adapter. */
    def sink: (DataFrame, Long) => Unit = (df, _) => apply(df)
    /** The table after every batch applied so far. */
    def snapshot: DataFrame = table
  }

  def mergeUpsertStream(initial: DataFrame, keys: Seq[String],
                        deleteCol: Option[String] = None): MergeTableState =
    new MergeTableState(initial, keys, deleteCol)

  /** Incremental Bloom-index maintenance — the foreachBatch twin of
    * IoOps.bloomIndex for a store ingested file-by-file: each
    * micro-batch carries (key, file) rows for the files it appended,
    * and the maintained index merges per-file position SETS by
    * set-union. The state is a genuine commutative-idempotent monoid
    * (bounded by `bits` positions per file), so ANY batch order — and
    * re-ingesting the same file twice — lands on the index the
    * one-scan batch build produces: the strongest batch-equality
    * discipline in the twin family, by algebra rather than by fold
    * replay. Per-batch localCheckpoint truncates the join lineage
    * (same note as Scd2TableState: swap durable checkpointing in on a
    * real cluster).
    */
  final class BloomIndexState(keyCol: String, fileCol: String,
                              bits: Int, hashes: Int) {
    @volatile private var index: DataFrame = null
    def apply(batch: DataFrame): Unit = synchronized {
      val delta = batch
        .select(col(fileCol).as("_file"),
          explode(graft.sources.IoOps.bloomPositions(
            col(keyCol).cast("long"), bits, hashes)).as("pos"))
        .groupBy("_file")
        .agg(sort_array(collect_set(col("pos"))).as("_b2"))
      // carry the build parameters like IoOps.bloomIndex does, so the
      // probe-time (bits, hashes) validation covers streamed indexes too
      index =
        if (index == null)
          delta.withColumnRenamed("_b2", "bloom")
            .withColumn("bits", lit(bits)).withColumn("hashes", lit(hashes))
            .localCheckpoint(true)
        else {
          val empty = array().cast("array<bigint>")
          index.join(delta, Seq("_file"), "full_outer")
            .select(col("_file"),
              sort_array(array_union(coalesce(col("bloom"), empty),
                coalesce(col("_b2"), empty))).as("bloom"))
            .withColumn("bits", lit(bits)).withColumn("hashes", lit(hashes))
            .localCheckpoint(true)
        }
    }
    /** foreachBatch adapter. */
    def sink: (DataFrame, Long) => Unit = (df, _) => apply(df)
    /** The index after every batch applied so far. */
    def snapshot: DataFrame = index
  }

  def bloomIndexStream(keyCol: String, fileCol: String,
                       bits: Int = 65536,
                       hashes: Int = 3): BloomIndexState =
    new BloomIndexState(keyCol, fileCol, bits, hashes)

  /** Incremental snapshot-manifest maintenance — the foreachBatch twin
    * of IoOps.commitManifest, completing the lakehouse streaming
    * family (MERGE, SCD2, Bloom index, and now the unified manifest).
    * Each micro-batch carries rows WITH their `_file` lineage; the
    * maintained per-file manifest merges
    *   n_rows  by +            (commutative),
    *   zones   by min/max      (commutative AND idempotent),
    *   bloom   by set union    (commutative AND idempotent),
    * so ANY row slicing of the table across micro-batches — even
    * splitting one file's rows across batches — lands on the manifest
    * the one-scan batch build produces. The n_rows census is the one
    * leg that is not replay-idempotent (a re-delivered row counts
    * twice) — and Spark foreachBatch is AT-LEAST-once under
    * failure/retry, so a replayed epoch can inflate n_rows. The
    * zones/bloom legs (what pruning actually reads) are idempotent
    * and replay-safe; n_rows is informational only and is never used
    * for a pruning decision. A sink that needs a replay-exact count
    * should dedupe by batchId before apply(). The manifest snapshot
    * serves reads
    * through IoOps.manifestReadWith — the `stream_manifest` gate
    * shares `manifest_read`'s oracle.
    */
  final class ManifestState(keyCol: String, statsCols: Seq[String],
                            bits: Int, hashes: Int) {
    @volatile private var man: DataFrame = null
    def apply(batch: DataFrame): Unit = synchronized {
      val aggs = count(lit(1)).as("n_rows") +:
        statsCols.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"_mn_$c"),
          max(col(c)).cast("double").as(s"_mx_$c")))
      val stats = batch
        .groupBy(col("_file"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("_file"), col("n_rows"),
          map(statsCols.flatMap(c =>
            Seq(lit(c), col(s"_mn_$c"))): _*).as("zmin"),
          map(statsCols.flatMap(c =>
            Seq(lit(c), col(s"_mx_$c"))): _*).as("zmax"))
      val bloom = batch
        .select(col("_file"),
          explode(graft.sources.IoOps.bloomPositions(
            col(keyCol).cast("long"), bits, hashes)).as("pos"))
        .groupBy("_file")
        .agg(sort_array(collect_set(col("pos"))).as("_b2"))
      val delta = stats.join(bloom, Seq("_file"), "left")
        .select(col("_file"), col("n_rows"), col("zmin"), col("zmax"),
          coalesce(col("_b2"), array().cast("array<bigint>")).as("bloom"))
      man =
        if (man == null)
          delta.withColumn("bits", lit(bits))
            .withColumn("hashes", lit(hashes))
            .localCheckpoint(true)
        else {
          val empty = array().cast("array<bigint>")
          // map_zip_with + least/greatest: a column absent on one side
          // (null) defers to the other — min/max merge per stats key
          man.join(delta, Seq("_file"), "full_outer")
            .select(col("_file"),
              (coalesce(man("n_rows"), lit(0L)) +
                coalesce(delta("n_rows"), lit(0L))).as("n_rows"),
              map_zip_with(
                coalesce(man("zmin"), delta("zmin")),
                coalesce(delta("zmin"), man("zmin")),
                (_, a, b) => least(a, b)).as("zmin"),
              map_zip_with(
                coalesce(man("zmax"), delta("zmax")),
                coalesce(delta("zmax"), man("zmax")),
                (_, a, b) => greatest(a, b)).as("zmax"),
              sort_array(array_union(coalesce(man("bloom"), empty),
                coalesce(delta("bloom"), empty))).as("bloom"))
            .withColumn("bits", lit(bits))
            .withColumn("hashes", lit(hashes))
            .localCheckpoint(true)
        }
    }
    /** foreachBatch adapter. */
    def sink: (DataFrame, Long) => Unit = (df, _) => apply(df)
    /** The manifest after every batch applied so far. */
    def snapshot: DataFrame = man
  }

  def manifestStream(keyCol: String, statsCols: Seq[String],
                     bits: Int = 65536, hashes: Int = 3): ManifestState =
    new ManifestState(keyCol, statsCols, bits, hashes)

  /** foreachBatch sink appending each micro-batch of NEW vectors to a
    * persisted ANN index (SimilarityOps.indexAppend) — the streaming
    * leg of the train-once/append-forever lifecycle. Unlike the
    * table-state twins there is no in-memory state to carry: the
    * on-disk index IS the state, and per-row assignment under the
    * STORED quantizers is independent, so any batching/order of the
    * appends lands on the same index (the `stream_index_append` gate
    * shares `ann_index_append`'s oracle; the census merge is
    * commutative mod-p addition).
    *
    * Both sinks land micro-batches as flat snapshot-registered log
    * segments (SimilarityOps.indexAppend writes no per-list
    * directories on any path — the K-scaled directory-commit storm is
    * gone), and both fold the log inline at
    * graft.sources.IndexStore.FlushSegments segments (indexAppend's
    * default autoFlushSegments); [[indexAppendBufferedSink]] remains
    * the documented streaming default because it lands each
    * micro-batch as ONE file and lets the caller set the bound.
    */
  def indexAppendSink(idCol: String, vecCol: String,
                      root: String): (DataFrame, Long) => Unit =
    (df, _) => graft.operators.SimilarityOps.indexAppend(
      df, idCol, vecCol, root)

  /** The streaming-ingest default: the LSM variant of
    * [[indexAppendSink]] — each micro-batch lands as ONE segment file
    * in the index's append log instead of up-to-K partition-directory
    * commits (the per-batch cost a streaming trigger cadence actually
    * tolerates, measured flat ~1.4 s at 1x/10x/100x vs 19 s direct at
    * K=1600); SimilarityOps.indexFlush folds the log on the
    * maintenance cadence. Searches union the log behind the same probe
    * filter, so serving is row-identical whether or not a flush has
    * happened (the `stream_index_append_buffered` gate shares
    * `ann_index_append`'s oracle).
    *
    * @param autoFlushSegments bounds the log WITHOUT a manual
    *   maintenance trigger: once the append log holds this many
    *   segment files, the append folds it inline (indexFlush, the
    *   fold both stores share) — so a
    *   search's log-union scan never grows past the threshold while
    *   the amortized per-batch cost stays one segment write plus
    *   1/threshold of a fold. The default (16) sits where the measured
    *   search-wall-vs-log-size curve is still flat while flush work
    *   amortizes 16x (BENCH_logsens_r18). 0 = never flush (manual
    *   cadence only).
    */
  def indexAppendBufferedSink(idCol: String, vecCol: String,
                              root: String,
                              autoFlushSegments: Int =
                                graft.sources.IndexStore.FlushSegments)
    : (DataFrame, Long) => Unit =
    (df, _) => graft.operators.SimilarityOps.indexAppend(
      df, idCol, vecCol, root, buffered = true,
      autoFlushSegments = autoFlushSegments)

  /** foreachBatch sink appending each micro-batch's documents to a
    * persisted inverted index (TextOps.invertedIndexAppend) — the
    * SPARSE twin of [[indexAppendSink]], completing streaming ingest
    * symmetry across both retrieval stores. No memory state: the
    * on-disk index IS the state. Each micro-batch lands as one postings
    * and one doclens log segment (one flat file each for a
    * micro-batch-sized delta, one commit, never a write into the
    * `bucket=` / `docbucket=` partitions), and the append folds the
    * log inline once it holds graft.sources.IndexStore.FlushSegments
    * files of either kind — the bound both ANN sinks default to. The
    * census merge is
    * additive/commutative and the Bloom dup-guard rejects replays of
    * an already-indexed doc_id, so trigger batching/order cannot
    * change the served index (the `stream_bm25_index_append` gate
    * shares `bm25_index_append`'s oracle).
    */
  def invertedIndexAppendSink(idCol: String, textCol: String,
                              root: String): (DataFrame, Long) => Unit =
    (df, _) => graft.operators.TextOps.invertedIndexAppend(
      df, idCol, textCol, root)
}
