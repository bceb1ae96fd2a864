package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Binned / windowed averaging operators (SURVEY.md §2.4-2.5).
  *
  * All are single-shuffle hash aggregates (partial + final supplied by
  * Spark); at cluster scale the shuffle key is the group key, so a
  * 100 TB input aggregates map-side first — no operator here ever
  * collects to the driver.
  */
object AverageOps {

  /** A value column averaged under a weight column — the reference's
    * weighted-mean rule for DATA/CORRECTED_DATA
    * (cngi/vis/chan_average.py:55-63): out = sum(v*w)/sum(w).
    */
  final case class Weighted(value: String, weight: String)

  /** chan_average (cngi/vis/chan_average.py:21): fixed-width binning
    * along the channel axis. `coarsen(chan=width)` becomes
    * `groupBy(floor(chan/width))`. The reference's `boundary='trim'`
    * (cngi/vis/chan_average.py:50-65) drops only the incomplete TRAILING
    * bin of the dense 0-based channel axis — interior holes stay (they
    * are NaN cells in the reference, absent rows here). So trim is
    * positional: keep `chan < floor(nchan/width)*width` with
    * nchan = max(chan)+1, NOT a row-count filter (which would also drop
    * interior bins with missing rows).
    *
    * Scale note: group count = |keys| × nchan/width — uniform by
    * construction, no skew; one shuffle on the group key, which the
    * trim reuses, so the input is read once. Each bin carries its max
    * channel; the global max M comes from the aggregated bins (one row,
    * broadcast), and a bin b is kept iff b < floor((M+1)/width) — the
    * same rule, since chan < floor((M+1)/width)*width iff
    * floor(chan/width) < floor((M+1)/width). Two details keep Catalyst
    * planning ONE bin exchange for both sides of that join: the bin
    * aggregates travel as one struct (max channel first, so the max
    * struct carries M) that the bound side reads whole, and the filter
    * is null-safe (coalesce), so no inferred not-null filter is pushed
    * under one side only. AverageOpsSpec counts the scans.
    */
  def chanAverage(df: DataFrame, chanCol: String, width: Int,
                  keys: Seq[String], weighted: Seq[Weighted],
                  plain: Seq[String] = Nil, trim: Boolean = true): DataFrame = {
    val group = keys.map(col) :+ floor(col(chanCol) / width).cast("int").as(chanCol)
    val aggs =
      weighted.map(wv =>
        wv.value -> sum(col(wv.value) * col(wv.weight)) / sum(col(wv.weight))) ++
      weighted.map(wv => wv.weight -> sum(col(wv.weight))) ++
      plain.map(c => c -> avg(col(c)))
    val named = aggs.map { case (n, a) => a.as(n) }
    if (!trim) return df.groupBy(group: _*).agg(named.head, named.tail: _*)
    val bins = df.groupBy(group: _*)
      .agg(struct(max(col(chanCol)).as("max") +: named: _*).as("_bin"))
    val bound = bins.agg(max(col("_bin")).as("_top"))
      .select(floor((col("_top.max") + 1) / width).as("_bound"))
    bins.crossJoin(broadcast(bound))
      .where(coalesce(col(chanCol) < col("_bound"), lit(false)))
      .select((keys :+ chanCol).map(c => bins(c)) ++
        aggs.map { case (n, _) => col("_bin").getField(n).as(n) }: _*)
  }

  /** time_average, resample flavor (cngi/vis/time_average.py:21,66):
    * tumbling event-time windows via `window()` — the exact Spark analog
    * of xarray `resample(time=width)`. `spanKeys` reproduces the
    * reference's "bins never span scan/state boundaries" rule (:91-101)
    * by adding those columns to the grouping key.
    */
  def timeAverage(df: DataFrame, timeCol: String, width: String,
                  keys: Seq[String], spanKeys: Seq[String],
                  weighted: Seq[Weighted], summed: Seq[String] = Nil,
                  plain: Seq[String] = Nil): DataFrame = {
    val aggs =
      weighted.map(wv =>
        (sum(col(wv.value) * col(wv.weight)) / sum(col(wv.weight))).as(wv.value)) ++
      weighted.map(wv => sum(col(wv.weight)).as(wv.weight)) ++
      summed.map(c => sum(col(c)).as(c)) ++
      plain.map(c => avg(col(c)).as(c)) ++
      Seq(count(lit(1)).as("n_rows"))
    df.groupBy((Seq(window(col(timeCol), width).as("time_bin")) ++
        (spanKeys ++ keys).map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** rebin (cngi/image/rebin.py:21,42-48): coarsen one axis by an integer
    * factor with plain mean. A thin alias of chanAverage with no weights.
    */
  def rebin(df: DataFrame, axisCol: String, factor: Int,
            keys: Seq[String], values: Seq[String]): DataFrame =
    chanAverage(df, axisCol, factor, keys, Nil, values)

  /** chan_smooth (cngi/vis/chan_smooth.py:21,54-73): centered rolling
    * window along chan, dot-product with a normalized kernel.
    *
    * Reference edge semantics: `rolling(..., min_periods=1).construct`
    * fills partial edge windows with NaN, and the subsequent `.dot`
    * propagates that NaN — so edge positions with fewer than
    * kernel.length taps come out NaN. `minPeriods = kernel.length`
    * (the default) reproduces that: positions with fewer taps → null.
    * Pass `minPeriods = 1` for the renormalize-over-present-taps
    * variant (a deliberate extension, NOT reference behavior).
    *
    * Implemented as 2h+1 lead/lag terms over a window frame — pure
    * column expressions, codegen'd, no collect_list. For kernels of the
    * size the reference uses (3-11 taps) this is the fastest shape Spark
    * offers: a single sort-within-partition per (keys) group.
    */
  def chanSmooth(df: DataFrame, chanCol: String, keys: Seq[String],
                 values: Seq[String], kernel: Array[Double],
                 minPeriods: Int = -1): DataFrame = {
    require(kernel.length % 2 == 1, "kernel length must be odd")
    val minP = if (minPeriods < 0) kernel.length else minPeriods
    val h = kernel.length / 2
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(chanCol))
    values.foldLeft(df) { (d, v) =>
      val terms = (-h to h).map { j =>
        val shifted =
          if (j < 0) lag(col(v), -j).over(w)
          else if (j > 0) lead(col(v), j).over(w)
          else col(v)
        val wj = lit(kernel(j + h))
        (when(shifted.isNotNull, wj * shifted).otherwise(lit(0.0)),
         when(shifted.isNotNull, wj).otherwise(lit(0.0)),
         when(shifted.isNotNull, 1).otherwise(0))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      val n = terms.map(_._3).reduce(_ + _)
      d.withColumn(v, when(n >= minP, num / den))
    }
  }

  /** time_average, fixed-bin flavor (cngi/vis/time_average.py:21 `bin` —
    * every N steps of the dense time axis). The dense time index is
    * recovered by ranking the DISTINCT time values (dimension-scale:
    * ~1e5 rows even for a day of data) and broadcast-joining the index
    * back to the fact — no fact-side window, no single-partition scan of
    * fact data at any scale.
    *
    * Output carries `time_bin` (the bin ordinal) and `time` = earliest
    * time in the bin (the reference averages the time coordinate; we
    * keep the bin-start instant, documented divergence).
    */
  def timeAverageBin(df: DataFrame, timeCol: String, bin: Int,
                     keys: Seq[String], spanKeys: Seq[String],
                     weighted: Seq[Weighted], summed: Seq[String] = Nil,
                     plain: Seq[String] = Nil): DataFrame = {
    val w = Window.orderBy(col(timeCol)) // distinct-times cardinality only
    val idx = df.select(col(timeCol)).distinct()
      .withColumn("time_bin",
        floor((row_number().over(w) - 1) / bin).cast("int"))
    val aggs =
      weighted.map(wv =>
        (sum(col(wv.value) * col(wv.weight)) / sum(col(wv.weight))).as(wv.value)) ++
      weighted.map(wv => sum(col(wv.weight)).as(wv.weight)) ++
      summed.map(c => sum(col(c)).as(c)) ++
      plain.map(c => avg(col(c)).as(c)) ++
      Seq(min(col(timeCol)).as(timeCol))
    df.join(broadcast(idx), Seq(timeCol))
      .groupBy((Seq(col("time_bin")) ++ (spanKeys ++ keys).map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Skew-safe two-stage aggregation: when one group key dominates
    * (hot antenna, hot channel), a single hash aggregate funnels the
    * hot key's rows through one reducer. Salting splits each key into
    * `salts` sub-keys for the partial stage, then combines the
    * decomposable aggregates (sums/counts) in a second, tiny
    * aggregation. Weighted means compose exactly: keep (sum(v*w),
    * sum(w)) through both stages and divide at the end.
    *
    * AQE's skew-join handling covers joins; this covers aggregation
    * skew, which AQE does not re-balance.
    */
  def saltedWeightedAverage(df: DataFrame, keys: Seq[String],
                            weighted: Seq[Weighted], salts: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val aggCols = weighted.map(wv => sum(col(wv.value) * col(wv.weight)).as(s"_vw_${wv.value}")) ++
      weighted.map(wv => sum(col(wv.weight)).as(s"_w_${wv.value}"))
    val stage1 = salted.groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val finalAggs = weighted.map(wv =>
      (sum(col(s"_vw_${wv.value}")) / sum(col(s"_w_${wv.value}"))).as(wv.value)) ++
      weighted.map(wv => sum(col(s"_w_${wv.value}")).as(wv.weight))
    stage1.groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** reframe (cngi/vis/reframe.py:21-96 — the reference's spectral
    * reference-frame conversion; its body is incomplete/non-functional
    * Python, so semantics follow the docstring: "transform channel
    * labels and visibilities ... e.g. ... to correct for doppler shifts
    * throughout the time of observation" with
    * interpolation='linear').
    *
    * Given a per-row radial velocity (m/s, + = receding), the observed
    * frequency f maps to the output frame as f_out = f * (1 - v/c)
    * (radio convention). On a uniform channel grid (f0, df) the output
    * channel c therefore samples the input at fractional position
    *   pos(c) = (f_c / (1 - v/c_light) - f0) / df,
    * and linear interpolation between floor(pos) and floor(pos)+1
    * rebuilds the spectrum in the new frame.
    *
    * Spark shape: the fractional index is a row-wise expression; the
    * two bracketing samples arrive by equi-joins of the fact against
    * itself on (group key, floor(pos)) and (group key, floor(pos)+1) —
    * shuffle-partitioned by the same key both sides, so AQE plans one
    * exchange per side and no window/sort. Out-of-range positions
    * yield null (the reference's NaN edge). (keys, chan) is assumed
    * unique per sample — duplicates fan out through the joins.
    */
  def reframe(df: DataFrame, keys: Seq[String], chanCol: String,
              valueCols: Seq[String], velCol: String,
              f0: Double, dfHz: Double): DataFrame = {
    val cLight = 299792458.0
    val fOut = lit(f0) + col(chanCol).cast("double") * lit(dfHz)
    val pos = (fOut / (lit(1.0) - col(velCol) / lit(cLight)) - lit(f0)) / lit(dfHz)
    def leg(suffix: String) =
      df.select((keys.map(col) :+ col(chanCol).cast("int").as("_jc")) ++
        valueCols.map(c => col(c).as(s"_${suffix}_$c")): _*)
    val base = df
      .withColumn("_pos", pos)
      .withColumn("_c0", floor(col("_pos")).cast("int"))
      .withColumn("_w", col("_pos") - col("_c0"))
    val withLo = base.withColumn("_jc", col("_c0"))
      .join(leg("lo"), keys :+ "_jc", "left").drop("_jc")
    val withHi = withLo.withColumn("_jc", col("_c0") + 1)
      .join(leg("hi"), keys :+ "_jc", "left").drop("_jc")
    val out = valueCols.foldLeft(withHi) { (d, c) =>
      d.withColumn(s"${c}_reframed",
        when(col("_w") === 0.0, col(s"_lo_$c")).otherwise(
          (lit(1.0) - col("_w")) * col(s"_lo_$c") + col("_w") * col(s"_hi_$c")))
    }
    out.drop((valueCols.map(c => s"_lo_$c") ++ valueCols.map(c => s"_hi_$c") ++
      Seq("_pos", "_c0", "_w")): _*)
  }

  /** Window-function kernels (scipy.signal.get_window analogs used by
    * chan_smooth: boxcar/triang/hann..., cngi/vis/chan_smooth.py:54-59),
    * normalized to unit sum.
    */
  object Kernels {
    private def norm(a: Array[Double]): Array[Double] = {
      val s = a.sum; a.map(_ / s)
    }
    def boxcar(n: Int): Array[Double] = norm(Array.fill(n)(1.0))
    def triang(n: Int): Array[Double] =
      norm(Array.tabulate(n)(i => 1.0 - math.abs(i - (n - 1) / 2.0) / ((n + 1) / 2.0)))
    def hann(n: Int): Array[Double] =
      norm(Array.tabulate(n)(i => 0.5 - 0.5 * math.cos(2 * math.Pi * i / (n - 1))))
    def hamming(n: Int): Array[Double] =
      norm(Array.tabulate(n)(i => 0.54 - 0.46 * math.cos(2 * math.Pi * i / (n - 1))))
    def blackman(n: Int): Array[Double] =
      norm(Array.tabulate(n)(i => 0.42 - 0.5 * math.cos(2 * math.Pi * i / (n - 1)) +
        0.08 * math.cos(4 * math.Pi * i / (n - 1))))
    def gaussian(n: Int, std: Double): Array[Double] =
      norm(Array.tabulate(n)(i => math.exp(-0.5 * math.pow((i - (n - 1) / 2.0) / std, 2))))
  }
}
