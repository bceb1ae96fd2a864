package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fft

/** The standard uv-gridder and the imaging chain built on it —
  * the reference's defining kernels (SURVEY.md §2.8, §3.3):
  * make_grid / make_image / make_psf
  * (ngcasa/imaging/_imaging_utils/_standard_grid.py:240-370,
  * ngcasa/imaging/make_image.py:105-130) and make_imaging_weight
  * (ngcasa/imaging/make_imaging_weight.py:144-255).
  *
  * Spark-first design (replaces the reference's hand-built dask graph
  * + chunk-index bookkeeping, _standard_grid.py:35-120). Like the
  * reference's one `_standard_grid_jit`, ONE gridding kernel
  * (`gridPartition`), one plane type (`PartialPlane`) and one merge
  * (`mergePlanes`) serve makeGrid, makeImage, makePsf and
  * makeImageAndPsf; the psf is a flag of the kernel, and
  * makeImageAndPsf grids both plane kinds in the same pass:
  *
  *  1. `mapPartitions` grids each INPUT partition locally into dense
  *     per-(doPsf, img_chan, pol) partial planes — no shuffle of raw
  *     visibilities, exactly the reference's per-chunk partial grids.
  *  2. `groupByKey(plane).reduceGroups(array add)` merges partials —
  *     Spark's partial+final aggregation replaces `_tree_sum_list`
  *     (_standard_grid.py:109-120); the shuffle carries only
  *     n_input_partitions x plane_size bytes, independent of row count.
  *  3. FFT + normalization run per merged plane inside `map` — one
  *     task per image plane (plane fits in memory by construction;
  *     the buffer-size math of SURVEY.md §7.3 risk 2: a plane is
  *     8B x 2 x nU x nV, e.g. 64 MB at 2048^2 — partition the input
  *     by chan when cube-mode planes x groups exceed executor memory).
  *     One shifted inverse FFT (`planeIfft`) serves every image
  *     normalizer here and in MosaicOps; each keeps its own correction
  *     divide.
  *
  * The image-plane operators downstream (CleanOps, BeamOps) take
  * long-form planes and densify them through one gather,
  * `densePlanes`. Two kernels stay separate on purpose: the mosaic
  * gridder's complex taps (MosaicOps) and the support-1 weight gridder
  * of makeImagingWeight.
  *
  * Numerics follow the reference deliberately (SURVEY.md §7.3 risk 3):
  * fortran-style `int(x+0.5)` center rounding (_standard_grid.py:311),
  * `floor(off*os + 0.5)` fractional kernel index, the Schwab rational
  * PSWF approximation, and the `weighted_data != 0` contribution gate.
  */
object GridOps {

  // ------------------------------------------------------- PSWF kernel

  /** Schwab's rational approximation of the prolate spheroidal wave
    * function (m=6, alpha=1) — _gridding_convolutional_kernels.py:101-151.
    * Returns the gridding-correction value; the gridding kernel value
    * is (1-u^2)*grdsf(u).
    */
  def grdsf(uIn: Double): Double = {
    val u = math.abs(uIn)
    if (u > 1.0) 0.0
    else {
      val (p, q, uend) =
        if (u < 0.75)
          (Array(8.203343e-2, -3.644705e-1, 6.278660e-1, -5.335581e-1, 2.312756e-1),
            Array(1.0, 8.212018e-1, 2.078043e-1), 0.75)
        else
          (Array(4.028559e-3, -3.697768e-2, 1.021332e-1, -1.201436e-1, 6.412774e-2),
            Array(1.0, 9.599102e-1, 2.918724e-1), 1.0)
      val delusq = u * u - uend * uend
      var top = p(0); var bot = q(0)
      var k = 1
      while (k < p.length) { top += p(k) * math.pow(delusq, k); k += 1 }
      k = 1
      while (k < q.length) { bot += q(k) * math.pow(delusq, k); k += 1 }
      if (bot > 0.0) top / bot else 0.0
    }
  }

  def kernelValue(u: Double): Double = (1.0 - u * u) * grdsf(u)

  /** 1-D oversampled half-kernel lookup table
    * (_create_prolate_spheroidal_kernel_1D): length os*(support/2+1),
    * entry k = kernelValue(k / (os * (support/2))), zero beyond edge.
    */
  def cgk1D(oversampling: Int, support: Int): Array[Double] = {
    val sc = support / 2
    val out = new Array[Double](oversampling * (sc + 1))
    var k = 0
    while (k < oversampling * sc) {
      out(k) = kernelValue(k.toDouble / (sc * oversampling)); k += 1
    }
    out
  }

  /** Gridding-correction 1-D profile at padded image coords:
    * grdsf(|2 * (i - n/2) / n|) (_gridding_convolutional_kernels.py:86-93).
    */
  def correcting1D(n: Int): Array[Double] =
    Array.tabulate(n)(i => grdsf(math.abs(2.0 * (i - n / 2) / n)))

  val SpeedOfLight = 299792458.0

  // ------------------------------------------------------- parameters

  /** @param nUV padded grid size (u, v) — powers of 2 for the FFT
    * @param deltaLM image cell size in rad (l, m)
    * @param imageSize unpadded output image size; defaults to nUV
    */
  final case class GridParams(nUV: (Int, Int), deltaLM: (Double, Double),
                              support: Int = 7, oversampling: Int = 100,
                              imageSize: Option[(Int, Int)] = None) {
    def nU: Int = nUV._1
    def nV: Int = nUV._2
    def imgSize: (Int, Int) = imageSize.getOrElse(nUV)
  }

  /** Input row contract for the gridder. img_chan is the IMAGING
    * channel (continuum: constant 0; cube: the chan index) — the
    * reference's chan_map (_standard_grid.py:151-156) as a column.
    */
  final case class GridVis(img_chan: Int, pol: Int, u: Double, v: Double,
                           re: Double, im: Double, weight: Double, freq: Double)

  /** One partial/merged uv plane. grid is interleaved [re, im] pairs,
    * row-major over (u_idx, v_idx); touched marks cells that received
    * any nonzero kernel contribution.
    */
  final case class PartialPlane(img_chan: Int, pol: Int, grid: Array[Double],
                                touched: Array[Boolean], sum_weight: Double)

  // ---------------------------------------------------------- gridding

  /** The standard gridder over one input partition: dense partial
    * planes per (doPsf, img_chan, pol), one kind per flag of `psfFlags`.
    * A data plane grids (re, im) x weight, a psf plane grids the weight
    * alone; each kind has its own `weighted_data != 0` gate, and a row
    * that passes any gate opens a plane of every requested kind for its
    * (img_chan, pol) — so when both kinds are gridded together, an image
    * plane exists wherever a psf plane does (all zero when only the psf
    * gate passed, e.g. re = im = 0 and weight != 0).
    */
  private def gridPartition(rows: Iterator[GridVis], p: GridParams,
                            psfFlags: Seq[Boolean])
      : Iterator[(Boolean, PartialPlane)] = {
    val cgk = cgk1D(p.oversampling, p.support)
    val sc = p.support / 2
    val (nU, nV) = (p.nU, p.nV)
    val (cU, cV) = (nU / 2, nV / 2)
    val kinds = psfFlags.toArray
    val (wRe, wIm) = (new Array[Double](kinds.length), new Array[Double](kinds.length))
    val pass = new Array[Boolean](kinds.length)
    val taps = new Array[Double](p.support * p.support)
    val cells = new Array[Int](taps.length)
    val planes = mutable.LinkedHashMap.empty[(Boolean, Int, Int), PartialPlane]
    for (r <- rows) {
      // uv_scale per reference: -(freq * delta_lm * n_uv) / c
      val u = r.u * (-(r.freq * p.deltaLM._1 * nU) / SpeedOfLight)
      val v = r.v * (-(r.freq * p.deltaLM._2 * nV) / SpeedOfLight)
      if (!u.isNaN && !v.isNaN) {
        val uPos = u + cU; val vPos = v + cV
        val uc = (uPos + 0.5).toInt; val vc = (vPos + 0.5).toInt // fortran rounding
        if (uc + sc < nU && vc + sc < nV && uc - sc >= 0 && vc - sc >= 0) {
          val uFrac = math.floor((uc - uPos) * p.oversampling + 0.5).toInt
          val vFrac = math.floor((vc - vPos) * p.oversampling + 0.5).toInt
          var any = false
          var k = 0
          while (k < kinds.length) {
            if (kinds(k)) { wRe(k) = r.weight; wIm(k) = 0.0 }
            else { wRe(k) = r.re * r.weight; wIm(k) = r.im * r.weight }
            pass(k) = !(wRe(k).isNaN || wIm(k).isNaN) && (wRe(k) != 0.0 || wIm(k) != 0.0)
            any ||= pass(k)
            k += 1
          }
          if (any) {
            // tap window [-sc, support-sc) — exactly `support` taps for
            // either parity, matching range(-support//2, support-support//2)
            // (_standard_grid.py:285-287)
            var norm = 0.0
            var t = 0
            var iv = -sc
            while (iv < p.support - sc) {
              val convV = cgk(math.abs(p.oversampling * iv + vFrac))
              var iu = -sc
              while (iu < p.support - sc) {
                taps(t) = cgk(math.abs(p.oversampling * iu + uFrac)) * convV
                cells(t) = (uc + iu) * nV + (vc + iv)
                norm += taps(t)
                t += 1; iu += 1
              }
              iv += 1
            }
            k = 0
            while (k < kinds.length) {
              val key = (kinds(k), r.img_chan, r.pol)
              val plane = planes.getOrElseUpdate(key,
                PartialPlane(r.img_chan, r.pol, new Array[Double](2 * nU * nV),
                  new Array[Boolean](nU * nV), 0.0))
              if (pass(k)) {
                t = 0
                while (t < taps.length) {
                  if (taps(t) != 0.0) {
                    plane.grid(2 * cells(t)) += taps(t) * wRe(k)
                    plane.grid(2 * cells(t) + 1) += taps(t) * wIm(k)
                    plane.touched(cells(t)) = true
                  }
                  t += 1
                }
                planes(key) = plane.copy(sum_weight = plane.sum_weight + r.weight * norm)
              }
              k += 1
            }
          }
        }
      }
    }
    planes.iterator.map { case ((psf, _, _), pl) => (psf, pl) }
  }

  private[operators] def mergePlanes(a: PartialPlane, b: PartialPlane): PartialPlane = {
    var i = 0
    while (i < a.grid.length) { a.grid(i) += b.grid(i); i += 1 }
    i = 0
    while (i < a.touched.length) {
      a.touched(i) = a.touched(i) || b.touched(i); i += 1
    }
    a.copy(sum_weight = a.sum_weight + b.sum_weight)
  }

  /** The two-stage partial/merge shape described in the object doc,
    * for the plane kinds `psfFlags` names: merged planes tagged with
    * their doPsf flag, one per (doPsf, img_chan, pol), from one scan and
    * one shuffle of the visibilities.
    */
  private def mergedPlanes(spark: SparkSession, vis: DataFrame, p: GridParams,
                           psfFlags: Seq[Boolean]): Dataset[(Boolean, PartialPlane)] = {
    import spark.implicits._
    vis.select(col("img_chan").cast("int"), col("pol").cast("int"),
        col("u").cast("double"), col("v").cast("double"),
        col("re").cast("double"), col("im").cast("double"),
        col("weight").cast("double"), col("freq").cast("double"))
      .as[GridVis]
      .mapPartitions(rows => gridPartition(rows, p, psfFlags))
      .groupByKey { case (psf, pl) => (psf, pl.img_chan, pl.pol) }
      .reduceGroups((a, b) => (a._1, mergePlanes(a._2, b._2)))
      .map(_._2)
  }

  /** Grid visibilities into merged uv planes (one row per
    * (img_chan, pol)). The two-stage partial/merge shape described in
    * the object doc.
    */
  def gridPlanes(spark: SparkSession, vis: DataFrame, p: GridParams,
                 doPsf: Boolean = false): Dataset[PartialPlane] = {
    import spark.implicits._
    mergedPlanes(spark, vis, p, Seq(doPsf)).map(_._2)
  }

  /** make_grid (ngcasa/imaging/make_grid.py:27-143): the raw uv grid in
    * long form — only touched cells, plus the per-plane sum of weight.
    */
  def makeGrid(spark: SparkSession, vis: DataFrame, p: GridParams,
               doPsf: Boolean = false): (DataFrame, DataFrame) = {
    import spark.implicits._
    val planes = gridPlanes(spark, vis, p, doPsf).cache()
    val grid = planes.flatMap { pl =>
      val nV = p.nV
      pl.touched.iterator.zipWithIndex.collect { case (true, cell) =>
        (pl.img_chan, pl.pol, cell / nV, cell % nV,
          pl.grid(2 * cell), pl.grid(2 * cell + 1))
      }
    }.toDF("img_chan", "pol", "u_idx", "v_idx", "grid_re", "grid_im")
    val sumW = planes.map(pl => (pl.img_chan, pl.pol, pl.sum_weight))
      .toDF("img_chan", "pol", "sum_weight")
    (grid, sumW)
  }

  /** Kernel-based degrid — predict a model visibility at each (u, v)
    * point by sampling the uv grid through the SAME prolate-spheroidal
    * taps the gridder scatters with, normalized by the tap sum. The
    * reference leaves model-vis prediction unimplemented
    * (ngcasa/imaging/predict_modelvis_image.py — a NotImplementedError
    * stub whose comments sketch exactly this _degrid step); its only
    * shipped degrid is the nearest-cell imaging-weight sampler
    * (_standard_grid.py:467-520), so this operator goes beyond parity
    * using the gridder's own kernel machinery (geometry and cgk table
    * shared verbatim with gridPartition).
    *
    * Shape — TWO physical strategies behind one logical operator,
    * selected by the size of the grid's (chan, pol) plane set:
    *
    *  - BROADCAST (small plane sets, e.g. continuum: 16 KB for a
    *    padded 32x32 plane): dense per-plane arrays collected and
    *    broadcast once; each visibility samples its support x support
    *    taps inside one compiled UDF — a pure projection over the vis
    *    stream, no tap explosion, no join, no shuffle (measured
    *    10.9 s -> sub-second at sf0.1 vs the relational form at
    *    fixture scale).
    *  - EQUI-JOIN (cube-scale plane sets — a CHILES-class
    *    1000^2 x 30720-chan cube is ~0.5 TB of planes, far past any
    *    driver or broadcast budget): each visibility explodes into its
    *    support^2 (u_idx, v_idx) taps which equi-join the grid
    *    DataFrame on (img_chan, pol, u_idx, v_idx); the per-vis
    *    weighted sum folds the joined taps back in deterministic tap
    *    order, so the result is BITWISE identical to the broadcast
    *    path (GridOpsSpec proves it). The grid never leaves the
    *    executors; both sides shuffle on the 4-int cell key.
    *
    * degridVis dispatches on nPlanes x planeBytes vs
    * maxBroadcastBytes; both concrete paths stay public.
    */
  def degridVis(vis: DataFrame, grid: DataFrame, p: GridParams,
                rowKeys: Seq[String],
                maxBroadcastBytes: Long = 64L << 20,
                nPlanesHint: Option[Long] = None): DataFrame = {
    val planeBytes = 16L * p.nU * p.nV
    // The plane-set size that picks the physical path is metadata
    // (chans x pols), not data. Dispatch never computes the grid
    // twice: a single over-budget plane (every cube-scale case)
    // short-circuits to the join path with NO job; callers that know
    // the cube shape pass nPlanesHint and dispatch is free; only the
    // hintless small-plane case runs the ONE counting job, against a
    // cached grid that the chosen path then reuses.
    if (planeBytes > maxBroadcastBytes)
      return degridVisJoin(vis, grid, p, rowKeys)
    nPlanesHint match {
      case Some(n) =>
        if (n * planeBytes <= maxBroadcastBytes)
          degridVisBroadcast(vis, grid, p, rowKeys)
        else degridVisJoin(vis, grid, p, rowKeys)
      case None =>
        val cached = grid.cache()
        // One try/finally spans the counting job AND both branches: a
        // failure anywhere (including the count itself) must not leak
        // the cache for the session lifetime. Safe in both branches —
        // the broadcast path collects the grid EAGERLY inside the
        // call, and the join path consumes the ORIGINAL (uncached)
        // grid lazily (worst case the grid recomputes once — the same
        // cost dispatch had before; real cube-scale grids never reach
        // here: the short-circuit above catches them).
        try {
          val nPlanes = cached.select("img_chan", "pol").distinct().count()
          if (nPlanes * planeBytes <= maxBroadcastBytes)
            degridVisBroadcast(vis, cached, p, rowKeys)
          else degridVisJoin(vis, grid, p, rowKeys)
        } finally cached.unpersist(blocking = false)
    }
  }

  /** Per-vis degrid geometry shared by both physical paths: nearest
    * cell (fortran rounding), oversampled kernel fraction, and the
    * same in-grid bound the gridder applies (gridPartition:135).
    */
  private def degridGeo(vis: DataFrame, p: GridParams): DataFrame = {
    val sc = p.support / 2
    val os = p.oversampling
    val (nU, nV) = (p.nU, p.nV)
    val uScale = col("freq") * lit(-p.deltaLM._1 * nU / SpeedOfLight)
    val vScale = col("freq") * lit(-p.deltaLM._2 * nV / SpeedOfLight)
    vis
      .withColumn("u_pos", col("u") * uScale + lit(nU / 2))
      .withColumn("v_pos", col("v") * vScale + lit(nV / 2))
      .withColumn("uc", floor(col("u_pos") + 0.5).cast("int"))
      .withColumn("vc", floor(col("v_pos") + 0.5).cast("int"))
      .where(col("uc") + sc < nU && col("vc") + sc < nV &&
        col("uc") - sc >= 0 && col("vc") - sc >= 0)
      .withColumn("ufrac",
        floor((col("uc") - col("u_pos")) * os + 0.5).cast("int"))
      .withColumn("vfrac",
        floor((col("vc") - col("v_pos")) * os + 0.5).cast("int"))
  }

  /** Broadcast physical path of [[degridVis]] — see its scaladoc. */
  def degridVisBroadcast(vis: DataFrame, grid: DataFrame, p: GridParams,
                         rowKeys: Seq[String]): DataFrame = {
    val cgk = cgk1D(p.oversampling, p.support)
    val sc = p.support / 2
    val os = p.oversampling
    val support = p.support
    val (nU, nV) = (p.nU, p.nV)
    val planes: Map[(Int, Int), Array[Double]] = grid
      .select(col("img_chan").cast("int"), col("pol").cast("int"),
        col("u_idx").cast("int"), col("v_idx").cast("int"),
        col("grid_re").cast("double"), col("grid_im").cast("double"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (k, rows) =>
        val a = new Array[Double](2 * nU * nV)
        rows.foreach { r =>
          val cell = r.getInt(2) * nV + r.getInt(3)
          a(2 * cell) = r.getDouble(4); a(2 * cell + 1) = r.getDouble(5)
        }
        k -> a
      }
    val bc = vis.sparkSession.sparkContext.broadcast(planes)
    val sample = udf((chan: Int, pol: Int, uc: Int, vc: Int,
                      ufrac: Int, vfrac: Int) => {
      val arr = bc.value.getOrElse((chan, pol), null)
      var accRe = 0.0; var accIm = 0.0; var norm = 0.0
      var dv = -sc
      while (dv < support - sc) {
        val cv = cgk(math.abs(os * dv + vfrac))
        var du = -sc
        while (du < support - sc) {
          val conv = cgk(math.abs(os * du + ufrac)) * cv
          if (arr != null) {
            val cell = (uc + du) * nV + (vc + dv)
            accRe += conv * arr(2 * cell)
            accIm += conv * arr(2 * cell + 1)
          }
          norm += conv
          du += 1
        }
        dv += 1
      }
      (accRe / norm, accIm / norm)
    })
    val geo = degridGeo(vis, p)
    val keyCols = (Seq("img_chan", "pol") ++ rowKeys).map(col)
    geo.withColumn("_m", sample(col("img_chan"), col("pol"), col("uc"),
        col("vc"), col("ufrac"), col("vfrac")))
      .select((keyCols :+ col("_m._1").as("model_re") :+
        col("_m._2").as("model_im")): _*)
  }

  /** Relational physical path of [[degridVis]]: explode each
    * visibility into its support^2 taps (tap index i enumerates dv
    * outer / du inner — the exact loop order of the broadcast kernel),
    * LEFT-join the grid DataFrame on (img_chan, pol, u_idx, v_idx)
    * with absent cells coalesced to 0 (every vis therefore keeps all
    * support^2 tap rows), then fold each vis's taps back in ascending
    * tap order.
    *
    * The explosion happens on the GRID side, not the vis side: each
    * grid cell is emitted once per tap slot it can serve, and one hash
    * aggregate folds those emissions into a per-ANCHOR sparse
    * neighborhood patch — (sorted tap slots, grid re, grid im) arrays
    * keyed by the nearest-cell coordinate. Each visibility then makes
    * a single equi-join probe on (img_chan, pol, uc, vc) and a
    * compiled kernel folds its support^2 taps against the patch in the
    * broadcast kernel's exact loop order (absent cells contribute the
    * same +0.0 the dense array holds there), so the output is bitwise
    * equal to the broadcast path — GridOpsSpec proves it.
    *
    * Scale shape: shuffle volume is O(grid x support^2) to build the
    * patch table plus O(vis) for the probe — the vis stream is never
    * multiplied by support^2 (an earlier tap-side explode + regroup
    * measured 70-85 s at sf0.1; this form runs in a few seconds). For
    * cube-scale plane sets both join sides stay distributed, keyed by
    * the 4-int anchor; for small grids Catalyst broadcasts the patch
    * table on its own.
    */
  def degridVisJoin(vis: DataFrame, grid: DataFrame, p: GridParams,
                    rowKeys: Seq[String]): DataFrame = {
    val cgk = cgk1D(p.oversampling, p.support)
    val sc = p.support / 2
    val os = p.oversampling
    val support = p.support
    // grid-side explode: cell (u_idx, v_idx) serves anchor
    // (u_idx - du, v_idx - dv) at tap slot (dv+sc)*support + (du+sc)
    val offsets = for (dv <- -sc until support - sc;
                       du <- -sc until support - sc)
      yield (du, dv, (dv + sc) * support + (du + sc))
    val offDf = vis.sparkSession.createDataFrame(offsets)
      .toDF("_du", "_dv", "_slot")
    val patch = grid
      .select(col("img_chan").cast("int").as("g_chan"),
        col("pol").cast("int").as("g_pol"),
        col("u_idx").cast("int"), col("v_idx").cast("int"),
        col("grid_re").cast("double").as("g_re"),
        col("grid_im").cast("double").as("g_im"))
      .crossJoin(broadcast(offDf))
      .select(col("g_chan"), col("g_pol"),
        (col("u_idx") - col("_du")).as("a_u"),
        (col("v_idx") - col("_dv")).as("a_v"),
        col("_slot"), col("g_re"), col("g_im"))
      .groupBy("g_chan", "g_pol", "a_u", "a_v")
      .agg(sort_array(collect_list(struct(col("_slot"), col("g_re"),
        col("g_im")))).as("_p"))
      .select(col("g_chan"), col("g_pol"), col("a_u"), col("a_v"),
        col("_p._slot").as("_slots"), col("_p.g_re").as("_res"),
        col("_p.g_im").as("_ims"))
    // per-vis fold against the sparse patch, in kernel loop order, as
    // a native codegen expression (functions.DegridFold): the earlier
    // Scala UDF boxed three Seqs per visibility row; the kernel now
    // reads the join's ArrayData in place. A null patch (no grid cell
    // anywhere in the support) degrades to the broadcast path's
    // missing-plane branch: acc 0, norm real.
    val keyCols = (Seq("img_chan", "pol") ++ rowKeys).map(col)
    val geo = degridGeo(vis, p)
    geo.join(patch,
        geo("img_chan") === patch("g_chan") && geo("pol") === patch("g_pol") &&
          geo("uc") === patch("a_u") && geo("vc") === patch("a_v"),
        "left")
      .withColumn("_m", graft.functions.DegridFold(col("ufrac"),
        col("vfrac"), col("_slots"), col("_res"), col("_ims"),
        cgk, support, os))
      .select((keyCols :+ col("_m").getItem(0).as("model_re") :+
        col("_m").getItem(1).as("model_im")): _*)
  }

  /** Single-dish imaging (beyond-parity — make_sd_image, make_sd_psf
    * and make_sd_weight_image are all NotImplementedError stubs in
    * ngcasa/imaging): kernel-weighted binning of total-power samples
    * onto image pixels,
    *   image(p) = sum_s K(p - pos_s) w_s v_s / sum_s K(p - pos_s) w_s,
    * with a truncated gaussian beam kernel. One row per (sample, tap)
    * after exploding a LITERAL (2·support+1)² tap-offset array — a
    * Generate over constants plus pure column arithmetic, so the whole
    * expansion stays inside whole-stage codegen (no UDF, no row
    * boxing; the round-7 ScalaUDF explode was the slowest plan in the
    * suite) — then ONE hash aggregate onto the pixel key. Map-side
    * combine collapses taps to at most n_pixels rows per partition
    * before the shuffle, so the shuffle volume is bounded by the image
    * size, not the sample count. The weight plane (make_sd_weight_image)
    * is the same aggregate's denominator; doPsf = true drops the data
    * factor (make_sd_psf). Input columns: img_chan, pol, px, py (pixel
    * coords), value, weight.
    */
  def makeSdImage(vis: DataFrame, nL: Int, nM: Int, support: Int,
                  sigmaPx: Double, doPsf: Boolean = false): DataFrame = {
    val inv2s2 = 1.0 / (2.0 * sigmaPx * sigmaPx)
    val pc = floor(col("px") + 0.5).cast("int")
    val qc = floor(col("py") + 0.5).cast("int")
    val offsets = for {
      di <- -support to support
      dj <- -support to support
    } yield struct(lit(di).as("di"), lit(dj).as("dj"))
    val dx = col("l_idx").cast("double") - col("px")
    val dy = col("m_idx").cast("double") - col("py")
    val kern = exp(-(dx * dx + dy * dy) * lit(inv2s2))
    val num =
      if (doPsf) sum(col("k") * col("weight"))
      else sum(col("k") * col("weight") * col("value"))
    vis.where(pc - support >= 0 && pc + support < nL &&
        qc - support >= 0 && qc + support < nM)
      .withColumn("pc", pc).withColumn("qc", qc)
      .withColumn("off", explode(array(offsets: _*)))
      .withColumn("l_idx", col("pc") + col("off.di"))
      .withColumn("m_idx", col("qc") + col("off.dj"))
      .withColumn("k", kern)
      .groupBy(col("img_chan"), col("pol"), col("l_idx"), col("m_idx"))
      .agg(num.as("_num"), sum(col("k") * col("weight")).as("sd_weight"))
      .withColumn("sd_image",
        when(col("sd_weight") =!= 0.0, col("_num") / col("sd_weight"))
          .otherwise(lit(0.0)))
      .drop("_num")
  }

  /** predict_modelvis_component (beyond-parity — the reference's
    * ngcasa/imaging/predict_modelvis_component.py is a
    * NotImplementedError stub): evaluate the model visibility of a
    * point-component list analytically,
    *   V(u, v) = sum_c S_c exp(-2 pi i (u l_c + v m_c)),
    * with (u, v) already in wavelengths and (l_c, m_c) direction
    * cosines. Components unroll into one codegen'd column expression
    * (left-associated sum, mirrored verbatim by the oracle) — a pure
    * projection, no shuffle, no state.
    */
  def predictComponentVis(vis: DataFrame,
                          components: Seq[(Double, Double, Double)],
                          uCol: String = "u",
                          vCol: String = "v"): DataFrame = {
    require(components.nonEmpty, "need at least one component")
    def phase(l0: Double, m0: Double) =
      lit(-2 * math.Pi) * (col(uCol) * lit(l0) + col(vCol) * lit(m0))
    val re = components.map { case (s, l0, m0) =>
      lit(s) * cos(phase(l0, m0))
    }.reduce(_ + _)
    val im = components.map { case (s, l0, m0) =>
      lit(s) * sin(phase(l0, m0))
    }.reduce(_ + _)
    vis.withColumn("model_re", re).withColumn("model_im", im)
  }

  /** ifftshift -> unnormalized inverse FFT -> fftshift of one uv plane
    * (interleaved [re, im]): the real part of the padded nU x nV image,
    * row-major. Every image normalizer crops and corrects this itself.
    */
  private[operators] def planeIfft(grid: Array[Double], p: GridParams): Array[Double] = {
    val (nU, nV) = (p.nU, p.nV)
    var re = new Array[Double](nU * nV)
    var im = new Array[Double](nU * nV)
    var i = 0
    while (i < nU * nV) { re(i) = grid(2 * i); im(i) = grid(2 * i + 1); i += 1 }
    re = Fft.fftshift2(re, nU, nV); im = Fft.fftshift2(im, nU, nV)
    Fft.fft2(re, im, nU, nV, invert = true)
    Fft.fftshift2(re, nU, nV)
  }

  /** The one gather from long-form planes to dense ones: frames of
    * (img_chan, pol, l_idx, m_idx, value) rows, each with its own
    * (rows, cols) plane size, become one group per (img_chan, pol) that
    * any frame holds, with one row-major array per frame, in frame
    * order. A frame without rows for the group leaves its array zero; a
    * repeated (l_idx, m_idx) keeps the last row written. `perPlane`
    * turns (img_chan, pol, arrays) into output rows, one plane at a
    * time; the shuffle carries plane bytes.
    */
  private[operators] def densePlanes[T: Encoder](
      frames: Seq[(DataFrame, Column, (Int, Int))])(
      perPlane: (Int, Int, Array[Array[Double]]) => Iterator[T]): Dataset[T] = {
    val spark = frames.head._1.sparkSession
    import spark.implicits._
    val cols = frames.map(_._3._2).toArray
    val sizes = frames.map { case (_, _, (n, m)) => n * m }.toArray
    frames.zipWithIndex.map { case ((df, value, _), kind) =>
        df.select(col("img_chan").cast("int"), col("pol").cast("int"),
          col("l_idx").cast("int"), col("m_idx").cast("int"),
          value.cast("double"), lit(kind).as("kind"))
      }.reduce(_ union _)
      .as[(Int, Int, Int, Int, Double, Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), rows: Iterator[(Int, Int, Int, Int, Double, Int)]) =>
        val planes = sizes.map(n => new Array[Double](n))
        for ((_, _, l, m, v, kind) <- rows) planes(kind)(l * cols(kind) + m) = v
        perPlane(key._1, key._2, planes)
      }
  }

  /** [[planeIfft]] -> crop -> divide by sum_weight and the PSWF
    * correcting image: one uv plane to cropped image pixels.
    */
  private[operators] def planePixels(imgChan: Int, pol: Int,
                                     grid: Array[Double], sumWeight: Double,
                                     p: GridParams)
      : Seq[(Int, Int, Int, Int, Double, Double)] = {
    val (nU, nV) = (p.nU, p.nV)
    val (nL, nM) = p.imgSize
    val corrU = correcting1D(nU)
    val corrV = correcting1D(nV)
    val (offL, offM) = (nU / 2 - nL / 2, nV / 2 - nM / 2)
    val re = planeIfft(grid, p)
    val sw = if (sumWeight == 0.0) 1.0 else sumWeight
    for (l <- 0 until nL; m <- 0 until nM) yield {
      val pix = re((l + offL) * nV + (m + offM))
      val corrected = pix / sw / (corrU(l + offL) * corrV(m + offM))
      (imgChan, pol, l, m, corrected, sumWeight)
    }
  }

  /** make_image (ngcasa/imaging/make_image.py:105-130): per-plane
    * fftshift(ifft2(ifftshift(grid))) * N, crop padding, divide by
    * sum_weight and the PSWF correcting image. Long-form output
    * (img_chan, pol, l_idx, m_idx, image, sum_weight).
    */
  def makeImage(spark: SparkSession, vis: DataFrame, p: GridParams,
                doPsf: Boolean = false): DataFrame = {
    import spark.implicits._
    gridPlanes(spark, vis, p, doPsf)
      .flatMap(pl => planePixels(pl.img_chan, pl.pol, pl.grid, pl.sum_weight, p))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "image", "sum_weight")
  }

  /** make_psf (ngcasa/imaging/make_psf.py:27-264): the point-spread
    * function — make_image of the weights only.
    */
  def makePsf(spark: SparkSession, vis: DataFrame, p: GridParams): DataFrame =
    makeImage(spark, vis, p, doPsf = true)

  /** make_image + make_psf from ONE scan + ONE shuffle of the input:
    * the one gridder grids both plane kinds together (the reference
    * builds two separate dask graphs that each re-read the vis —
    * make_image.py + make_psf.py). The pixels of both kinds are cached
    * (one FFT per merged plane), so the two returned frames share the
    * gridding and FFT work and read plain columns; numerics are
    * identical to calling makeImage and makePsf separately, except that
    * the image also holds an all-zero plane wherever only the psf gate
    * passed (see gridPartition).
    */
  def makeImageAndPsf(spark: SparkSession, vis: DataFrame,
                      p: GridParams): (DataFrame, DataFrame) = {
    import spark.implicits._
    val pixels = mergedPlanes(spark, vis, p, Seq(false, true))
      .flatMap { case (psf, pl) =>
        planePixels(pl.img_chan, pl.pol, pl.grid, pl.sum_weight, p)
          .map { case (c, pol, l, m, v, sw) => (psf, c, pol, l, m, v, sw) }
      }
      .toDF("psf", "img_chan", "pol", "l_idx", "m_idx", "image", "sum_weight")
      .cache()
    def image(psf: Boolean): DataFrame = pixels.where(col("psf") === psf).drop("psf")
    (image(psf = false), image(psf = true))
  }

  /** calc_image_cell_size (ngcasa/imaging/calc_image_cell_size.py:20-75):
    * cell size from the max uv extent at the max frequency
    * (pixels_per_beam per synthesized beam), image size from the
    * perfectly-illuminated-aperture FWHM at the min frequency, rounded
    * up to (2^n * 10)/padding. One aggregate row + scalar column math —
    * no collect; `minDishDiameter` stands in for the reference's
    * global_dataset.ANT_DISH_DIAMETER min (a one-row dimension lookup).
    */
  def calcImageCellSize(vis: DataFrame, uCol: String, vCol: String,
                        freqCol: String, minDishDiameter: Double,
                        pixelsPerBeam: Double = 7.0,
                        padding: Double = 1.2): DataFrame = {
    val radToArc = 3600.0 * 180.0 / math.Pi
    val agg = vis.agg(
      max(col(uCol)).as("max_u"), max(col(vCol)).as("max_v"),
      min(col(freqCol)).as("f_min"), max(col(freqCol)).as("f_max"))
    val cellU = lit(radToArc) * (lit(SpeedOfLight) / (col("max_u") * col("f_max"))) / lit(pixelsPerBeam)
    val cellV = lit(radToArc) * (lit(SpeedOfLight) / (col("max_v") * col("f_max"))) / lit(pixelsPerBeam)
    // within 20% of each other -> use the smaller for both (:55-56)
    val close = cellU / cellV < 1.2 && cellV / cellU < 1.2
    val cellL = when(close, least(cellU, cellV)).otherwise(cellU)
    val cellM = when(close, least(cellU, cellV)).otherwise(cellV)
    val fwhm = lit(radToArc) * (lit(1.02 * SpeedOfLight) / (lit(minDishDiameter) * col("f_min")))
    def imsize(cell: Column): Column = {
      val raw = greatest(fwhm / cell, lit(1.0))
      ceil(pow(lit(2.0), ceil(log2(raw / 10.0))) * lit(10.0) / lit(padding))
    }
    agg.select(cellL.as("cell_l"), cellM.as("cell_m"),
      imsize(cellL).as("imsize_l"), imsize(cellM).as("imsize_m"))
  }

  // ------------------------------------------- imaging weights (briggs)

  /** Per-partition weight planes, the support-1 sibling of
    * [[gridPartition]]: each row adds its natural weight to its own
    * cell and to its Hermitian-conjugate cell (skipped when that falls
    * outside the grid). A plane is nU x nV cells, row-major, plus one
    * trailing slot summing the natural weights it took, so partials
    * merge by plain array addition. Rows are (img_chan, pol, u_cell,
    * v_cell, u_conj, v_conj, nat_w), in grid and non-null.
    */
  private def gridWeightPartition(rows: Iterator[Row], nU: Int, nV: Int)
      : Iterator[((Int, Int), Array[Double])] = {
    val planes = mutable.HashMap.empty[(Int, Int), Array[Double]]
    for (r <- rows) {
      val w = planes.getOrElseUpdate((r.getInt(0), r.getInt(1)),
        new Array[Double](nU * nV + 1))
      val natW = r.getDouble(6)
      w(r.getInt(2) * nV + r.getInt(3)) += natW
      val (uc, vc) = (r.getInt(4), r.getInt(5))
      if (uc >= 0 && uc < nU && vc >= 0 && vc < nV) w(uc * nV + vc) += natW
      w(nU * nV) += natW
    }
    planes.iterator
  }

  /** make_imaging_weight (ngcasa/imaging/make_imaging_weight.py:20-255).
    * natural: the weight itself. uniform/briggs: grid the natural
    * weights to the NEAREST uv cell (the gridder at support 1) into
    * dense per-(img_chan, pol) planes W, compute each plane's robust
    * factor, then degrid W at each visibility's cell and divide:
    *   f2 = (5*10^-robust)^2 / (sum_cells W^2 / sum w)
    *   imaging_weight = w / (f2 * W[cell] + f1)        (uniform: f2=1, f1=0)
    * The weight is kept as is when the row is out of grid, when it is 0
    * or null, or when its cell sums to 0. Any other `weighting` fails.
    *
    * Faithful to _standard_grid_jit with do_imaging_weight=True
    * (_standard_grid.py:302-368):
    *  - each weight is gridded at BOTH its cell and the Hermitian
    *    conjugate cell int(-u + center + 0.5) (…:305-317,362-364), and
    *    sum_weight accumulates twice (…:366-369) — so sum_w below is
    *    2 x the in-grid natural weight sum;
    *  - with polAverage=true (reference n_pol==2, …:330-335 and
    *    _standard_imaging_weight_degrid_jit:505-512) the natural weight
    *    is replaced by the mean over the row's pol group before both
    *    gridding and degridding (an aggregate over `rowKeyCols`, the
    *    (time,baseline,chan) identity, joined back).
    *  - divergence: the reference does not bounds-check the conjugate
    *    cell (numpy would wrap a negative index); we keep only in-grid
    *    conjugate contributions.
    *
    * Dense, like the reference (_standard_grid.py:302-368 grids the
    * weights, :467-520 degrids them):
    *  1. the cell-annotated input (u_cell, v_cell, u_conj, v_conj) is
    *     materialized ONCE with `localCheckpoint` — its source (scan,
    *     flagging, averaging) runs one time, where a lazy plan replays
    *     it for every consumer below; the pol-mean join sits on top;
    *  2. one job grids per-partition partial planes and merges them
    *     per (img_chan, pol) (`reduceByKey`); the driver sums each
    *     merged plane's W^2 and weights, the inputs of its f2;
    *  3. the merged planes are broadcast and a UDF degrids each row —
    *     a narrow projection over the materialized frame, no join and
    *     no shuffle of the visibilities.
    * Memory bound: the broadcast (and each task's partial planes) holds
    * planes x nU x nV doubles — 128 KB per 128^2 plane, 32 MB per
    * 2048^2 plane — the same bound as `makeImageAndPsf`'s partial
    * planes; partition the input by img_chan when a cube's planes
    * exceed it.
    */
  def makeImagingWeight(vis: DataFrame, p: GridParams,
                        weighting: String = "natural",
                        robust: Double = 0.5,
                        polAverage: Boolean = false,
                        rowKeyCols: Seq[String] = Nil): DataFrame = {
    require(Seq("natural", "uniform", "briggs").contains(weighting),
      s"weighting must be natural, uniform or briggs, got '$weighting'")
    val (nU, nV) = (p.nU, p.nV)
    val uScale = col("freq") * lit(-p.deltaLM._1 * nU / SpeedOfLight)
    val vScale = col("freq") * lit(-p.deltaLM._2 * nV / SpeedOfLight)
    def cellIdx(c: Column, scale: Column, n: Int): Column =
      floor(c * scale + lit(n / 2) + lit(0.5)).cast("int")
    val withCell0 = vis
      .withColumn("u_cell", cellIdx(col("u"), uScale, nU))
      .withColumn("v_cell", cellIdx(col("v"), vScale, nV))
      .withColumn("_in_grid", col("u_cell") >= 0 && col("u_cell") < nU &&
        col("v_cell") >= 0 && col("v_cell") < nV)
    if (weighting == "natural")
      return withCell0.withColumn("imaging_weight", col("weight"))

    // On a durable cluster point spark.checkpoint.dir at HDFS/S3 and
    // checkpoint reliably instead.
    val cells = withCell0
      .withColumn("u_conj", cellIdx(-col("u"), uScale, nU))
      .withColumn("v_conj", cellIdx(-col("v"), vScale, nV))
      .localCheckpoint()
    val withW = if (polAverage) {
      require(rowKeyCols.nonEmpty,
        "polAverage needs rowKeyCols identifying the pol group")
      // Pol-group mean as an aggregate joined back, NOT a window: the
      // aggregate output is one row per pol group, where a window would
      // sort the fact frame. The mean over a pol group is order-exact
      // for the 2-pol case (a+b is commutative in IEEE).
      cells.join(cells.groupBy(rowKeyCols.map(col): _*)
        .agg(avg(col("weight")).as("nat_w")), rowKeyCols)
    } else cells.withColumn("nat_w", col("weight"))

    val planes: Map[(Int, Int), (Array[Double], Double, Double)] = withW
      .where(col("_in_grid") && col("nat_w").isNotNull &&
        col("img_chan").isNotNull && col("pol").isNotNull)
      .select(col("img_chan").cast("int"), col("pol").cast("int"),
        col("u_cell"), col("v_cell"), col("u_conj"), col("v_conj"),
        col("nat_w").cast("double"))
      .rdd
      .mapPartitions(rows => gridWeightPartition(rows, nU, nV))
      .reduceByKey { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
      .collect()
      .map { case (k, w) =>
        k -> (w, w.iterator.take(nU * nV).map(x => x * x).sum, 2.0 * w(nU * nV))
      }
      .toMap
    val bc = vis.sparkSession.sparkContext.broadcast(planes)
    // (W[cell], sum_cells W^2, sum_w) of the row's plane; 0s off grid
    val degrid = udf((chan: Int, pol: Int, u: Int, v: Int) =>
      bc.value.get((chan, pol)) match {
        case Some((w, sq, sumW)) if u >= 0 && u < nU && v >= 0 && v < nV =>
          (w(u * nV + v), sq, sumW)
        case _ => (0.0, 0.0, 0.0)
      })
    val (f2, f1) =
      if (weighting == "briggs")
        (lit(math.pow(5.0 * math.pow(10.0, -robust), 2)) /
          (col("_w._2") / col("_w._3")), lit(1.0))
      else (lit(1.0), lit(0.0))
    val front = Seq("img_chan", "pol", "u_cell", "v_cell")
    val dropped = Set("u_conj", "v_conj", "nat_w")
    withW
      .withColumn("_w", degrid(col("img_chan").cast("int"), col("pol").cast("int"),
        col("u_cell"), col("v_cell")))
      .withColumn("imaging_weight",
        when(col("_in_grid") && col("nat_w") =!= 0.0 &&
          col("_w._1").isNotNull && col("_w._1") =!= 0.0,
          col("nat_w") / (f2 * col("_w._1") + f1))
          .otherwise(col("nat_w")))
      .select((front ++ withW.columns.filterNot(c =>
        front.contains(c) || dropped(c)) :+ "imaging_weight")
        .map(c => col("`" + c.replace("`", "``") + "`")): _*)
  }
}
