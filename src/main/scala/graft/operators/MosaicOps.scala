package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import GridOps.{GridParams, PartialPlane, SpeedOfLight}

/** Mosaic (aperture) gridding — the reference's
  * make_gridding_convolution_function
  * (ngcasa/imaging/make_gridding_convolution_function.py:36-620) +
  * _graph_aperture_grid (_imaging_utils/_aperture_grid.py:25-530):
  * like the standard gridder, but the convolution kernel is looked up
  * per baseline TYPE (antenna-pair dish combination) and a per-FIELD
  * phase gradient multiplies the KERNEL (not the visibility), steering
  * each pointing to its offset in the mosaic.
  *
  * Faithful to _aperture_grid_jit (_aperture_grid.py:377-516):
  *  - the tap value is COMPLEX: kernel(cfU, cfV) x
  *    exp(i (cfU pix0 + cfV pix1)) with cfU = oversampling*i_u + frac
  *    offset — the reference's conv_kernel * phase_gradient lookup
  *    (:429, :504), where pix = -(field offset in padded-image pixels)
  *    * 2 pi / (n_uv * oversampling)
  *    (make_gridding_convolution_function.py:331-359; the pixel
  *    distance uses the small-offset SIN approximation offset/cell
  *    instead of astropy WCS — documented divergence, equal to first
  *    order);
  *  - sum_weight accumulates weight * Re(norm^2) for data ("the pb is
  *    in the image twice", :513-515) and weight * Re(norm) for the psf
  *    (:512);
  *  - grid and norm are complex sums over the taps.
  *
  * Spark-first shape: kernels + per-field pix constants are tiny
  * broadcastable structures captured in the task closure; partial-
  * plane merge is identical to the standard gridder.
  */
object MosaicOps {

  /** Per-baseline-type oversampled 1-D kernel + support. */
  final case class Gcf(cgk: Array[Double], support: Int, oversampling: Int)

  /** make_gridding_convolution_function analog: PSWF kernels whose
    * support scales inversely with dish diameter (larger dish =>
    * tighter aperture => smaller uv support), one per baseline type.
    * Returns (kernels by type, phase gradient (dl, dm) by field).
    */
  def makeGcf(dishDiameters: Map[Int, Double], baseDish: Double,
              baseSupport: Int = 7, oversampling: Int = 100,
              fieldOffsets: Map[Int, (Double, Double)] = Map.empty)
      : (Map[Int, Gcf], Map[Int, (Double, Double)]) = {
    val kernels = dishDiameters.map { case (t, d) =>
      val support = math.max(3,
        (baseSupport * baseDish / d).round.toInt | 1) // odd support
      t -> Gcf(GridOps.cgk1D(oversampling, support), support, oversampling)
    }
    (kernels, fieldOffsets)
  }

  /** Per-field phase-gradient slope in oversampled-kernel coordinates
    * (make_phase_gradient: pix = -(pix_dist) * 2 pi / (n_uv * os)),
    * with pix_dist = offset / cell (small-offset SIN approximation).
    * Shared by the operator and the oracle SQL generator.
    */
  def phaseGradientPix(offset: Double, cell: Double, n: Int, os: Int): Double =
    -(offset / cell) * (2.0 * math.Pi) / (n.toDouble * os)

  /** np.sinc-style normalized sinc. */
  def sinc(x: Double): Double =
    if (x == 0.0) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)

  /** Oversampling-correcting function, one axis (_normalize.py:
    * sinc(arange(-c, n-c) / (n * os)) — EVLA memo 198 sinc correction).
    */
  def sincCorr1D(n: Int, os: Int): Array[Double] =
    Array.tabulate(n)(i => sinc((i - n / 2).toDouble / (n.toDouble * os)))

  /** Gridder input with kernel type and field. */
  final case class MosaicVis(img_chan: Int, pol: Int, u: Double, v: Double,
                             re: Double, im: Double, weight: Double,
                             freq: Double, cf_type: Int, field_id: Int)

  /** Per-field kernel-coordinate phase slopes (pix0, pix1). */
  private def fieldPix(p: GridParams, gcf: Map[Int, Gcf],
                       fieldOffsets: Map[Int, (Double, Double)])
      : Map[Int, (Double, Double)] =
    fieldOffsets.map { case (f, (dl, dm)) =>
      val os = gcf.head._2.oversampling
      f -> ((phaseGradientPix(dl, p.deltaLM._1, p.nU, os),
        phaseGradientPix(dm, p.deltaLM._2, p.nV, os)))
    }

  /** Runs a mosaic kernel over each input partition and merges its
    * partial planes per (img_chan, pol) — the standard gridder's
    * partial/merge shape and merge.
    */
  private def mosaicPlanes(spark: SparkSession, vis: DataFrame)(
      kernel: Iterator[MosaicVis] => Iterator[PartialPlane]): Dataset[PartialPlane] = {
    import spark.implicits._
    vis.select(col("img_chan").cast("int"), col("pol").cast("int"),
        col("u").cast("double"), col("v").cast("double"),
        col("re").cast("double"), col("im").cast("double"),
        col("weight").cast("double"), col("freq").cast("double"),
        col("cf_type").cast("int"), col("field_id").cast("int"))
      .as[MosaicVis]
      .mapPartitions(kernel)
      .groupByKey(pl => (pl.img_chan, pl.pol))
      .reduceGroups(GridOps.mergePlanes _)
      .map(_._2)
  }

  private def gridPartitionMosaic(rows: Iterator[MosaicVis], p: GridParams,
                                  gcf: Map[Int, Gcf],
                                  fieldOffsets: Map[Int, (Double, Double)],
                                  doPsf: Boolean)
      : Iterator[PartialPlane] = {
    val (nU, nV) = (p.nU, p.nV)
    val (cU, cV) = (nU / 2, nV / 2)
    val pix = fieldPix(p, gcf, fieldOffsets)
    val planes = mutable.LinkedHashMap.empty[(Int, Int), PartialPlane]
    for (r <- rows) {
      val kern = gcf.getOrElse(r.cf_type, null)
      if (kern != null) {
        val sc = kern.support / 2
        val os = kern.oversampling
        val u = r.u * (-(r.freq * p.deltaLM._1 * nU) / SpeedOfLight)
        val v = r.v * (-(r.freq * p.deltaLM._2 * nV) / SpeedOfLight)
        if (!u.isNaN && !v.isNaN) {
          val uPos = u + cU; val vPos = v + cV
          val uc = (uPos + 0.5).toInt; val vc = (vPos + 0.5).toInt
          if (uc + sc < nU && vc + sc < nV && uc - sc >= 0 && vc - sc >= 0) {
            val uFrac = math.floor((uc - uPos) * os + 0.5).toInt
            val vFrac = math.floor((vc - vPos) * os + 0.5).toInt
            val (pix0, pix1) = pix.getOrElse(r.field_id, (0.0, 0.0))
            val (wRe, wIm, selW) =
              if (doPsf) (r.weight, 0.0, r.weight)
              else (r.re * r.weight, r.im * r.weight, r.weight)
            if (!(wRe.isNaN || wIm.isNaN) && (wRe != 0.0 || wIm != 0.0)) {
              val plane = planes.getOrElseUpdate((r.img_chan, r.pol),
                PartialPlane(r.img_chan, r.pol, new Array[Double](2 * nU * nV),
                  new Array[Boolean](nU * nV), 0.0))
              // complex tap: k * e^{i(cfU pix0 + cfV pix1)}; complex norm
              var normRe = 0.0; var normIm = 0.0
              var iv = -sc
              while (iv < kern.support - sc) {
                val cfV = os * iv + vFrac
                val kv = kern.cgk(math.abs(cfV))
                var iu = -sc
                while (iu < kern.support - sc) {
                  val cfU = os * iu + uFrac
                  val k = kern.cgk(math.abs(cfU)) * kv
                  val th = cfU * pix0 + cfV * pix1
                  val cRe = k * math.cos(th); val cIm = k * math.sin(th)
                  if (k != 0.0) {
                    val cell = (uc + iu) * nV + (vc + iv)
                    plane.grid(2 * cell) += cRe * wRe - cIm * wIm
                    plane.grid(2 * cell + 1) += cRe * wIm + cIm * wRe
                    plane.touched(cell) = true
                  }
                  normRe += cRe; normIm += cIm
                  iu += 1
                }
                iv += 1
              }
              val swInc =
                if (doPsf) selW * normRe
                else selW * (normRe * normRe - normIm * normIm) // Re(norm^2)
              planes((r.img_chan, r.pol)) =
                plane.copy(sum_weight = plane.sum_weight + swInc)
            }
          }
        }
      }
    }
    planes.valuesIterator
  }

  /** Mosaic gridding: same partial/merge shape as the standard path. */
  def gridPlanesMosaic(spark: SparkSession, vis: DataFrame, p: GridParams,
                       gcf: Map[Int, Gcf],
                       fieldOffsets: Map[Int, (Double, Double)],
                       doPsf: Boolean = false)
      : Dataset[PartialPlane] =
    mosaicPlanes(spark, vis)(rows => gridPartitionMosaic(rows, p, gcf, fieldOffsets, doPsf))

  /** Mosaic image normalizer: the one shifted inverse FFT
    * ([[GridOps.planeIfft]]) -> crop -> divide by sum_weight and the
    * sinc oversampling x PSWF corrections (its own divide, kept apart
    * from GridOps.planePixels so each path keeps its bits).
    */
  private def fftNormalize(spark: SparkSession,
                           planes: Dataset[PartialPlane],
                           p: GridParams, os: Int): DataFrame = {
    import spark.implicits._
    val (nU, nV) = (p.nU, p.nV)
    val (nL, nM) = p.imgSize
    val corrU = GridOps.correcting1D(nU)
    val corrV = GridOps.correcting1D(nV)
    val sincU = sincCorr1D(nU, os)
    val sincV = sincCorr1D(nV, os)
    val (offL, offM) = (nU / 2 - nL / 2, nV / 2 - nM / 2)
    planes.flatMap { pl =>
      val re = GridOps.planeIfft(pl.grid, p)
      val sw = if (pl.sum_weight == 0.0) 1.0 else pl.sum_weight
      for (l <- 0 until nL; m <- 0 until nM) yield {
        val (pl2, pm2) = (l + offL, m + offM)
        val pix = re(pl2 * nV + pm2)
        // (image / sum_weight) / (sinc oversampling correction * PSWF
        // correcting image) — _normalize.py normalize_image with
        // norm_type 'none' (a PB model divide composes on top for
        // flat_noise/flat_sky)
        val corrected = pix / sw /
          ((sincU(pl2) * sincV(pm2)) * (corrU(pl2) * corrV(pm2)))
        (pl.img_chan, pl.pol, l, m, corrected, pl.sum_weight)
      }
    }.toDF("img_chan", "pol", "l_idx", "m_idx", "image", "sum_weight")
  }

  /** make_image_with_gcf (ngcasa/imaging/make_image_with_gcf.py:20-210):
    * mosaic-grid then FFT + sinc/PSWF-corrected normalization.
    */
  def makeImageMosaic(spark: SparkSession, vis: DataFrame, p: GridParams,
                      gcf: Map[Int, Gcf],
                      fieldOffsets: Map[Int, (Double, Double)]): DataFrame =
    fftNormalize(spark, gridPlanesMosaic(spark, vis, p, gcf, fieldOffsets),
      p, gcf.head._2.oversampling)

  /** make_mosaic_pb (ngcasa/imaging/make_mosaic_pb.py:30-160 via
    * _aperture_weight_grid_jit, _aperture_grid.py:181-291): every
    * row's WEIGHT is gridded through its complex gcf kernel STAMPED AT
    * THE GRID CENTER (v_indx = v_center + i_v — the vis position and
    * fractional offset never enter), building the weighted aperture
    * autocorrelation; its FFT / sum_weight is the weight image and
    * PB = sqrt(|weight image|) (make_mosaic_pb.py:123-137).
    * Output: (img_chan, pol, l_idx, m_idx, weight_pb, pb, sum_weight).
    */
  def makeMosaicPb(spark: SparkSession, vis: DataFrame, p: GridParams,
                   gcf: Map[Int, Gcf],
                   fieldOffsets: Map[Int, (Double, Double)]): DataFrame = {
    import spark.implicits._
    val (nU, nV) = (p.nU, p.nV)
    val (nL, nM) = p.imgSize
    val (offL, offM) = (nU / 2 - nL / 2, nV / 2 - nM / 2)
    mosaicPlanes(spark, vis)(rows => pbPartition(rows, p, gcf, fieldOffsets))
      .flatMap { pl =>
        val re = GridOps.planeIfft(pl.grid, p)
        val sw = if (pl.sum_weight == 0.0) 1.0 else pl.sum_weight
        for (l <- 0 until nL; m <- 0 until nM) yield {
          val w = re((l + offL) * nV + (m + offM)) / sw
          (pl.img_chan, pl.pol, l, m, w, math.sqrt(math.abs(w)), pl.sum_weight)
        }
      }.toDF("img_chan", "pol", "l_idx", "m_idx", "weight_pb", "pb", "sum_weight")
  }

  /** The make_mosaic_pb kernel over one input partition: each row's
    * weight through its complex gcf kernel, stamped at the grid centre.
    */
  private def pbPartition(rows: Iterator[MosaicVis], p: GridParams,
                          gcf: Map[Int, Gcf],
                          fieldOffsets: Map[Int, (Double, Double)])
      : Iterator[PartialPlane] = {
    val (nU, nV) = (p.nU, p.nV)
    val (cU, cV) = (nU / 2, nV / 2)
    val pix = fieldPix(p, gcf, fieldOffsets)
    val planes = mutable.LinkedHashMap.empty[(Int, Int), PartialPlane]
    for (r <- rows) {
      val kern = gcf.getOrElse(r.cf_type, null)
      if (kern != null && !r.u.isNaN && !r.v.isNaN &&
        !r.weight.isNaN && r.weight != 0.0) {
        val sc = kern.support / 2
        val os = kern.oversampling
        val (pix0, pix1) = pix.getOrElse(r.field_id, (0.0, 0.0))
        val plane = planes.getOrElseUpdate((r.img_chan, r.pol),
          PartialPlane(r.img_chan, r.pol, new Array[Double](2 * nU * nV),
            new Array[Boolean](nU * nV), 0.0))
        var normRe = 0.0
        var iv = -sc
        while (iv < kern.support - sc) {
          val cfV = os * iv
          val kv = kern.cgk(math.abs(cfV))
          var iu = -sc
          while (iu < kern.support - sc) {
            val cfU = os * iu
            val k = kern.cgk(math.abs(cfU)) * kv
            val th = cfU * pix0 + cfV * pix1
            val cRe = k * math.cos(th); val cIm = k * math.sin(th)
            if (k != 0.0) {
              val cell = (cU + iu) * nV + (cV + iv)
              plane.grid(2 * cell) += cRe * r.weight
              plane.grid(2 * cell + 1) += cIm * r.weight
              plane.touched(cell) = true
            }
            normRe += cRe
            iu += 1
          }
          iv += 1
        }
        planes((r.img_chan, r.pol)) =
          plane.copy(sum_weight = plane.sum_weight + r.weight * normRe)
      }
    }
    planes.valuesIterator
  }

  /** make_psf_with_gcf (ngcasa/imaging/make_psf_with_gcf.py): the
    * mosaic PSF — weights gridded through the same complex kernels
    * (do_psf branch of _aperture_grid_jit: weighted_data = the imaging
    * weight, sum_weight += weight * Re(norm)).
    */
  def makePsfMosaic(spark: SparkSession, vis: DataFrame, p: GridParams,
                    gcf: Map[Int, Gcf],
                    fieldOffsets: Map[Int, (Double, Double)]): DataFrame =
    fftNormalize(spark,
      gridPlanesMosaic(spark, vis, p, gcf, fieldOffsets, doPsf = true),
      p, gcf.head._2.oversampling)
}
