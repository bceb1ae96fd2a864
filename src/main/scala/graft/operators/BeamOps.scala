package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fft

/** Beam / point-spread operators (SURVEY.md §2.8): primary beam (airy
  * disk), synthesized gaussian beam, FFT-convolve smoothing, per-plane
  * gaussian fits, and the single-pixel spectral line fit.
  */
object BeamOps {

  /** Bessel J1 via the Abramowitz & Stegun 9.4.4/9.4.6 polynomial
    * approximations (|err| < 1e-7) — the standard closed form; good
    * far beyond the visual fidelity a primary beam needs.
    */
  def besselJ1(xIn: Double): Double = {
    val ax = math.abs(xIn)
    val res =
      if (ax < 3.0) {
        val y = (xIn / 3.0) * (xIn / 3.0)
        xIn * (0.5 + y * (-0.56249985 + y * (0.21093573 + y * (-0.03954289 +
          y * (0.00443319 + y * (-0.00031761 + y * 0.00001109))))))
      } else {
        val y = 3.0 / ax
        val f1 = 0.79788456 + y * (0.00000156 + y * (0.01659667 + y * (0.00017105 +
          y * (-0.00249511 + y * (0.00113653 + y * (-0.00020033))))))
        val th = ax - 2.35619449 + y * (0.12499612 + y * (0.0000565 +
          y * (-0.00637879 + y * (0.00074348 + y * (0.00079824 + y * (-0.00029166))))))
        math.sqrt(2.0 / (math.Pi * ax)) * f1 * math.cos(th) *
          (if (xIn < 0) -1.0 else 1.0)
      }
    res
  }

  private val j1Udf = udf(besselJ1 _)

  val SpeedOfLight = 299792458.0

  /** make_pb (ngcasa/imaging/make_pb.py:28-123, airy math in
    * _make_pb_symmetric.py:26-74): evaluate the (optionally obscured)
    * airy pattern over the pixel grid per channel:
    *   pb = (2 J1(r)/r)^ipower,  r = sqrt(l^2+m^2) * k * D/2, k = 2 pi f / c
    * center pixel fixed to 1. Input: an image-coordinate table with
    * l, m, chan_freq columns (e.g. ImageOps.makeEmptySkyImage).
    * The J1 evaluation is a scalar UDF — acceptable because the pb
    * table is image-sized (generated), never fact-table-sized.
    */
  def makePb(grid: DataFrame, dishDiameter: Double,
             blockageDiameter: Double = 0.0, ipower: Int = 2,
             outCol: String = "pb"): DataFrame = {
    val k = lit(2.0 * math.Pi) * col("chan_freq") / lit(SpeedOfLight)
    val r0 = sqrt(col("l") * col("l") + col("m") * col("m")) * k *
      lit(dishDiameter / 2.0)
    val r = when(r0 === 0.0, lit(1.0)).otherwise(r0) // avoid 0/0 at center
    val pattern =
      if (blockageDiameter == 0.0) lit(2.0) * j1Udf(r) / r
      else {
        val e = blockageDiameter / dishDiameter
        (lit(2.0) * j1Udf(r) / r - lit(2.0 * e) * j1Udf(r * lit(e)) / r) /
          lit(1.0 - e * e)
      }
    grid.withColumn(outCol,
      when(r0 === 0.0, lit(1.0)).otherwise(pow(pattern, ipower)))
  }

  /** gaussian_beam (cngi/image/gaussian_beam.py:20-66 via
    * cngi/_utils/_beams.py synthesizedbeam): elliptical gaussian over
    * pixel offsets — pure column expression.
    * d1/d2 in arcsec, theta in degrees, cell in rad (reference units).
    */
  def gaussianBeam(grid: DataFrame, d1: Double, d2: Double, theta: Double,
                   cell: (Double, Double), nX: Int, nY: Int,
                   outCol: String = "beam"): DataFrame = {
    val incrX = math.abs(cell._1) * 180 / math.Pi * 3600
    val incrY = math.abs(cell._2) * 180 / math.Pi * 3600
    val dc1 = d1 / incrX; val dc2 = d2 / incrY
    val t = theta * math.Pi / 180
    val ln2x4 = 4 * math.log(2)
    val alpha = ln2x4 * (math.pow(math.cos(t), 2) / (dc1 * dc1) +
      math.pow(math.sin(t), 2) / (dc2 * dc2))
    val beta = 2 * ln2x4 * (1 / (dc1 * dc1) - 1 / (dc2 * dc2)) *
      math.sin(t) * math.cos(t)
    val gamma = ln2x4 * (math.pow(math.sin(t), 2) / (dc1 * dc1) +
      math.pow(math.cos(t), 2) / (dc2 * dc2))
    val x = col("l_idx") - lit(nX / 2)
    val y = col("m_idx") - lit(nY / 2)
    grid.withColumn(outCol,
      exp(-(lit(alpha) * x * x + lit(beta) * x * y + lit(gamma) * y * y)))
  }

  /** Circular convolution of two real row-major nL x nM planes:
    * fftshift(ifft2(fft2(a) * fft2(b))) with numpy's 1/N inverse
    * normalization (our inverse is unnormalized), as (re, im). Consumes
    * both inputs.
    */
  private def fftConvolve(a: Array[Double], b: Array[Double], nL: Int, nM: Int)
      : (Array[Double], Array[Double]) = {
    val n = nL * nM
    val aIm = new Array[Double](n); val bIm = new Array[Double](n)
    Fft.fft2(a, aIm, nL, nM, invert = false)
    Fft.fft2(b, bIm, nL, nM, invert = false)
    var i = 0
    while (i < n) {
      val re = a(i) * b(i) - aIm(i) * bIm(i)
      val im = a(i) * bIm(i) + aIm(i) * b(i)
      a(i) = re; aIm(i) = im
      i += 1
    }
    Fft.fft2(a, aIm, nL, nM, invert = true)
    (Fft.fftshift2(a, nL, nM).map(_ / n), Fft.fftshift2(aIm, nL, nM).map(_ / n))
  }

  /** smooth (cngi/image/smooth.py:96-108): per-plane FFT convolution of
    * the image with a kernel plane, |ifft2(fft2(image)*fft2(kernel))|,
    * fftshifted. Long-form planes in (the one gather,
    * GridOps.densePlanes), long-form smoothed image out.
    */
  def smooth(spark: SparkSession, image: DataFrame, kernel: DataFrame,
             nL: Int, nM: Int, valueCol: String = "image",
             kernelCol: String = "beam"): DataFrame = {
    import spark.implicits._
    GridOps.densePlanes(Seq((image, col(valueCol), (nL, nM)),
        (kernel, col(kernelCol), (nL, nM)))) { (chan, pol, planes) =>
      val (re, im) = fftConvolve(planes(0), planes(1), nL, nM)
      (0 until nL).iterator.flatMap(l => (0 until nM).iterator.map { m =>
        (chan, pol, l, m, math.hypot(re(l * nM + m), im(l * nM + m)))
      })
    }.toDF("img_chan", "pol", "l_idx", "m_idx", "smoothed")
  }

  /** feather (beyond-parity — ngcasa/imaging/feather.py is a
    * NotImplementedError stub): combine a single-dish image (trusted
    * at low spatial frequency) with an interferometer image (trusted
    * at high) in Fourier space,
    *   F_comb = W * s * F_sd + (1 - W) * F_int,
    * where W is the transform of the UNIT-SUM single-dish beam (so
    * W(0,0) = 1) and s the flux scale — the standard feathering
    * weighting (Stanimirovic et al.). Implemented in image space via
    * the exact identity  comb = int + B (x) (s*sd - int)  with B the
    * normalized beam and (x) the circular convolution [[smooth]] uses —
    * one FFT multiply per plane, same per-plane parallelism as smooth:
    * planes are the distribution unit, a 100 TB cube feathers
    * plane-parallel with no cross-plane traffic.
    */
  def feather(spark: SparkSession, imgInt: DataFrame, imgSd: DataFrame,
              sdBeam: DataFrame, nL: Int, nM: Int,
              fluxScale: Double = 1.0): DataFrame = {
    import spark.implicits._
    GridOps.densePlanes(Seq((imgInt, col("image"), (nL, nM)),
        (imgSd, col("image").cast("double") * fluxScale, (nL, nM)),
        (sdBeam, col("beam"), (nL, nM)))) { (chan, pol, planes) =>
      val Array(intI, dRe, bRe) = planes
      var bSum = 0.0
      var i = 0
      while (i < nL * nM) { bSum += bRe(i); i += 1 }
      val bn = if (bSum == 0.0) 1.0 else bSum
      i = 0
      while (i < nL * nM) { bRe(i) /= bn; dRe(i) -= intI(i); i += 1 }
      val (outRe, _) = fftConvolve(dRe, bRe, nL, nM)
      (0 until nL).iterator.flatMap(l => (0 until nM).iterator.map { m =>
        val idx = l * nM + m
        (chan, pol, l, m, intI(idx) + outRe(idx))
      })
    }.toDF("img_chan", "pol", "l_idx", "m_idx", "feathered")
  }

  /** fit_gaussian (cngi/image/fit_gaussian.py:25-234): fit the
    * synthesized-beam gaussian parameters to each plane's central
    * window via moment estimates of the quadratic form — per-plane
    * mapGroups, emitting (d1_pix, d2_pix, theta_rad) per plane.
    * (Moment method instead of the reference's curvefit: exact when
    * the data IS a gaussian — the PSF-beam use case.)
    */
  def fitGaussianBeam(spark: SparkSession, image: DataFrame, nL: Int, nM: Int,
                      window: Int = 9): DataFrame = {
    import spark.implicits._
    image.select(col("img_chan").cast("int"), col("pol").cast("int"),
        col("l_idx").cast("int"), col("m_idx").cast("int"),
        col("image").cast("double"))
      .as[(Int, Int, Int, Int, Double)]
      .groupByKey(r => (r._1, r._2)).mapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Int, Double)]) =>
        val (chan, pol) = key
        val h = window / 2
        val (cL, cM) = (nL / 2, nM / 2)
        // quadratic-form moments of ln(v) over the positive window:
        // ln v = ln A - (a x^2 + b xy + c y^2) — solve by least squares
        var sxx, sxy, syy, sx4, sx3y, sx2y2, sxy3, sy4, bx, by, bxy = 0.0
        var s1, sx2, sy2, slnv, sxlnv = 0.0
        val pts = it.filter { case (_, _, l, m, v) =>
          math.abs(l - cL) <= h && math.abs(m - cM) <= h && v > 1e-12
        }.toSeq
        // LSQ for ln v = c0 + c1 x^2 + c2 xy + c3 y^2 (4 unknowns)
        val n = pts.length
        val a = Array.ofDim[Double](4, 4); val rhs = new Array[Double](4)
        for ((_, _, l, m, v) <- pts) {
          val x = (l - cL).toDouble; val y = (m - cM).toDouble
          val f = Array(1.0, x * x, x * y, y * y)
          val lv = math.log(v)
          for (i <- 0 until 4; j <- 0 until 4) a(i)(j) += f(i) * f(j)
          for (i <- 0 until 4) rhs(i) += f(i) * lv
        }
        val sol = RegressionOps.solveNormalMat(a, rhs)
        val (al, be, ga) = sol.map(s => (-s(1), -s(2), -s(3)))
          .getOrElse((Double.NaN, Double.NaN, Double.NaN))
        // invert synthesizedbeam's (alpha, beta, gamma) -> (d1, d2, theta)
        val ln2x4 = 4 * math.log(2)
        val tr = al + ga
        val det = math.sqrt((al - ga) * (al - ga) + be * be)
        val d1 = math.sqrt(2 * ln2x4 / (tr - det))
        val d2 = math.sqrt(2 * ln2x4 / (tr + det))
        val theta = 0.5 * math.atan2(be, al - ga)
        (chan, pol, d1, d2, theta, n)
      }.toDF("img_chan", "pol", "d1_pix", "d2_pix", "theta_rad", "n_points")
  }

  /** fit_gaussian_rl (cngi/image/fit_gaussian_rl.py:24-157): per-plane
    * elliptical fit of the `cutoff` contour of a beam/PSF image —
    * window around the image center (rm_fit:108-112), oversample the
    * window, select the contour band |v - cutoff| < sensitivity
    * (rm_fit:128), mean-center the band points (:129-132), fit a conic,
    * and convert to ellipse axes + position angle with the reference's
    * formulas (ellipse_center/_angle_of_rotation/_axis_length, scaling
    * and east-of-north angle at rm_fit:144-151).
    *
    * Documented divergences: Catmull-Rom bicubic oversampling instead
    * of scipy splinef2d (same h^4 accuracy class, deterministic,
    * engine-mirrorable without scipy — plain bilinear biases a convex
    * contour ~5% inward, measured on the synthesized beam); the conic
    * is fit with the f = -1 normalization by plain least squares
    * instead of the generalized-eigen constraint 4ac - b^2 = 1 — the
    * center/axes/angle formulas are invariant to conic scaling, and
    * for a closed well-sampled contour both recover the same ellipse.
    * Coordinates are scaled by 1/32 (exact in binary) before the
    * normal equations for conditioning.
    */
  /** 1-D Catmull-Rom cubic between p1 and p2 at fraction t — the op
    * order here is mirrored verbatim by the SQL oracle.
    */
  def catmullRom(p0: Double, p1: Double, p2: Double, p3: Double,
                 t: Double): Double = {
    val t2 = t * t
    val t3 = t2 * t
    0.5 * ((2.0 * p1 + (p2 - p0) * t) +
      (((2.0 * p0 - 5.0 * p1 + 4.0 * p2 - p3) * t2) +
        ((-p0 + 3.0 * p1 - 3.0 * p2 + p3) * t3)))
  }

  def fitGaussianRl(spark: SparkSession, image: DataFrame, nL: Int, nM: Int,
                    npixWindow: (Int, Int) = (21, 21),
                    sampling: (Int, Int) = (401, 401),
                    cutoff: Double = 0.5, sensitivity: Double = 0.003,
                    delta: (Double, Double) = (1.0, 1.0)): DataFrame = {
    import spark.implicits._
    val (npL, npM) = npixWindow
    val (saL, saM) = sampling
    val (dL, dM) = (math.abs(delta._1), math.abs(delta._2))
    image.select(col("img_chan").cast("int"), col("pol").cast("int"),
        col("l_idx").cast("int"), col("m_idx").cast("int"),
        col("image").cast("double"))
      .as[(Int, Int, Int, Int, Double)]
      .groupByKey(r => (r._1, r._2)).mapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Int, Double)]) =>
        val (chan, pol) = key
        val (startL, startM) = (nL / 2 - npL / 2, nM / 2 - npM / 2)
        val w = Array.ofDim[Double](npL, npM)
        for ((_, _, l, m, v) <- it) {
          val (i, j) = (l - startL, m - startM)
          if (i >= 0 && i < npL && j >= 0 && j < npM) w(i)(j) = v
        }
        val stepL = (npL - 1).toDouble / (saL - 1).toDouble
        val stepM = (npM - 1).toDouble / (saM - 1).toDouble
        val pxs = Array.newBuilder[Double]; val pys = Array.newBuilder[Double]
        var si = 0
        while (si < saL) {
          val tL = si * stepL
          var i0 = math.floor(tL).toInt; if (i0 > npL - 2) i0 = npL - 2
          val fx = tL - i0
          var sj = 0
          while (sj < saM) {
            val tM = sj * stepM
            var j0 = math.floor(tM).toInt; if (j0 > npM - 2) j0 = npM - 2
            val fy = tM - j0
            // separable Catmull-Rom: 4 row interpolations along m,
            // then one along l (clamped taps at the window edge)
            def cl(i: Int, n: Int): Int =
              if (i < 0) 0 else if (i > n - 1) n - 1 else i
            def row(di: Int): Double = {
              val wi = w(cl(i0 + di, npL))
              catmullRom(wi(cl(j0 - 1, npM)), wi(cl(j0, npM)),
                wi(cl(j0 + 1, npM)), wi(cl(j0 + 2, npM)), fy)
            }
            val v = catmullRom(row(-1), row(0), row(1), row(2), fx)
            if (math.abs(v - cutoff) < sensitivity) {
              pxs += si.toDouble; pys += sj.toDouble
            }
            sj += 1
          }
          si += 1
        }
        val xa = pxs.result(); val ya = pys.result()
        val n = xa.length
        val fit =
          if (n < 5) None
          else {
            var sx = 0.0; var sy = 0.0
            var k = 0
            while (k < n) { sx += xa(k); sy += ya(k); k += 1 }
            val (xm, ym) = (sx / n, sy / n)
            val mM = Array.ofDim[Double](5, 5); val r = new Array[Double](5)
            k = 0
            while (k < n) {
              val x = (xa(k) - xm) / 32.0; val y = (ya(k) - ym) / 32.0
              val f = Array(x * x, x * y, y * y, x, y)
              for (i <- 0 until 5; j <- 0 until 5) mM(i)(j) += f(i) * f(j)
              for (i <- 0 until 5) r(i) += f(i)
              k += 1
            }
            RegressionOps.solveNormalMat(mM, r)
          }
        fit match {
          case Some(cs) =>
            // reference parametrization: a x^2 + 2b xy + c y^2 + 2d x
            // + 2f y + g = 0 (here g = -1 from the LSQ normalization)
            val a0 = cs(0); val b0 = cs(1) / 2; val c0 = cs(2)
            val d0 = cs(3) / 2; val f0 = cs(4) / 2; val g0 = -1.0
            val phi0 =
              if (b0 == 0.0) { if (a0 > c0) 0.0 else math.Pi / 2 }
              else if (a0 < c0) math.atan(2 * b0 / (a0 - c0)) / 2
              else math.Pi / 2 + math.atan(2 * b0 / (a0 - c0)) / 2
            val up = 2 * (a0 * f0 * f0 + c0 * d0 * d0 + g0 * b0 * b0 -
              2 * b0 * d0 * f0 - a0 * c0 * g0)
            val disc = math.sqrt((a0 - c0) * (a0 - c0) + 4 * b0 * b0)
            val down1 = (b0 * b0 - a0 * c0) * (disc - (a0 + c0))
            val down2 = (b0 * b0 - a0 * c0) * (-disc - (a0 + c0))
            // x32: undo the conditioning scale (sample-index units)
            val res1 = math.sqrt(up / down1) * 32.0
            val res2 = math.sqrt(up / down2) * 32.0
            var phiDeg = math.toDegrees(phi0) - 90.0
            if (phiDeg < -90.0) phiDeg += 180.0
            val major = res1 / (saL - 1) * (npL - 1) * dL * 2
            val minor = res2 / (saM - 1) * (npM - 1) * dM * 2
            (chan, pol, major, minor, phiDeg, n)
          case None => (chan, pol, Double.NaN, Double.NaN, Double.NaN, n)
        }
      }.toDF("img_chan", "pol", "major", "minor", "phi_deg", "n_points")
  }

  /** spec_fit (cngi/image/spec_fit.py:22-67): 1-D gaussian fit to one
    * pixel's spectrum. The spectrum is dimension-sized, so collect +
    * local Gauss-Newton on the driver is the idiomatic shape (the
    * reference also runs scipy on the driver).
    */
  def specFit(spectrum: Array[(Double, Double)], maxIter: Int = 200)
      : (Double, Double, Double) = {
    require(spectrum.nonEmpty,
      "specFit needs a non-empty spectrum (0 channels collected)")
    val xs = spectrum.map(_._1); val ys = spectrum.map(_._2)
    var amp = ys.max
    var cen = xs(ys.indexOf(ys.max))
    var sig = (xs.max - xs.min) / 6.0
    var it = 0
    while (it < maxIter) {
      // Gauss-Newton on residual r = y - A exp(-(x-c)^2 / (2 s^2))
      val jtj = Array.ofDim[Double](3, 3); val jtr = new Array[Double](3)
      for (((x, y)) <- spectrum) {
        val e = math.exp(-0.5 * math.pow((x - cen) / sig, 2))
        val f = amp * e
        val r = y - f
        val j = Array(e, f * (x - cen) / (sig * sig),
          f * (x - cen) * (x - cen) / (sig * sig * sig))
        for (i <- 0 until 3; k <- 0 until 3) jtj(i)(k) += j(i) * j(k)
        for (i <- 0 until 3) jtr(i) += j(i) * r
      }
      for (i <- 0 until 3) jtj(i)(i) *= 1.0 + 1e-9 // tiny LM damping
      RegressionOps.solveNormalMat(jtj, jtr) match {
        case Some(d) =>
          amp += d(0); cen += d(1); sig += d(2)
          if (math.abs(d(0)) + math.abs(d(1)) + math.abs(d(2)) < 1e-12)
            it = maxIter
        case None => it = maxIter
      }
      it += 1
    }
    (amp, cen, math.abs(sig))
  }
}
