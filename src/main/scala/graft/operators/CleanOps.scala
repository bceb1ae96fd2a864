package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fft

/** deconvolve_point_clean (ngcasa/deconvolution/
  * deconvolve_point_clean.py:30-332): Hogbom CLEAN — per (chan, pol)
  * plane, repeatedly find the absolute peak of the residual, add
  * gain*peak to the model at that pixel, subtract gain*shifted-PSF
  * from the residual, until |peak| <= threshold*|initial peak| or
  * niter (mirrors _clean_jit:175-237, including the
  * threshold-relative-to-initial-peak semantics).
  *
  * Spark shape: planes are co-grouped by (img_chan, pol) and the
  * iterative kernel runs inside one task per plane (the reference
  * holds the full (l,m) plane per task too — SURVEY.md §3.3). Image
  * and PSF arrive in long form and are densified per group.
  */
object CleanOps {

  final case class CleanResult(img_chan: Int, pol: Int, l_idx: Int, m_idx: Int,
                               model: Double, residual: Double)

  /** Local Hogbom loop over dense planes (row-major nL x nM). */
  private[graft] def hogbom(residual: Array[Double], psf: Array[Double],
                            nL: Int, nM: Int, psfL: Int, psfM: Int,
                            gain: Double, threshold: Double, niter: Int)
      : Array[Double] = {
    val model = new Array[Double](residual.length)
    val (pcL, pcM) = (psfL / 2, psfM / 2)
    def peak(): (Int, Double) = {
      var best = 0; var bestAbs = -1.0
      var i = 0
      while (i < residual.length) {
        val a = math.abs(residual(i))
        if (a > bestAbs) { bestAbs = a; best = i }
        i += 1
      }
      (best, residual(best))
    }
    var (pPos, pVal) = peak()
    if (pVal.isNaN || pVal == 0.0) return model
    val scaledThreshold = threshold * math.abs(pVal)
    var i = 0
    while (math.abs(pVal) > scaledThreshold && i < niter) {
      val (pl, pm) = (pPos / nM, pPos % nM)
      model(pPos) += gain * pVal
      // subtract the psf centered at the peak, clipped to the plane
      val l0 = math.max(pl - pcL, 0); val l1 = math.min(pl + (psfL - pcL), nL)
      val m0 = math.max(pm - pcM, 0); val m1 = math.min(pm + (psfM - pcM), nM)
      var l = l0
      while (l < l1) {
        val psfRow = (pcL + (l - pl)) * psfM
        var m = m0
        while (m < m1) {
          residual(l * nM + m) -= gain * pVal * psf(psfRow + (pcM + (m - pm)))
          m += 1
        }
        l += 1
      }
      val p = peak(); pPos = p._1; pVal = p._2
      if (pVal.isNaN || pVal == 0.0) i = niter
      i += 1
    }
    model
  }

  /** Distributed CLEAN: long-form image + psf (img_chan, pol, l_idx,
    * m_idx, image) -> long-form (model, residual). Both frames pass
    * through the one gather (GridOps.densePlanes) into dense nL x nM
    * and psfL x psfM planes; a plane either frame lacks is all zero.
    *
    * NOTE the PSF the reference subtracts is NORMALIZED to unit peak
    * (make_psf output); pass it that way.
    */
  def cleanPlanes(spark: SparkSession, image: DataFrame, psf: DataFrame,
                  nL: Int, nM: Int, psfL: Int, psfM: Int,
                  gain: Double = 0.1, threshold: Double = 0.01,
                  niter: Int = 1000): DataFrame =
    cleanEach(spark, image, psf, nL, nM, psfL, psfM) { (res, psfA) =>
      (hogbom(res, psfA, nL, nM, psfL, psfM, gain, threshold, niter), res)
    }

  /** The co-grouped per-(chan, pol) shape of every CLEAN here: long-form
    * image + psf gathered into dense planes (GridOps.densePlanes),
    * `clean(residual, psf)` -> (model, residual) one plane at a time,
    * long-form CleanResult rows out.
    */
  private def cleanEach(spark: SparkSession, image: DataFrame, psf: DataFrame,
                        nL: Int, nM: Int, psfL: Int, psfM: Int)(
      clean: (Array[Double], Array[Double]) => (Array[Double], Array[Double]))
      : DataFrame = {
    import spark.implicits._
    GridOps.densePlanes(Seq((image, col("image"), (nL, nM)),
        (psf, col("image"), (psfL, psfM)))) { (chan, pol, planes) =>
      val (model, res) = clean(planes(0), planes(1))
      (0 until nL).iterator.flatMap(l => (0 until nM).iterator.map(m =>
        CleanResult(chan, pol, l, m, model(l * nM + m), res(l * nM + m))))
    }.toDF()
  }

  /** Multi-scale CLEAN scale function (deconvolve_multiterm_clean.py's
    * "inverted tapered paraboloid" basis, Cornwell 2008 MS-CLEAN):
    * m_a(r) = 1 - (r/a)^2 truncated at r = a, normalized to unit sum;
    * scale 0 is the delta function (point-source CLEAN).
    * Returns (row-major (2a+1)^2 taps, width).
    */
  private[graft] def scaleKernel(a: Int): (Array[Double], Int) = {
    if (a == 0) (Array(1.0), 1)
    else {
      val n = 2 * a + 1
      val raw = Array.tabulate(n * n) { idx =>
        val di = idx / n - a; val dj = idx % n - a
        val r2 = (di * di + dj * dj).toDouble / (a * a)
        if (r2 <= 1.0) 1.0 - r2 else 0.0
      }
      val s = raw.sum
      (raw.map(_ / s), n)
    }
  }

  /** Zero-padded 2-D convolution of an (nL x nM) plane with a (w x w)
    * kernel, same-size output: out(p) = sum_q in(q) k(p - q + c).
    */
  private[graft] def conv2(in: Array[Double], nL: Int, nM: Int,
                           k: Array[Double], w: Int): Array[Double] = {
    val c = w / 2
    val out = new Array[Double](nL * nM)
    var l = 0
    while (l < nL) {
      var m = 0
      while (m < nM) {
        var acc = 0.0
        var di = -c
        while (di <= c) {
          val ql = l - di
          if (ql >= 0 && ql < nL) {
            var dj = -c
            while (dj <= c) {
              val qm = m - dj
              if (qm >= 0 && qm < nM)
                acc += in(ql * nM + qm) * k((di + c) * w + (dj + c))
              dj += 1
            }
          }
          di += 1
        }
        out(l * nM + m) = acc
        m += 1
      }
      l += 1
    }
    out
  }

  /** Local MS-CLEAN loop (Cornwell 2008; the deconvolve_multiterm_clean
    * stub's nterms=1 "MS-Clean" option). Maintains one smoothed
    * residual per scale; each iteration picks the bias-weighted peak
    * across (scale, pixel), adds the scale function to the model, and
    * subtracts coeff * (psf (x) s_best (x) s) from every smoothed
    * residual. scales must start with 0 so rs(0) IS the plain residual.
    * Returns (model, residual).
    */
  private[graft] def msClean(residual: Array[Double], psf: Array[Double],
                             nL: Int, nM: Int, psfL: Int, psfM: Int,
                             scales: Seq[Int], gain: Double,
                             threshold: Double, niter: Int,
                             smallScaleBias: Double)
      : (Array[Double], Array[Double]) = {
    require(scales.headOption.contains(0), "scales must start with 0")
    val nS = scales.length
    val maxScale = scales.max.max(1)
    val bias = scales.map(a => 1.0 - smallScaleBias * a.toDouble / maxScale).toArray
    val kernels = scales.map(scaleKernel).toArray
    // smoothed residuals r_s = residual (x) k_s  (scale 0 = identity)
    val rs = kernels.map { case (k, w) => conv2(residual, nL, nM, k, w) }
    // psfS_s = psf (x) k_s; cross(s, s') = psf (x) k_s (x) k_s'
    val psfS = kernels.map { case (k, w) => conv2(psf, psfL, psfM, k, w) }
    val cross = Array.tabulate(nS, nS)((s1, s2) =>
      conv2(psfS(s1), psfL, psfM, kernels(s2)._1, kernels(s2)._2))
    val (pcL, pcM) = (psfL / 2, psfM / 2)
    // norm_s = (psf (x) k_s (x) k_s)(center) — the component-amplitude
    // scaling between the smoothed-residual peak and the model coeff
    val norm = Array.tabulate(nS)(s => cross(s)(s)(pcL * psfM + pcM))
    val model = new Array[Double](nL * nM)
    def peak(): (Int, Int, Double) = {
      var bs = 0; var bp = 0; var bv = -1.0
      var s = 0
      while (s < nS) {
        val r = rs(s); var p = 0
        while (p < r.length) {
          val a = math.abs(r(p)) * bias(s)
          if (a > bv) { bv = a; bs = s; bp = p }
          p += 1
        }
        s += 1
      }
      (bs, bp, bv)
    }
    var (s0, p0, v0) = peak()
    if (v0 <= 0.0 || v0.isNaN) return (model, rs(0))
    val stop = threshold * v0
    var it = 0
    var done = false
    while (!done && it < niter) {
      val coeff = gain * rs(s0)(p0) / norm(s0)
      val (pl, pm) = (p0 / nM, p0 % nM)
      // model += coeff * k_best centered at the peak
      val (kb, wb) = kernels(s0); val cb = wb / 2
      var di = -cb
      while (di <= cb) {
        val l = pl + di
        if (l >= 0 && l < nL) {
          var dj = -cb
          while (dj <= cb) {
            val m = pm + dj
            if (m >= 0 && m < nM)
              model(l * nM + m) += coeff * kb((di + cb) * wb + (dj + cb))
            dj += 1
          }
        }
        di += 1
      }
      // every smoothed residual loses coeff * cross(best, s) at the peak
      var s = 0
      while (s < nS) {
        val x = cross(s0)(s); val r = rs(s)
        val l0 = math.max(pl - pcL, 0); val l1 = math.min(pl + (psfL - pcL), nL)
        var l = l0
        while (l < l1) {
          val xRow = (pcL + (l - pl)) * psfM
          var m = math.max(pm - pcM, 0)
          val m1 = math.min(pm + (psfM - pcM), nM)
          while (m < m1) {
            r(l * nM + m) -= coeff * x(xRow + (pcM + (m - pm)))
            m += 1
          }
          l += 1
        }
        s += 1
      }
      val nxt = peak(); s0 = nxt._1; p0 = nxt._2; v0 = nxt._3
      if (v0 <= stop || v0.isNaN || v0 == 0.0) done = true
      it += 1
    }
    (model, rs(0))
  }

  /** Distributed MS-CLEAN over long-form planes — the same co-grouped
    * per-(chan, pol) shape as [[cleanPlanes]]; scales/bias per
    * deconvolve_multiterm_clean's MS-Clean option.
    */
  def msCleanPlanes(spark: SparkSession, image: DataFrame, psf: DataFrame,
                    nL: Int, nM: Int, psfL: Int, psfM: Int,
                    scales: Seq[Int], gain: Double = 0.1,
                    threshold: Double = 0.01, niter: Int = 1000,
                    smallScaleBias: Double = 0.6): DataFrame =
    cleanEach(spark, image, psf, nL, nM, psfL, psfM) { (res, psfA) =>
      msClean(res, psfA, nL, nM, psfL, psfM, scales, gain, threshold, niter,
        smallScaleBias)
    }

  /** deconvolve_fast_resolve (ngcasa/deconvolution/
    * deconvolve_fast_resolve.py — a NotImplementedError stub; docstring:
    * "a Bayesian model from an observed image(set) and psf(set) ...
    * constraints on the flux distribution", output "Cube model image,
    * Error map"): the quadratic-prior MAP estimate, i.e. Wiener
    * deconvolution — per plane, per Fourier mode k,
    *   M(k) = conj(P(k)) I(k) / (|P(k)|^2 + lambda),
    * model = fftshift(ifft2(M)), with the stationary posterior variance
    *   error = (1/N) sum_k lambda / (|P(k)|^2 + lambda)
    * as the (per-plane constant) error map. lambda is the prior
    * precision: lambda -> 0 recovers naive inverse filtering,
    * lambda -> inf shrinks the model to zero.
    *
    * Same per-(chan, pol) co-grouped plane shape as [[cleanPlanes]]:
    * one task per plane, shuffle volume = plane bytes.
    */
  def fastResolve(spark: SparkSession, image: DataFrame, psf: DataFrame,
                  nL: Int, nM: Int, lambda: Double): DataFrame = {
    import spark.implicits._
    GridOps.densePlanes(Seq((image, col("image"), (nL, nM)),
        (psf, col("image"), (nL, nM)))) { (chan, pol, planes) =>
      val n = nL * nM
      val Array(imgRe, psfRe) = planes
      val imgIm = new Array[Double](n); val psfIm = new Array[Double](n)
      Fft.fft2(imgRe, imgIm, nL, nM, invert = false)
      Fft.fft2(psfRe, psfIm, nL, nM, invert = false)
      var errAcc = 0.0
      var i = 0
      while (i < n) {
        val p2 = psfRe(i) * psfRe(i) + psfIm(i) * psfIm(i)
        val den = p2 + lambda
        // conj(P) * I / den
        val re = (psfRe(i) * imgRe(i) + psfIm(i) * imgIm(i)) / den
        val im = (psfRe(i) * imgIm(i) - psfIm(i) * imgRe(i)) / den
        imgRe(i) = re; imgIm(i) = im
        errAcc += lambda / den
        i += 1
      }
      val error = errAcc / n
      Fft.fft2(imgRe, imgIm, nL, nM, invert = true)
      val outRe = Fft.fftshift2(imgRe, nL, nM)
      (0 until nL).iterator.flatMap(l => (0 until nM).iterator.map { m =>
        val idx = l * nM + m
        // model = Re(ifft) — for a real image+psf the spectrum is
        // Hermitian so Im is rounding noise, and a quadratic-prior
        // MAP estimate legitimately goes negative (sidelobe
        // ringing); taking a magnitude here would silently fold
        // those regions positive
        (chan, pol, l, m, outRe(idx) / n, error)
      })
    }.toDF("img_chan", "pol", "l_idx", "m_idx", "model", "error")
  }

  /** deconvolve_adaptive_scale_pixel_clean (ngcasa/deconvolution/
    * deconvolve_adaptive_scale_pixel_clean.py — a NotImplementedError
    * stub; Asp-CLEAN, Bhatnagar & Cornwell 2004): each component is a
    * gaussian whose scale ADAPTS per component — at the residual peak,
    * every candidate width is scored by the energy it explains,
    * score(sigma) = <R, G_sigma>^2 / <G_sigma, G_sigma> over the
    * in-plane patch (|d| <= ceil(3 sigma) per axis), the best-fit
    * amplitude is a = <R, G_sigma> / <G_sigma, G_sigma>, and
    * `refineIters` ternary-search steps optionally continue the scale
    * optimization BETWEEN the grid points (the truly-adaptive part;
    * disabled in the oracle query, exercised in ScalaTest).
    * Update: model += gain a G, residual -= gain a (psf (x) G).
    */
  private[graft] def aspClean(residual: Array[Double], psf: Array[Double],
                              nL: Int, nM: Int, psfL: Int, psfM: Int,
                              sigmas: Seq[Double], gain: Double,
                              threshold: Double, niter: Int,
                              refineIters: Int = 0)
      : (Array[Double], Array[Double]) = {
    val model = new Array[Double](nL * nM)
    val (pcL, pcM) = (psfL / 2, psfM / 2)
    def peak(): (Int, Double) = {
      var bp = 0; var bv = -1.0
      var i = 0
      while (i < residual.length) {
        val a = math.abs(residual(i))
        if (a > bv) { bv = a; bp = i }
        i += 1
      }
      (bp, bv)
    }
    // (amplitude, score) of a gaussian of width sigma at pixel p
    def fit(p: Int, sigma: Double): (Double, Double) = {
      val (pl, pm) = (p / nM, p % nM)
      val r = math.ceil(3.0 * sigma).toInt
      val inv2s2 = 1.0 / (2.0 * sigma * sigma)
      var s1 = 0.0; var s2 = 0.0
      var di = -r
      while (di <= r) {
        val l = pl + di
        if (l >= 0 && l < nL) {
          var dj = -r
          while (dj <= r) {
            val m = pm + dj
            if (m >= 0 && m < nM) {
              val g = math.exp(-(di * di + dj * dj) * inv2s2)
              s1 += residual(l * nM + m) * g
              s2 += g * g
            }
            dj += 1
          }
        }
        di += 1
      }
      (s1 / s2, s1 * s1 / s2)
    }
    var (p0, v0) = peak()
    if (v0 <= 0.0 || v0.isNaN) return (model, residual)
    val stop = threshold * v0
    var it = 0
    var done = false
    while (!done && it < niter) {
      var bestSigma = sigmas.head; var bestAmp = 0.0; var bestScore = -1.0
      for (s <- sigmas) {
        val (a, sc) = fit(p0, s)
        if (sc > bestScore) { bestScore = sc; bestSigma = s; bestAmp = a }
      }
      // ternary search between the grid neighbors of the winner. The
      // bracket never leaves the configured grid span upward: an
      // edge-winning largest sigma refines within its LAST grid
      // interval rather than doubling, so the kernel's support radius
      // is bounded by ceil(3 * max(sigmas)) by construction — the
      // distributed tap cost (and the SQL oracle's tap series) stays
      // provably bounded no matter what the data does.
      if (refineIters > 0) {
        val i = sigmas.indexOf(bestSigma)
        var lo = if (i > 0) sigmas(i - 1) else bestSigma * 0.5
        var hi = if (i < sigmas.length - 1) sigmas(i + 1) else bestSigma
        var k = 0
        while (k < refineIters) {
          val m1 = lo + (hi - lo) / 3.0; val m2 = hi - (hi - lo) / 3.0
          if (fit(p0, m1)._2 < fit(p0, m2)._2) lo = m1 else hi = m2
          k += 1
        }
        bestSigma = (lo + hi) / 2.0; val r = fit(p0, bestSigma)
        bestAmp = r._1; bestScore = r._2
      }
      val (pl, pm) = (p0 / nM, p0 % nM)
      val r = math.ceil(3.0 * bestSigma).toInt
      val inv2s2 = 1.0 / (2.0 * bestSigma * bestSigma)
      // model += gain a G
      var di = -r
      while (di <= r) {
        val l = pl + di
        if (l >= 0 && l < nL) {
          var dj = -r
          while (dj <= r) {
            val m = pm + dj
            if (m >= 0 && m < nM)
              model(l * nM + m) +=
                gain * bestAmp * math.exp(-(di * di + dj * dj) * inv2s2)
            dj += 1
          }
        }
        di += 1
      }
      // residual -= gain a (psf (x) G) centered at the peak:
      // for each plane pixel q, subtract sum_d G(d) psf(pc + q - p0 - d)
      var l = 0
      while (l < nL) {
        var m = 0
        while (m < nM) {
          var acc = 0.0
          var gi = -r
          while (gi <= r) {
            val sl = pcL + (l - pl) - gi
            if (sl >= 0 && sl < psfL) {
              var gj = -r
              while (gj <= r) {
                val sm = pcM + (m - pm) - gj
                if (sm >= 0 && sm < psfM)
                  acc += math.exp(-(gi * gi + gj * gj) * inv2s2) *
                    psf(sl * psfM + sm)
                gj += 1
              }
            }
            gi += 1
          }
          residual(l * nM + m) -= gain * bestAmp * acc
          m += 1
        }
        l += 1
      }
      val nxt = peak(); p0 = nxt._1; v0 = nxt._2
      if (v0 <= stop || v0 == 0.0 || v0.isNaN) done = true
      it += 1
    }
    (model, residual)
  }

  /** Distributed Asp-CLEAN over long-form planes — same co-grouped
    * per-(chan, pol) shape as [[cleanPlanes]].
    */
  def aspCleanPlanes(spark: SparkSession, image: DataFrame, psf: DataFrame,
                     nL: Int, nM: Int, psfL: Int, psfM: Int,
                     sigmas: Seq[Double], gain: Double = 0.1,
                     threshold: Double = 0.01, niter: Int = 100,
                     refineIters: Int = 0): DataFrame =
    cleanEach(spark, image, psf, nL, nM, psfL, psfM) { (res, psfA) =>
      aspClean(res, psfA, nL, nM, psfL, psfM, sigmas, gain, threshold, niter,
        refineIters)
    }

  final case class RmResult(l_idx: Int, m_idx: Int, phi_idx: Int,
                            model_re: Double, model_im: Double,
                            resid_re: Double, resid_im: Double)

  /** deconvolve_rotation_measure_clean (ngcasa/deconvolution/
    * deconvolve_rotation_measure_clean.py — a NotImplementedError stub;
    * docstring steps): per pixel, (1) map channel frequencies to
    * lambda^2 space, (2) rotation-measure synthesis — the Faraday
    * dispersion spectrum F(phi) = (1/N) sum_c P_c e^{-2i phi (l2_c -
    * l2_0)} with P = Q + iU, plus the RM spread function on the offset
    * grid, (3) 1-D Hogbom CLEAN of F against the RMSF, (4) the model
    * stays as phi-space components (the frequency-space evaluation is
    * the adjoint of step 2 — composable via the same expression).
    *
    * l2_0 is the ORDER-FREE reference (min+max)/2 of lambda^2 — a mean
    * would sum in shuffle-arrival order and wobble the last ulp across
    * runs. Channels are sorted before the DFT for the same reason.
    *
    * Spark shape: groupByKey per (l_idx, m_idx) pixel; each task holds
    * one pixel's spectrum (nchan complex values) and its nphi-bin
    * Faraday spectrum — the exact per-pixel independence the docstring's
    * cube layout implies, so the operator scales with pixels x chans.
    */
  def rmClean(spark: SparkSession, vis: DataFrame,
              nPhi: Int, dPhi: Double,
              gain: Double = 0.1, threshold: Double = 0.0,
              niter: Int = 1): DataFrame = {
    import spark.implicits._
    val c = 299792458.0
    val in = vis.select(col("l_idx").cast("int"), col("m_idx").cast("int"),
        col("freq").cast("double"), col("q").cast("double"),
        col("u").cast("double"))
      .as[(Int, Int, Double, Double, Double)]
    in.groupByKey(r => (r._1, r._2)).flatMapGroups {
      (key: (Int, Int), it: Iterator[(Int, Int, Double, Double, Double)]) =>
        val (li, mi) = key
        val chans = it.toArray.sortBy(_._3)
        val n = chans.length
        val lam2 = chans.map(t => (c / t._3) * (c / t._3))
        val l0 = (lam2.min + lam2.max) / 2.0
        // phi grid centered on zero: phi_k = (k - nPhi/2) * dPhi
        def phi(k: Int) = (k - nPhi / 2) * dPhi
        val fRe = new Array[Double](nPhi); val fIm = new Array[Double](nPhi)
        var k = 0
        while (k < nPhi) {
          var s = 0
          while (s < n) {
            val ang = -2.0 * phi(k) * (lam2(s) - l0)
            val (cs, sn) = (math.cos(ang), math.sin(ang))
            fRe(k) += (chans(s)._4 * cs - chans(s)._5 * sn) / n
            fIm(k) += (chans(s)._4 * sn + chans(s)._5 * cs) / n
            s += 1
          }
          k += 1
        }
        // RMSF over offsets -(nPhi-1) .. nPhi-1
        val rRe = new Array[Double](2 * nPhi - 1)
        val rIm = new Array[Double](2 * nPhi - 1)
        var o = -(nPhi - 1)
        while (o <= nPhi - 1) {
          var s = 0
          while (s < n) {
            val ang = -2.0 * (o * dPhi) * (lam2(s) - l0)
            rRe(o + nPhi - 1) += math.cos(ang) / n
            rIm(o + nPhi - 1) += math.sin(ang) / n
            s += 1
          }
          o += 1
        }
        val mRe = new Array[Double](nPhi); val mIm = new Array[Double](nPhi)
        def peak(): (Int, Double) = {
          var bp = 0; var bv = -1.0
          var j = 0
          while (j < nPhi) {
            val a = fRe(j) * fRe(j) + fIm(j) * fIm(j)
            if (a > bv) { bv = a; bp = j }
            j += 1
          }
          (bp, bv)
        }
        var (p0, v0) = peak()
        val stop = threshold * threshold * v0
        var i = 0
        var done = v0 <= 0.0
        while (!done && i < niter) {
          val (pr, pi) = (gain * fRe(p0), gain * fIm(p0))
          mRe(p0) += pr; mIm(p0) += pi
          var j = 0
          while (j < nPhi) {
            val ri = j - p0 + nPhi - 1
            fRe(j) -= pr * rRe(ri) - pi * rIm(ri)
            fIm(j) -= pr * rIm(ri) + pi * rRe(ri)
            j += 1
          }
          val nxt = peak(); p0 = nxt._1; v0 = nxt._2
          if (v0 <= stop || v0 == 0.0) done = true
          i += 1
        }
        (0 until nPhi).iterator.map(j =>
          RmResult(li, mi, j, mRe(j), mIm(j), fRe(j), fIm(j)))
    }.toDF()
  }

  /** restore_model (ngcasa/deconvolution/restore_model.py — a
    * NotImplementedError stub in the reference; semantics from its
    * docstring): restored = model (x) clean-beam + residual, the
    * cube/single-term path ("smooth the model image to the target
    * resolution ... add"). At native resolution the residual passes
    * through unsmoothed; at a non-native target both planes are
    * convolved with the restoring beam.
    *
    * Spark shape: one per-plane FFT convolution (BeamOps.smooth) plus
    * an equi-join on the pixel key — the join is plane-partitioned and
    * the beam is image-sized, so shuffle volume is O(pixels), never
    * O(visibilities).
    */
  def restoreModel(spark: SparkSession, model: DataFrame, residual: DataFrame,
                   beam: DataFrame, nL: Int, nM: Int,
                   nativeResolution: Boolean = true): DataFrame = {
    val key = Seq("img_chan", "pol", "l_idx", "m_idx")
    val sm = BeamOps.smooth(spark, model, beam, nL, nM, valueCol = "model")
      .withColumnRenamed("smoothed", "_model_sm")
    val res =
      if (nativeResolution) residual.select(key.map(col) :+
        col("residual").as("_res"): _*)
      else BeamOps.smooth(spark, residual, beam, nL, nM, valueCol = "residual")
        .withColumnRenamed("smoothed", "_res")
    sm.join(res, key)
      .withColumn("restored", col("_model_sm") + col("_res"))
      .drop("_model_sm", "_res")
  }

  /** make_mask (ngcasa/deconvolution/make_mask.py — stub; docstring
    * semantics): the deconvolution mask is the INTERSECTION of
    * (a) an auto-mask — |image| above nSigma times the plane's robust
    *     noise (median absolute deviation scaled to gaussian sigma),
    * (b) a primary-beam limit — pb above pbLimit,
    * (c) an optional user region column (cngi.image.region output).
    *
    * Robust sigma per plane = 1.4826 * median(|v - median(v)|) — two
    * per-plane exact medians via percentile, computed group-local (a
    * plane is image-sized) and broadcast-joined back; the comparison
    * itself is a pure scan. At 100 TB the agg output is one row per
    * (chan, pol) plane — dimension-scale.
    */
  def makeMask(image: DataFrame, nSigma: Double, pbCol: Option[String] = None,
               pbLimit: Double = 0.2, regionCol: Option[String] = None,
               valueCol: String = "image"): DataFrame = {
    val planeKey = Seq(col("img_chan"), col("pol"))
    val med = image.groupBy(planeKey: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val dev = image.join(broadcast(med), Seq("img_chan", "pol"))
    val sig = dev
      .withColumn("_adev", abs(col(valueCol) - col("_med")))
      .groupBy(planeKey: _*)
      .agg(expr("percentile(_adev, 0.5)").as("_mad"))
      .withColumn("_sigma", col("_mad") * lit(1.4826))
      .select(col("img_chan"), col("pol"), col("_sigma"))
    val auto = abs(col(valueCol)) > lit(nSigma) * col("_sigma")
    val pbOk = pbCol.map(c => col(c) > lit(pbLimit)).getOrElse(lit(true))
    val regionOk = regionCol.map(col).getOrElse(lit(true))
    dev.join(broadcast(sig), Seq("img_chan", "pol"))
      .withColumn("mask", auto && pbOk && regionOk)
      .drop("_med", "_sigma")
  }

  /** is_converged (ngcasa/deconvolution/is_converged.py — stub;
    * docstring semantics): evaluate the current image set against the
    * stopping criteria and emit a convergence-history record. Applied
    * criteria (the docstring's ordered list): peak residual within the
    * mask <= threshold, total iterations >= niter. One aggregate row
    * per plane — a single hash agg, no driver-side data.
    */
  def isConverged(residual: DataFrame, itersDone: DataFrame,
                  threshold: Double, niter: Int,
                  maskCol: Option[String] = None): DataFrame = {
    val inMask = maskCol.map(col).getOrElse(lit(true))
    val peaks = residual
      .groupBy(col("img_chan"), col("pol"))
      .agg(max(when(inMask, abs(col("residual")))).as("peak_residual"))
    peaks.join(itersDone, Seq("img_chan", "pol"))
      .withColumn("hit_threshold", col("peak_residual") <= lit(threshold))
      .withColumn("hit_niter", col("iters_done") >= lit(niter))
      .withColumn("converged", col("hit_threshold") || col("hit_niter"))
  }

  /** MS-MFS wideband Taylor-coefficient maps — the MS-MFS branch the
    * reference documents but never implements
    * (ngcasa/deconvolution/deconvolve_multiterm_clean.py:20-58;
    * algorithm per Rau & Cornwell 2011, A&A 532 A71): per pixel, fit
    * the spectral cube I(l, m, nu) to a Taylor series in
    * x = (nu - nu0)/nu0, emitting the coefficient maps c_t and the
    * spectral-index map alpha = c1/c0 (null where c0 = 0, or where
    * the normal system is singular — fewer distinct channels than
    * terms).
    *
    * Spark shape: ONE hash aggregate over the pixel keys accumulating
    * the (2*nterms-1) x-moments and nterms cross-moments (the
    * uv_cont_fit normal-equation pattern — map-side combine, shuffle
    * carries 2 small arrays per pixel, never spectra), then a per-row
    * solve. Scales to any cube: cost is linear in pixels x channels.
    */
  def mfsTaylor(cube: DataFrame, keys: Seq[String], freqCol: String,
                valCol: String, refFreq: Double,
                nterms: Int = 3): DataFrame = {
    require(nterms >= 1, "nterms must be >= 1")
    // powers as LEFT-ASSOC multiplication chains, not libm pow —
    // bit-identical to the oracle's x * x * ... for non-integer x
    def pw(k: Int): Column = k match {
      case 0 => lit(1.0)
      case n => (2 to n).foldLeft(col("_x"))((a, _) => a * col("_x"))
    }
    val solved = cube
      .withColumn("_x", (col(freqCol) - lit(refFreq)) / lit(refFreq))
      .groupBy(keys.map(col): _*)
      .agg(
        array((0 to 2 * (nterms - 1)).map(k => sum(pw(k))): _*).as("_m"),
        array((0 until nterms).map(k => sum(col(valCol) * pw(k))): _*)
          .as("_r"),
        count(lit(1)).as("n_chan"))
      .withColumn("_c", RegressionOps.solveUdf(col("_m"), col("_r")))
    val coefCols = (0 until nterms)
      .map(t => element_at(col("_c"), t + 1).as(s"c$t"))
    solved
      .select(keys.map(col) ++ coefCols :+ col("n_chan"): _*)
      .withColumn("alpha",
        when(col("c0").isNotNull && col("c0") =!= 0.0,
          (if (nterms > 1) col("c1") else lit(0.0)) / col("c0")))
  }
}
