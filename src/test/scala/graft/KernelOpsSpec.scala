package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.complex._

class KernelOpsSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------------- rotation

  test("directionRotate: rotating to the same phase center is identity") {
    val center = (0.5, -0.3)
    val df = Seq((0, 100.0, 50.0, 10.0, 1.0, 0.5, 1.5e9))
      .toDF("field_id", "u", "v", "w", "vr", "vi", "freq")
      .select(col("field_id"), col("u"), col("v"), col("w"),
        c(col("vr"), col("vi")).as("vis"), col("freq"))
    val out = RotateOps.directionRotate(df, Map(0 -> center), center,
      "field_id", "u", "v", "w", "vis", "freq").head()
    // same center: phase rotation is 0, vis unchanged
    val vis = out.getAs[org.apache.spark.sql.Row]("vis_rot")
    assert(approx(vis.getDouble(0), 1.0) && approx(vis.getDouble(1), 0.5))
    // |uvw| preserved by the rotation (orthogonal matrix)
    val (u2, v2, w2) = (out.getAs[Double]("u_rot"), out.getAs[Double]("v_rot"),
      out.getAs[Double]("w_rot"))
    assert(approx(u2 * u2 + v2 * v2 + w2 * w2,
      100.0 * 100 + 50 * 50 + 10 * 10, 1e-6))
  }

  test("directionRotate: phase preserves amplitude") {
    val df = Seq((0, 100.0, 50.0, 10.0, 3.0, 4.0, 1.5e9))
      .toDF("field_id", "u", "v", "w", "vr", "vi", "freq")
      .select(col("field_id"), col("u"), col("v"), col("w"),
        c(col("vr"), col("vi")).as("vis"), col("freq"))
    val out = RotateOps.directionRotate(df, Map(0 -> ((0.5, -0.3))),
      (0.501, -0.299), "field_id", "u", "v", "w", "vis", "freq").head()
    val vis = out.getAs[org.apache.spark.sql.Row]("vis_rot")
    assert(approx(math.hypot(vis.getDouble(0), vis.getDouble(1)), 5.0))
    assert(!approx(vis.getDouble(0), 3.0, 1e-6)) // phase actually rotated
  }

  // ---------------------------------------------------------- self_cal

  test("selfCal recovers synthetic antenna gains exactly (V = g_i conj(g_j) M)") {
    val trueG = Map(0 -> (1.0, 0.0), 1 -> (1.2, 0.3), 2 -> (0.8, -0.2), 3 -> (1.1, 0.1))
    val rows = for {
      a1 <- 0 to 3; a2 <- (a1 + 1) to 3
    } yield {
      val (g1r, g1i) = trueG(a1); val (g2r, g2i) = trueG(a2)
      // V = g1 * conj(g2) * M, with M = 2+0i
      val vr = (g1r * g2r + g1i * g2i) * 2.0
      val vi = (g1i * g2r - g1r * g2i) * 2.0
      (0L, a1, a2, vr, vi, 2.0, 0.0, 1.0, false)
    }
    val df = rows.toDF("t", "ant1", "ant2", "vr", "vi", "mr", "mi", "w", "flag")
      .select(col("t"), col("ant1"), col("ant2"),
        c(col("vr"), col("vi")).as("vis"), c(col("mr"), col("mi")).as("model"),
        col("w"), col("flag"))
    val gains = CalOps.selfCal(spark, df, "t", "ant1", "ant2",
      "vis", "model", "w", "flag", refAnt = 0)
    val got = gains.collect().map(r => r.getAs[Int]("antenna") ->
      (r.getAs[Double]("gain_re"), r.getAs[Double]("gain_im"))).toMap
    // refant 0 true gain is real-positive, so solutions match directly
    trueG.foreach { case (a, (re, im)) =>
      assert(approx(got(a)._1, re, 1e-6) && approx(got(a)._2, im, 1e-6),
        s"antenna $a: ${got(a)} != ($re, $im)")
    }
    // applying the gains corrects V back to M
    val corrected = CalOps.applyGains(df, gains, "t", "ant1", "ant2", "vis")
    corrected.select(col("vis_corrected.re"), col("vis_corrected.im")).collect()
      .foreach { r =>
        assert(approx(r.getDouble(0), 2.0, 1e-6) && approx(r.getDouble(1), 0.0, 1e-6))
      }
  }

  // -------------------------------------------------------------- clean

  test("hogbom CLEAN with delta PSF recovers the image as the model") {
    val nL = 8; val nM = 8
    val res = new Array[Double](nL * nM)
    res(2 * nM + 3) = 5.0; res(6 * nM + 1) = -3.0
    val psf = new Array[Double](nL * nM)
    psf(4 * nM + 4) = 1.0 // delta at center
    val model = CleanOps.hogbom(res.clone(), psf, nL, nM, nL, nM,
      gain = 1.0, threshold = 1e-9, niter = 100)
    assert(approx(model(2 * nM + 3), 5.0))
    assert(approx(model(6 * nM + 1), -3.0))
  }

  test("distributed cleanPlanes converges and model+residual ~ image for delta psf") {
    val img = (for (l <- 0 until 8; m <- 0 until 8)
      yield (0, 0, l, m, if (l == 3 && m == 5) 4.0 else 0.0))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "image")
    val psf = (for (l <- 0 until 8; m <- 0 until 8)
      yield (0, 0, l, m, if (l == 4 && m == 4) 1.0 else 0.0))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "image")
    val out = CleanOps.cleanPlanes(spark, img, psf, 8, 8, 8, 8,
      gain = 0.5, threshold = 1e-6, niter = 500)
    val peak = out.where(col("l_idx") === 3 && col("m_idx") === 5).head()
    assert(approx(peak.getAs[Double]("model"), 4.0, 1e-4))
    assert(math.abs(peak.getAs[Double]("residual")) < 1e-4)
  }

  // Long-form 8x8 planes: value(l, m) per (img_chan, pol) plane.
  private def planes8(name: String, keys: Seq[(Int, Int)])(
      value: (Int, Int) => Double) =
    (for ((c, p) <- keys; l <- 0 until 8; m <- 0 until 8)
      yield (c, p, l, m, value(l, m)))
      .toDF("img_chan", "pol", "l_idx", "m_idx", name)

  private def byPlane(df: org.apache.spark.sql.DataFrame, value: String) =
    df.collect().groupBy(r => (r.getAs[Int]("img_chan"), r.getAs[Int]("pol")))
      .map { case (k, rows) =>
        val a = new Array[Double](64)
        rows.foreach(r => a(r.getAs[Int]("l_idx") * 8 + r.getAs[Int]("m_idx")) =
          r.getAs[Double](value))
        k -> a.toSeq
      }

  test("cleanPlanes: a plane one frame lacks is cleaned against zeros") {
    val img = planes8("image", Seq((0, 0), (0, 1)))((l, m) => (l * 8 + m) % 5 - 2.0)
    val psf = planes8("image", Seq((0, 0), (1, 0)))((l, m) =>
      if (l == 4 && m == 4) 1.0 else 0.0)
    val out = CleanOps.cleanPlanes(spark, img, psf, 8, 8, 8, 8,
      gain = 0.5, threshold = 1e-6, niter = 7)
    val model = byPlane(out, "model"); val resid = byPlane(out, "residual")
    assert(model.keySet === Set((0, 0), (0, 1), (1, 0)))
    // (0, 1) has no psf rows: hogbom over a zero psf
    val res01 = Array.tabulate(64)(i => i % 5 - 2.0)
    val model01 = CleanOps.hogbom(res01, new Array[Double](64), 8, 8, 8, 8,
      0.5, 1e-6, 7)
    assert(model((0, 1)) === model01.toSeq)
    assert(resid((0, 1)) === res01.toSeq)
    // (1, 0) has no image rows: nothing to clean
    assert(model((1, 0)).forall(_ == 0.0) && resid((1, 0)).forall(_ == 0.0))
  }

  test("cleanPlanes: a repeated (l_idx, m_idx) keeps the last row written") {
    val img = Seq((0, 0, 2, 3, 1.0), (0, 0, 5, 5, 0.5), (0, 0, 2, 3, 7.0))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "image").coalesce(1)
    val psf = planes8("image", Seq((0, 0)))((l, m) =>
      if (l == 4 && m == 4) 1.0 else 0.0)
    val resid = byPlane(CleanOps.cleanPlanes(spark, img, psf, 8, 8, 8, 8,
      niter = 0), "residual")((0, 0))
    assert(resid(2 * 8 + 3) === 7.0)
    assert(resid(5 * 8 + 5) === 0.5)
  }

  // -------------------------------------------------------------- beams

  test("besselJ1 matches known values") {
    assert(approx(BeamOps.besselJ1(0.0), 0.0, 1e-7))
    assert(approx(BeamOps.besselJ1(1.0), 0.4400505857, 1e-6))
    assert(approx(BeamOps.besselJ1(3.8317059702), 0.0, 1e-5)) // first zero
    assert(approx(BeamOps.besselJ1(-1.0), -0.4400505857, 1e-6))
  }

  test("makePb: airy peak 1 at center, decreasing outward, first null present") {
    val grid = ImageOps.makeEmptySkyImage(spark, (0.0, 0.0), (32, 32),
      (0.0005, 0.0005), chans = Seq(1.0e9))
    val pb = BeamOps.makePb(grid, dishDiameter = 25.0)
    val rows = pb.collect().map(r =>
      (r.getAs[Int]("l_idx"), r.getAs[Int]("m_idx")) -> r.getAs[Double]("pb")).toMap
    assert(rows((16, 16)) === 1.0)
    assert(rows((17, 16)) < 1.0 && rows((17, 16)) > rows((20, 16)))
  }

  test("gaussianBeam peaks at center with unit amplitude and FWHM scaling") {
    val grid = ImageOps.makeEmptySkyImage(spark, (0.0, 0.0), (32, 32),
      (0.0005, 0.0005))
    val beam = BeamOps.gaussianBeam(grid, d1 = 500.0, d2 = 300.0, theta = 0.0,
      cell = (0.0005, 0.0005), nX = 32, nY = 32)
    val rows = beam.collect().map(r =>
      (r.getAs[Int]("l_idx"), r.getAs[Int]("m_idx")) -> r.getAs[Double]("beam")).toMap
    assert(approx(rows((16, 16)), 1.0))
    assert(rows((18, 16)) > rows((16, 18))) // wider along l (d1 > d2)
  }

  test("smooth with delta kernel is identity (up to fftshift-center)") {
    val img = (for (l <- 0 until 8; m <- 0 until 8)
      yield (0, 0, l, m, math.sin(l * 0.5) + math.cos(m * 0.7)))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "image")
    val ker = (for (l <- 0 until 8; m <- 0 until 8)
      yield (0, 0, l, m, if (l == 4 && m == 4) 1.0 else 0.0))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "beam")
    val out = BeamOps.smooth(spark, img, ker, 8, 8)
    // delta at center + final fftshift => |smoothed| == |original|
    val got = out.collect().map(r =>
      (r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    for (l <- 0 until 8; m <- 0 until 8)
      assert(approx(got((l, m)),
        math.abs(math.sin(l * 0.5) + math.cos(m * 0.7)), 1e-9))
  }

  test("smooth: an image plane the kernel frame lacks smooths to zero") {
    val img = planes8("image", Seq((0, 0), (0, 1)))((l, m) =>
      math.sin(l * 0.5) + math.cos(m * 0.7))
    val ker = planes8("beam", Seq((0, 0)))((l, m) =>
      if (l == 4 && m == 4) 1.0 else 0.0)
    val out = byPlane(BeamOps.smooth(spark, img, ker, 8, 8), "smoothed")
    assert(out.keySet === Set((0, 0), (0, 1)))
    assert(out((0, 1)).forall(_ == 0.0))
    for (l <- 0 until 8; m <- 0 until 8)
      assert(approx(out((0, 0))(l * 8 + m),
        math.abs(math.sin(l * 0.5) + math.cos(m * 0.7)), 1e-9))
  }

  test("fitGaussianBeam recovers the parameters of a synthesized beam") {
    val grid = ImageOps.makeEmptySkyImage(spark, (0.0, 0.0), (32, 32),
      (0.0005, 0.0005))
    val beam = BeamOps.gaussianBeam(grid, d1 = 600.0, d2 = 400.0, theta = 0.0,
      cell = (0.0005, 0.0005), nX = 32, nY = 32)
      .withColumn("img_chan", lit(0)).withColumn("pol", lit(0))
      .withColumnRenamed("beam", "image")
    val fit = BeamOps.fitGaussianBeam(spark, beam, 32, 32).head()
    val incr = 0.0005 * 180 / math.Pi * 3600 // arcsec per pixel
    assert(approx(fit.getAs[Double]("d1_pix") * incr, 600.0, 1e-3))
    assert(approx(fit.getAs[Double]("d2_pix") * incr, 400.0, 1e-3))
  }

  test("fitGaussianRl recovers the FWHM ellipse from the half-power contour") {
    val grid = ImageOps.makeEmptySkyImage(spark, (0.0, 0.0), (33, 33),
      (0.0005, 0.0005))
      .withColumn("img_chan", lit(0)).withColumn("pol", lit(0))
    val incr = 0.0005 * 180 / math.Pi * 3600
    val beam = BeamOps.gaussianBeam(grid, 1200.0, 800.0, 30.0,
      (0.0005, 0.0005), 33, 33).withColumnRenamed("beam", "image")
    val fit = BeamOps.fitGaussianRl(spark, beam, 33, 33, (17, 17), (81, 81),
      cutoff = 0.5, sensitivity = 0.01, delta = (incr, incr)).head()
    // the half-power contour IS the FWHM ellipse: axes = d1/d2, angle
    // east-of-north = theta - 90
    assert(approx(fit.getAs[Double]("major"), 1200.0, 3.0))
    assert(approx(fit.getAs[Double]("minor"), 800.0, 3.0))
    assert(approx(fit.getAs[Double]("phi_deg"), -60.0, 0.5))
    assert(fit.getAs[Int]("n_points") > 50)
  }

  test("feather: identical inputs are a fixpoint; flux comes from the SD side") {
    val img = (for (l <- 0 until 8; m <- 0 until 8)
      yield (0, 0, l, m, math.sin(l * 0.5) + math.cos(m * 0.7)))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "image")
    val sd = (for (l <- 0 until 8; m <- 0 until 8)
      yield (0, 0, l, m, math.cos(l * 0.3)))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "image")
    val beam = (for (l <- 0 until 8; m <- 0 until 8)
      yield (0, 0, l, m,
        math.exp(-0.3 * ((l - 4) * (l - 4) + (m - 4) * (m - 4)))))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "beam")
    // sd == int, s = 1 -> comb == int exactly (the difference plane is 0)
    val same = BeamOps.feather(spark, img, img, beam, 8, 8)
      .collect().map(r => (r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    for (l <- 0 until 8; m <- 0 until 8)
      assert(approx(same((l, m)),
        math.sin(l * 0.5) + math.cos(m * 0.7), 1e-9))
    // zero-spacing flux: sum(comb) = s * sum(sd) since sum(B) = 1
    val s = 0.5
    val comb = BeamOps.feather(spark, img, sd, beam, 8, 8, fluxScale = s)
      .agg(sum(col("feathered"))).head().getDouble(0)
    val sdSum = sd.agg(sum(col("image"))).head().getDouble(0)
    assert(approx(comb, s * sdSum, 1e-9))
  }

  test("restoreModel: delta model restores to the beam plus residual") {
    import org.apache.spark.sql.functions._
    val grid = graft.operators.ImageOps.makeEmptySkyImage(spark, (0.0, 0.0),
        (16, 16), (0.0005, 0.0005))
      .withColumn("img_chan", lit(0)).withColumn("pol", lit(0))
    val model = grid.withColumn("model",
      when(col("l_idx") === 8 && col("m_idx") === 8, 2.0).otherwise(0.0))
    val residual = grid.withColumn("residual", col("l_idx") * 0.01)
    val beam = BeamOps.gaussianBeam(grid, 300.0, 300.0, 0.0,
      (0.0005, 0.0005), 16, 16)
    val beamVals = beam.select("l_idx", "m_idx", "beam").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val out = graft.operators.CleanOps
      .restoreModel(spark, model, residual, beam, 16, 16)
      .select("l_idx", "m_idx", "restored").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // delta at the beam center: restored(p) = 2*beam(p) + residual(p)
    for (p <- Seq((8, 8), (7, 9), (3, 12)))
      assert(approx(out(p), 2.0 * beamVals(p) + p._1 * 0.01, 1e-9))
  }

  test("makeMask: sigma-threshold spikes inside the pb limit only") {
    import org.apache.spark.sql.functions._
    val grid = graft.operators.ImageOps.makeEmptySkyImage(spark, (0.0, 0.0),
        (16, 16), (0.0005, 0.0005))
      .withColumn("img_chan", lit(0)).withColumn("pol", lit(0))
    // flat plane + two spikes; pb is wide gaussian: ~1 at center,
    // tiny in the far corner
    val img = grid.withColumn("image",
      when(col("l_idx") === 8 && col("m_idx") === 8, 5.0)
        .when(col("l_idx") === 0 && col("m_idx") === 0, 5.0)
        .otherwise(sin(col("l_idx") * 0.1) * 0.01))
    val withPb = BeamOps.gaussianBeam(img, 800.0, 800.0, 0.0,
      (0.0005, 0.0005), 16, 16, outCol = "pb")
    val out = graft.operators.CleanOps
      .makeMask(withPb, nSigma = 5.0, pbCol = Some("pb"), pbLimit = 0.3)
      .select("l_idx", "m_idx", "mask").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getBoolean(2)).toMap
    assert(out((8, 8)), "central spike above pb limit is masked")
    assert(!out((0, 0)), "corner spike below the pb limit is rejected")
    assert(!out((4, 4)), "noise floor stays unmasked")
  }

  test("isConverged applies threshold and niter stopping criteria") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val res = Seq((0, 0, 0, 0, 0.01), (0, 0, 0, 1, -0.2),
        (0, 1, 0, 0, 0.5))
      .toDF("img_chan", "pol", "l_idx", "m_idx", "residual")
    val iters = Seq((0, 0, 10), (0, 1, 100))
      .toDF("img_chan", "pol", "iters_done")
    val out = graft.operators.CleanOps
      .isConverged(res, iters, threshold = 0.25, niter = 50)
      .collect().map(r => r.getInt(1) ->
        (r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    // pol 0: peak 0.2 <= 0.25 -> threshold hit, 10 < 50 iters
    assert(out(0) === ((true, false, true)))
    // pol 1: peak 0.5 above threshold, but iteration budget exhausted
    assert(out(1) === ((false, true, true)))
  }

  test("msClean with scales=(0) reduces exactly to Hogbom") {
    val nL = 16; val nM = 16
    val res = Array.tabulate(nL * nM)(i =>
      math.sin(i * 0.37) + (if (i == 77) 4.0 else 0.0))
    val psf = Array.tabulate(nL * nM) { i =>
      val (l, m) = (i / nM - 8, i % nM - 8)
      math.exp(-(l * l + m * m) / 6.0)
    }
    val hog = graft.operators.CleanOps.hogbom(res.clone(), psf, nL, nM, nL, nM,
      gain = 0.3, threshold = 0.0, niter = 3)
    val (ms, _) = graft.operators.CleanOps.msClean(res.clone(), psf,
      nL, nM, nL, nM, Seq(0), gain = 0.3, threshold = 0.0, niter = 3,
      smallScaleBias = 0.6)
    hog.zip(ms).foreach { case (a, b) => assert(approx(a, b, 1e-12)) }
  }

  test("msClean subtracts flux: residual peak decreases across scales") {
    val nL = 16; val nM = 16
    // broad source: gaussian blob (extended relative to scale-2 kernel)
    val res = Array.tabulate(nL * nM) { i =>
      val (l, m) = (i / nM - 6, i % nM - 10)
      3.0 * math.exp(-(l * l + m * m) / 10.0)
    }
    val psf = Array.tabulate(nL * nM) { i =>
      val (l, m) = (i / nM - 8, i % nM - 8)
      math.exp(-(l * l + m * m) / 4.0)
    }
    val before = res.map(math.abs).max
    val (model, after) = graft.operators.CleanOps.msClean(res.clone(), psf,
      nL, nM, nL, nM, Seq(0, 2), gain = 0.2, threshold = 0.1, niter = 100,
      smallScaleBias = 0.0)
    assert(after.map(math.abs).max < 0.2 * before,
      "CLEAN must drive the residual below the stop threshold band")
    assert(model.sum > 0.0, "flux lands in the model")
  }

  test("fastResolve inverts smooth: Wiener deconvolution round-trip") {
    import org.apache.spark.sql.functions._
    val grid = graft.operators.ImageOps.makeEmptySkyImage(spark, (0.0, 0.0),
        (16, 16), (0.0005, 0.0005))
      .withColumn("img_chan", lit(0)).withColumn("pol", lit(0))
    val truth = grid.withColumn("image",
      lit(2.0) + sin(col("l_idx") * 0.5) * 0.5)
    val beam = BeamOps.gaussianBeam(grid, 300.0, 300.0, 0.0,
      (0.0005, 0.0005), 16, 16)
    val blurred = BeamOps.smooth(spark, truth, beam, 16, 16)
      .withColumnRenamed("smoothed", "image")
    val psf = beam.withColumnRenamed("beam", "image")
    val out = graft.operators.CleanOps
      .fastResolve(spark, blurred, psf, 16, 16, lambda = 1e-9)
      .select("l_idx", "m_idx", "model").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val want = truth.select("l_idx", "m_idx", "image").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (p <- Seq((0, 0), (5, 9), (12, 3), (8, 8)))
      assert(approx(out(p), want(p), 1e-5),
        s"$p: ${out(p)} vs ${want(p)}")
  }

  test("rmClean recovers an on-grid Faraday screen") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val c = 299792458.0
    val phi0 = 8.0 // on the phi grid: (k - 8) * 4 => k = 10
    val chans = (0 until 8).map { ch =>
      val f = 1.4e9 + ch * 5.0e7
      val lam2 = (c / f) * (c / f)
      (ch, f, lam2)
    }
    val l0 = (chans.map(_._3).min + chans.map(_._3).max) / 2.0
    val vis = chans.map { case (_, f, lam2) =>
      val ang = 2.0 * phi0 * (lam2 - l0)
      (0, 0, f, math.cos(ang), math.sin(ang))
    }.toDF("l_idx", "m_idx", "freq", "q", "u")
    val out = graft.operators.CleanOps
      .rmClean(spark, vis, nPhi = 16, dPhi = 4.0, gain = 0.5,
        threshold = 0.01, niter = 200)
      .collect().map(r => r.getInt(2) ->
        (math.hypot(r.getDouble(3), r.getDouble(4)),
          math.hypot(r.getDouble(5), r.getDouble(6)))).toMap
    assert(out(10)._1 > 0.8, s"model at phi=8 rad/m^2: ${out(10)._1}")
    assert(out.filter(_._1 != 10).values.map(_._1).max < 0.2,
      "model concentrates on the true Faraday depth")
    assert(out.values.map(_._2).max < 0.1, "residual cleaned down")
  }

  test("aspClean adapts the component scale to the source width") {
    val nL = 16; val nM = 16
    val sigTrue = 1.8
    val res = Array.tabulate(nL * nM) { i =>
      val (l, m) = (i / nM - 6, i % nM - 10)
      3.0 * math.exp(-(l * l + m * m) / (2.0 * sigTrue * sigTrue))
    }
    // delta psf: subtraction removes exactly the fitted gaussian
    val psf = Array.tabulate(nL * nM)(i => if (i == 8 * nM + 8) 1.0 else 0.0)
    val (model, after) = graft.operators.CleanOps.aspClean(res.clone(), psf,
      nL, nM, nL, nM, Seq(1.0, 2.0, 3.0), gain = 1.0, threshold = 0.0,
      niter = 1, refineIters = 20)
    // one full-gain component with a refined scale ~sigTrue removes
    // nearly all flux of a pure gaussian source
    val peakBefore = res.map(math.abs).max
    assert(after.map(math.abs).max < 0.05 * peakBefore,
      s"adaptive fit should absorb the source: ${after.map(math.abs).max}")
    assert(math.abs(model.sum - res.sum) / res.sum < 0.05,
      "component flux matches the source flux")
  }

  test("specFit recovers gaussian line parameters") {
    val xs = (0 until 64).map(_.toDouble)
    val spec = xs.map(x => (x, 3.0 * math.exp(-0.5 * math.pow((x - 30) / 4, 2)))).toArray
    val (amp, cen, sig) = BeamOps.specFit(spec)
    assert(approx(amp, 3.0, 1e-6) && approx(cen, 30.0, 1e-6) && approx(sig, 4.0, 1e-6))
  }

  test("mfsTaylor recovers per-pixel Taylor coefficients and alpha") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two pixels, exact quadratic spectra in x = (nu - nu0)/nu0
    val rows = for {
      (l, c0, c1, c2) <- Seq((0, 2.0, 1.0, -0.5), (1, 4.0, -2.0, 0.25))
      ch <- 0 until 5
      x = ch / 10.0
    } yield (l, 0, (1.0 + x) * 1.0e9, c0 + c1 * x + c2 * x * x)
    val cube = rows.toDF("l_idx", "m_idx", "freq", "image")
    val out = CleanOps.mfsTaylor(cube, Seq("l_idx", "m_idx"), "freq",
        "image", refFreq = 1.0e9, nterms = 3)
      .collect().map(r => r.getAs[Int]("l_idx") ->
        ((r.getAs[Double]("c0"), r.getAs[Double]("c1"),
          r.getAs[Double]("c2"), r.getAs[Double]("alpha")))).toMap
    val (a0, a1, a2, al) = out(0)
    assert(approx(a0, 2.0, 1e-8) && approx(a1, 1.0, 1e-6) &&
      approx(a2, -0.5, 1e-5))
    assert(approx(al, 1.0 / 2.0, 1e-6)) // spectral index = c1/c0
    val (b0, b1, _, _) = out(1)
    assert(approx(b0, 4.0, 1e-8) && approx(b1, -2.0, 1e-6))
    // singular system (1 channel, 3 terms) -> null coefficients, no crash
    val one = Seq((0, 0, 1.0e9, 5.0)).toDF("l_idx", "m_idx", "freq", "image")
    val sing = CleanOps.mfsTaylor(one, Seq("l_idx", "m_idx"), "freq",
      "image", refFreq = 1.0e9, nterms = 3).collect()(0)
    assert(sing.isNullAt(sing.fieldIndex("c0")) &&
      sing.isNullAt(sing.fieldIndex("alpha")))
  }
}
