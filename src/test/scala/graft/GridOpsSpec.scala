package graft

import org.apache.spark.sql.functions._
import graft.functions.Fft
import graft.operators.GridOps
import graft.operators.GridOps.GridParams

class GridOpsSpec extends SparkSpec {
  import spark.implicits._

  test("FFT: forward+inverse roundtrip recovers input (up to N)") {
    val n = 8
    val re = Array.tabulate(n * n)(i => math.sin(i * 0.7))
    val im = Array.tabulate(n * n)(i => math.cos(i * 1.3))
    val (r2, i2) = (re.clone(), im.clone())
    Fft.fft2(r2, i2, n, n, invert = false)
    Fft.fft2(r2, i2, n, n, invert = true)
    // unnormalized: inverse(forward(x)) = N * x
    r2.zip(re).foreach { case (a, b) => assert(approx(a, b * n * n, 1e-9)) }
    i2.zip(im).foreach { case (a, b) => assert(approx(a, b * n * n, 1e-9)) }
  }

  test("FFT of a delta at origin is flat") {
    val n = 8
    val re = new Array[Double](n * n); val im = new Array[Double](n * n)
    re(0) = 1.0
    Fft.fft2(re, im, n, n, invert = false)
    re.foreach(v => assert(approx(v, 1.0)))
    im.foreach(v => assert(approx(v, 0.0)))
  }

  test("fftshift moves index 0 to the center and is an involution for even n") {
    val n = 4
    val a = Array.tabulate(n * n)(_.toDouble)
    val s = Fft.fftshift2(a, n, n)
    assert(s((n / 2) * n + n / 2) === a(0))
    assert(Fft.fftshift2(s, n, n).toSeq === a.toSeq)
  }

  test("PSWF kernel: peak at center, zero at edge, positive inside") {
    assert(GridOps.kernelValue(0.0) > 0.9)
    assert(GridOps.kernelValue(1.0) === 0.0)
    assert(GridOps.grdsf(1.5) === 0.0)
    val cgk = GridOps.cgk1D(100, 7)
    assert(cgk.length === 400)
    assert(cgk(0) === GridOps.kernelValue(0.0))
    assert(cgk(399) === 0.0) // tail beyond support edge
  }

  // A visibility set from a point source AT PHASE CENTER has
  // vis == flux for every (u, v): the dirty image must peak at the
  // center pixel with value ~= flux (SURVEY.md §5 analytic fixture).
  private def pointSourceVis(flux: Double) = {
    val rng = new scala.util.Random(7)
    val c = GridOps.SpeedOfLight
    // uv in meters such that scaled |uv| stays well inside the 32-grid
    (0 until 200).map { _ =>
      val scaleMax = 1.5e9 * 0.002 * 32 / c // ~0.32 cells per meter
      (0, 0, (rng.nextDouble() - 0.5) * 20 / scaleMax / 20,
        (rng.nextDouble() - 0.5) * 20 / scaleMax / 20,
        flux, 0.0, 1.0, 1.5e9)
    }.toDF("img_chan", "pol", "u", "v", "re", "im", "weight", "freq")
  }

  private val p32 = GridParams((32, 32), (0.002, 0.002))

  test("gridder: point source at phase center -> image peaks at center with flux") {
    // pad 32 -> crop 16: the correction function blows up edge pixels of
    // the PADDED plane (grdsf -> 0 at the edge), which is exactly why the
    // reference grids padded and crops (make_image.py:118-121)
    val p = GridParams((32, 32), (0.002, 0.002), imageSize = Some((16, 16)))
    val img = GridOps.makeImage(spark, pointSourceVis(2.5), p)
    val rows = img.collect()
    assert(rows.length === 16 * 16)
    val center = rows.find(r => r.getInt(2) == 8 && r.getInt(3) == 8).get
    assert(approx(center.getDouble(4), 2.5, 1e-2),
      s"center pixel ${center.getDouble(4)} != flux 2.5")
    // center is the global max of the cropped image
    val maxPix = rows.map(_.getDouble(4)).max
    assert(center.getDouble(4) === maxPix)
  }

  test("psf: peak of unit-weight psf at center is 1 after normalization") {
    val psf = GridOps.makePsf(spark, pointSourceVis(9.9), p32)
    val center = psf.collect().find(r => r.getInt(2) == 16 && r.getInt(3) == 16).get
    assert(approx(center.getDouble(4), 1.0, 1e-2))
  }

  test("makeGrid sum_weight equals sum(weight * kernel norm)") {
    val (grid, sumW) = GridOps.makeGrid(spark, pointSourceVis(1.0), p32)
    assert(grid.count() > 0)
    val sw = sumW.head().getDouble(2)
    // 200 rows of weight 1; per-row norm = (sum of 7 kernel taps)^2 at
    // the row's fractional offset, bounded by support^2 * peak
    assert(sw > 0 && sw < 200 * 49)
  }

  test("partial grids merge across partitions identically to single partition") {
    val vis = pointSourceVis(1.0)
    val one = GridOps.makeGrid(spark, vis.coalesce(1), p32)._1
    val many = GridOps.makeGrid(spark, vis.repartition(7), p32)._1
    val j = one.as("a").join(many.as("b"),
      Seq("img_chan", "pol", "u_idx", "v_idx"), "full_outer")
    val mism = j.where(
      abs(col("a.grid_re") - col("b.grid_re")) > 1e-9 ||
        abs(col("a.grid_im") - col("b.grid_im")) > 1e-9 ||
        col("a.grid_re").isNull || col("b.grid_re").isNull).count()
    assert(mism === 0L)
  }

  test("imaging weights: uniform per-cell sums are 1/2 on a Hermitian-symmetric fixture") {
    // Symmetrize the uv coverage: for every (u,v) row add its (-u,-v)
    // mirror. The gridder also accumulates each row at its conjugate
    // cell (_standard_grid_jit do_imaging_weight), so every cell's
    // gridded weight W = 2 x (its primary weight P) and uniform
    // weighting makes each cell's imaging-weight sum P/W = 1/2.
    val half = pointSourceVis(1.0).withColumn("weight", lit(1.0))
    val vis = half.unionByName(
      half.withColumn("u", -col("u")).withColumn("v", -col("v")))
    val iw = GridOps.makeImagingWeight(vis, p32, "uniform")
    val perCell = iw.where(col("_in_grid"))
      .groupBy("u_cell", "v_cell").agg(sum("imaging_weight").as("s"))
    val bad = perCell.where(abs(col("s") - 0.5) > 1e-9).count()
    assert(bad === 0L)
  }

  test("makeImageAndPsf equals separate makeImage + makePsf bitwise") {
    val vis = pointSourceVis(1.0)
    val (img, psf) = GridOps.makeImageAndPsf(spark, vis, p32)
    def diff(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Long =
      a.as("a").join(b.as("b"), Seq("img_chan", "pol", "l_idx", "m_idx"))
        .where(col("a.image") =!= col("b.image") ||
          col("a.sum_weight") =!= col("b.sum_weight")).count()
    assert(diff(img, GridOps.makeImage(spark, vis, p32)) === 0L)
    assert(diff(psf, GridOps.makePsf(spark, vis, p32)) === 0L)
  }

  test("makeImageAndPsf keeps an all-zero image plane where only the psf gate passes") {
    // plane (0, 1): re = im = 0 with weight 1 — no data contribution,
    // a full psf contribution
    val zeroData = pointSourceVis(1.0).withColumn("pol", lit(1))
      .withColumn("re", lit(0.0))
    val vis = pointSourceVis(1.0).unionByName(zeroData)
    val (img, psf) = GridOps.makeImageAndPsf(spark, vis, p32)
    def plane(df: org.apache.spark.sql.DataFrame, pol: Int) =
      df.where(col("pol") === pol).collect()
    assert(plane(img, 1).length === 32 * 32)
    assert(plane(img, 1).forall(r => r.getAs[Double]("image") == 0.0 &&
      r.getAs[Double]("sum_weight") == 0.0))
    assert(plane(psf, 1).length === 32 * 32)
    assert(plane(GridOps.makeImage(spark, vis, p32), 1).isEmpty)
  }

  test("degridVis of a constant grid returns the constant at any uv") {
    // sum(conv * c) / sum(conv) = c exactly, independent of position
    val cells = for (u <- 0 until 32; v <- 0 until 32)
      yield (0, 0, u, v, 2.5, -1.25)
    val grid = cells.toDF("img_chan", "pol", "u_idx", "v_idx",
      "grid_re", "grid_im")
    val vis = pointSourceVis(1.0).withColumn("rid",
      monotonically_increasing_id())
    val out = GridOps.degridVis(vis, grid, p32, Seq("rid")).collect()
    assert(out.length === vis.count())
    out.foreach { r =>
      assert(approx(r.getAs[Double]("model_re"), 2.5, 1e-12))
      assert(approx(r.getAs[Double]("model_im"), -1.25, 1e-12))
    }
  }

  test("degridVis at a gridded point reproduces the kernel-smoothed sample") {
    // one unit visibility at the phase center; degrid at the same spot:
    // model = sum(conv^2)/sum(conv) of the center taps — positive and
    // bounded by the peak cell value
    val vis = Seq((0, 0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.5e9))
      .toDF("img_chan", "pol", "u", "v", "re", "im", "weight", "freq")
      .withColumn("rid", lit(1L))
    val (grid, _) = GridOps.makeGrid(spark, vis, p32)
    val m = GridOps.degridVis(vis, grid, p32, Seq("rid")).head()
    val peak = grid.agg(max(col("grid_re"))).head().getDouble(0)
    assert(m.getAs[Double]("model_re") > 0.0)
    assert(m.getAs[Double]("model_re") <= peak + 1e-12)
    assert(approx(m.getAs[Double]("model_im"), 0.0, 1e-12))
  }

  test("degridVis join path is bitwise identical to the broadcast path") {
    // the relational fallback must reproduce the broadcast kernel's
    // IEEE addition sequence exactly — same taps, same fold order
    val vis = pointSourceVis(1.0)
      .withColumn("rid", monotonically_increasing_id())
      .withColumn("img_chan", (col("rid") % 2).cast("int"))
    val (grid, _) = GridOps.makeGrid(spark,
      vis.withColumn("re", col("u") * 1e-3), p32)
    val b = GridOps.degridVisBroadcast(vis, grid, p32, Seq("rid"))
    val j = GridOps.degridVisJoin(vis, grid, p32, Seq("rid"))
    assert(b.count() === vis.count())
    val mism = b.as("a").join(j.as("b"), Seq("img_chan", "pol", "rid"),
        "full_outer")
      .where(col("a.model_re") =!= col("b.model_re") ||
        col("a.model_im") =!= col("b.model_im") ||
        col("a.model_re").isNull || col("b.model_re").isNull).count()
    assert(mism === 0L)
  }

  test("degridVis dispatcher picks the join path past the broadcast budget") {
    val vis = pointSourceVis(1.0).withColumn("rid",
      monotonically_increasing_id())
    val (grid, _) = GridOps.makeGrid(spark, vis, p32)
    // tiny budget -> must route through the relational path; results
    // still equal the broadcast path bitwise
    val forced = GridOps.degridVis(vis, grid, p32, Seq("rid"),
      maxBroadcastBytes = 0L)
    val bcast = GridOps.degridVisBroadcast(vis, grid, p32, Seq("rid"))
    val mism = forced.as("a").join(bcast.as("b"),
        Seq("img_chan", "pol", "rid"))
      .where(col("a.model_re") =!= col("b.model_re") ||
        col("a.model_im") =!= col("b.model_im")).count()
    assert(mism === 0L)
    assert(forced.count() === bcast.count())
  }

  test("imaging weights: natural is identity; briggs between natural and uniform") {
    val vis = pointSourceVis(1.0)
    val nat = GridOps.makeImagingWeight(vis, p32, "natural")
    assert(nat.where(col("imaging_weight") =!= col("weight")).count() === 0)
    val br = GridOps.makeImagingWeight(vis, p32, "briggs", robust = 0.5)
    assert(br.where(col("imaging_weight").isNull).count() === 0)
  }

  test("makeImagingWeight rejects an unknown weighting, naming it") {
    val vis = pointSourceVis(1.0)
    for (bad <- Seq("Briggs", "robust", "")) {
      val e = intercept[IllegalArgumentException] {
        GridOps.makeImagingWeight(vis, p32, bad)
      }
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  // Imaging-weight fixture in grid units: su/sv are the scaled uv the
  // cell index floors (cell = floor(su + 16.5)); every su/sv sits 0.2+
  // from a cell edge so the driver reference cannot round differently.
  // Two img_chans x two pols with differently distributed weights give
  // four planes with distinct robust factors (two once polAverage
  // shares each pol group's mean). Row rid is one pol group.
  private val iwFreq = 1.5e9
  private val iwScale = iwFreq * (-0.002 * 32 / GridOps.SpeedOfLight)
  private def iwRows: Seq[(Int, Int, Double, Double, Option[Double], Int)] = {
    val rng = new scala.util.Random(11)
    def off() = (rng.nextInt(7) - 3) + (rng.nextDouble() - 0.5) * 0.6
    val regular = (0 until 60).flatMap { rid =>
      val (su, sv) = (off(), off())
      Seq((rid % 2, 0, su, sv, Some(0.5 + rng.nextDouble()), rid),
        (rid % 2, 1, su, sv, Some(3.0 * math.pow(rng.nextDouble(), 2)), rid))
    }
    val edge = Seq(
      (60, -15.8, 2.1, Some(1.25), Some(0.75)), // conjugate cell u=32: off grid
      (61, 20.1, 1.2, Some(2.0), Some(1.0)),    // primary cell u=36: off grid
      (62, 1.1, -2.2, Some(0.0), Some(0.0)),    // zero weights
      (63, 0.9, 1.1, None, Some(2.0)),          // one null leg
      (64, -1.2, 0.8, None, None)               // both legs null
    ).flatMap { case (rid, su, sv, w0, w1) =>
      Seq((0, 0, su, sv, w0, rid), (0, 1, su, sv, w1, rid))
    }
    regular ++ edge
  }
  private def iwVis = iwRows.map { case (ch, pol, su, sv, w, rid) =>
    (ch, pol, su / iwScale, sv / iwScale, iwFreq, w, rid)
  }.toDF("img_chan", "pol", "u", "v", "freq", "weight", "rid")

  /** The dense weighting replayed on the driver in plain Scala:
    * (rid, pol) -> (u_cell, v_cell, in grid, imaging weight), the
    * robust factor f2 per plane, and the in-grid rows whose conjugate
    * cell is off grid.
    */
  private def iwReference(weighting: String, polAverage: Boolean)
      : (Map[(Int, Int), (Int, Int, Boolean, Option[Double])], Map[(Int, Int), Double],
        Set[(Int, Int)]) = {
    val rows = iwVis.collect().map { r =>
      (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getInt(6))
    }
    def cell(x: Double, f: Double) =
      math.floor(x * (f * (-0.002 * 32 / GridOps.SpeedOfLight)) + 16 + 0.5).toInt
    def in(c: Int) = c >= 0 && c < 32
    val polMean = rows.groupBy(_._7).map { case (rid, g) =>
      val ws = g.flatMap(_._6)
      rid -> (if (ws.isEmpty) None else Some(ws.sum / ws.length))
    }
    val cells = rows.map { case (ch, pol, u, v, f, w, rid) =>
      (ch, pol, rid, cell(u, f), cell(v, f), cell(-u, f), cell(-v, f),
        if (polAverage) polMean(rid) else w)
    }
    val grid = scala.collection.mutable.Map.empty[(Int, Int), Array[Double]]
    val sumW = scala.collection.mutable.Map.empty[(Int, Int), Double].withDefaultValue(0.0)
    for ((ch, pol, _, uc, vc, ucj, vcj, Some(w)) <- cells if in(uc) && in(vc)) {
      val g = grid.getOrElseUpdate((ch, pol), new Array[Double](32 * 32))
      g(uc * 32 + vc) += w
      if (in(ucj) && in(vcj)) g(ucj * 32 + vcj) += w
      sumW((ch, pol)) += 2 * w
    }
    val f2 = grid.map { case (k, g) =>
      k -> (if (weighting == "briggs")
        math.pow(5.0 * math.pow(10.0, -0.5), 2) / (g.map(x => x * x).sum / sumW(k))
      else 1.0)
    }.toMap
    val f1 = if (weighting == "briggs") 1.0 else 0.0
    val out = cells.map { case (ch, pol, rid, uc, vc, _, _, w) =>
      val inGrid = in(uc) && in(vc)
      val iw = w.map { nat =>
        val cw = if (inGrid) grid.get((ch, pol)).map(_(uc * 32 + vc)).getOrElse(0.0) else 0.0
        if (!inGrid || nat == 0.0 || cw == 0.0) nat else nat / (f2((ch, pol)) * cw + f1)
      }
      (rid, pol) -> (uc, vc, inGrid, iw)
    }.toMap
    val conjOff = cells.collect {
      case (_, pol, rid, uc, vc, ucj, vcj, _) if in(uc) && in(vc) && !(in(ucj) && in(vcj)) =>
        (rid, pol)
    }.toSet
    (out, f2, conjOff)
  }

  for (weighting <- Seq("briggs", "uniform"); polAverage <- Seq(false, true))
    test(s"dense $weighting weights (polAverage=$polAverage) equal a plain-Scala reference") {
      val (ref, f2, conjOff) = iwReference(weighting, polAverage)
      // the fixture holds the cases it claims to
      if (weighting == "briggs") assert(f2.values.toSet.size >= 2, f2)
      assert(conjOff === Set((60, 0), (60, 1)))
      assert(!ref((61, 0))._3)
      val iw = GridOps.makeImagingWeight(iwVis.repartition(3), p32, weighting,
        robust = 0.5, polAverage = polAverage, rowKeyCols = Seq("rid"))
      val expectCols =
        if (polAverage) Seq("img_chan", "pol", "u_cell", "v_cell", "rid", "u", "v",
          "freq", "weight", "_in_grid", "imaging_weight")
        else Seq("img_chan", "pol", "u_cell", "v_cell", "u", "v", "freq",
          "weight", "rid", "_in_grid", "imaging_weight")
      val types = Map("u" -> "DoubleType", "v" -> "DoubleType",
        "freq" -> "DoubleType", "weight" -> "DoubleType",
        "_in_grid" -> "BooleanType", "imaging_weight" -> "DoubleType")
      assert(iw.dtypes.toSeq === expectCols.map(c => c -> types.getOrElse(c, "IntegerType")))
      val got = iw.select("rid", "pol", "u_cell", "v_cell", "_in_grid", "imaging_weight")
        .collect()
      assert(got.length === iwRows.length)
      for (r <- got) {
        val key = (r.getInt(0), r.getInt(1))
        val (uc, vc, inGrid, want) = ref(key)
        assert((r.getInt(2), r.getInt(3), r.getBoolean(4)) === ((uc, vc, inGrid)), key)
        val have = if (r.isNullAt(5)) None else Some(r.getDouble(5))
        assert(have.isDefined === want.isDefined, s"$key: $have vs $want")
        for (h <- have; w <- want)
          assert(math.abs(h - w) <= 1e-12 * math.max(math.abs(w), 1e-300),
            s"$key: $h vs reference $w")
      }
      // zero and null weights pass through; an off-grid row keeps its weight
      assert(ref((62, 0))._4 === Some(0.0))
      assert(ref((64, 0))._4 === None)
      assert(ref((61, 0))._4 === Some(if (polAverage) 1.5 else 2.0))
    }

  test("briggs makeImagingWeight scans its parquet source once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_iw").toString + "/vis"
    iwVis.write.parquet(dir)
    val vis = spark.read.parquet(dir)
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val n = GridOps.makeImagingWeight(vis, p32, "briggs", robust = 0.5)
        .collect().length
      assert(n === iwRows.length)
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(scans.get === 1, s"${scans.get} stages scanned the parquet source")
  }
}
