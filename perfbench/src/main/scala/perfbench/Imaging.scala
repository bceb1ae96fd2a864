package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{AverageOps, CleanOps, FlagOps, GridOps}
import graft.sources.IoOps

/** imaging: the synthesis-imaging pipeline over a DDI-partitioned
  * visibility store written once in set-up. Each pass reads a seeded
  * DDI selection, flags, averages channels, computes briggs weights,
  * grids image and PSF, cleans and writes the image.
  */
final class Imaging(cfg: Config) extends Workload {
  val Ddis = 4
  val Selected = 2
  val Antennas: Int = if (cfg.tiny) 6 else 24
  val Times: Int = if (cfg.tiny) 4 else 8
  val Chans = 16
  val Pols = 2
  val ChanWidth = 4
  val Grid: Int = if (cfg.tiny) 64 else 128
  /** Cell size in radians; keeps the longest baseline inside the grid. */
  val Cell = 7e-5
  val Params: GridOps.GridParams = GridOps.GridParams((Grid, Grid), (Cell, Cell),
    imageSize = Some((Grid / 2, Grid / 2)))
  val ClipMax = 20.0
  val CleanIters = 100

  /** Array radius in meters. */
  val ArrayRadius = 500.0
  /** A timed loop runs at least this many passes, for a steady median. */
  val MinPasses = 6

  val kinds: Seq[String] = Seq("pass")

  override def minSteps(traced: Boolean): Long = MinPasses

  private val baselines = Antennas * (Antennas - 1) / 2
  private val rowsPerDdi = Times.toLong * baselines * Chans * Pols
  private val selection: Seq[Int] =
    new scala.util.Random(cfg.seed).shuffle((0 until Ddis).toList).take(Selected).sorted
  private var dir: File = _
  private var visPath: String = _
  private var imagePath: String = _
  private var firstChecksum: Option[Double] = None

  /** Seeded long-form visibilities: three point sources observed by a
    * random array over a range of hour angles, plus noise, a few
    * outliers for the flagger and a few pre-flagged rows.
    */
  private def visibilities(ctx: Ctx): DataFrame = {
    val r = new java.util.Random(cfg.seed)
    // antennas uniform in a disk: the longest baseline stays inside the
    // grid for every seed, so every seed grids the same number of rows
    val (xs, ys) = Array.fill(Antennas) {
      val (rad, ang) = (ArrayRadius * math.sqrt(r.nextDouble()), 2 * math.Pi * r.nextDouble())
      (rad * math.cos(ang), rad * math.sin(ang))
    }.unzip
    val pairs = for (i <- 0 until Antennas; j <- i + 1 until Antennas) yield (i, j)
    val bx = typedLit(pairs.map { case (i, j) => xs(j) - xs(i) }.toArray)
    val by = typedLit(pairs.map { case (i, j) => ys(j) - ys(i) }.toArray)
    val sources = Seq((0, 0, 1.0), (12, -7, 0.6), (-20, 15, 0.4))
    def noise(salt: Int): Column =
      pmod(xxhash64(col("id"), lit(cfg.seed), lit(salt)), lit(1000000)) / 1e6
    val id = col("id")
    val perTime = baselines.toLong * Chans * Pols
    val base = ctx.spark.range(0L, Ddis * rowsPerDdi, 1L, ctx.cfg.cores)
      .select(id,
        (id / rowsPerDdi).cast("int").as("ddi"),
        (id / perTime % Times).cast("int").as("time"),
        (id / (Chans * Pols) % baselines).cast("int").as("baseline"),
        (id / Pols % Chans).cast("int").as("chan"),
        (id % Pols).cast("int").as("pol"))
      .withColumn("h", lit(-0.6) + col("time") * (1.2 / Times))
      .withColumn("bx", element_at(bx, col("baseline") + 1))
      .withColumn("by", element_at(by, col("baseline") + 1))
      .withColumn("u", sin(col("h")) * col("bx") + cos(col("h")) * col("by"))
      .withColumn("v", cos(col("h")) * col("bx") * -math.sin(0.6) +
        sin(col("h")) * col("by") * math.sin(0.6) + col("by") * (math.cos(0.6) * 0.2))
      .withColumn("freq", lit(1.2e9) + col("ddi") * 1e8 + col("chan") * 2e6)
    val phases = sources.map { case (l, m, _) =>
      (col("u") * (l * Cell) + col("v") * (m * Cell)) * col("freq") *
        (2 * math.Pi / 299792458.0)
    }
    val scale = when(pmod(xxhash64(id, lit(cfg.seed), lit(3)), lit(400)) === 0, 200.0)
      .otherwise(1.0)
    val re = sources.zip(phases).map { case ((_, _, f), ph) => cos(ph) * f }.reduce(_ + _)
    val im = sources.zip(phases).map { case ((_, _, f), ph) => sin(ph) * f }.reduce(_ + _)
    base.select(col("ddi"), col("time"), col("baseline"), col("chan"), col("pol"),
      col("u"), col("v"),
      ((re + (noise(1) - 0.5) * 0.1) * scale).as("re"),
      ((im + (noise(2) - 0.5) * 0.1) * scale).as("im"),
      (noise(4) + 0.5).as("weight"),
      (pmod(xxhash64(id, lit(cfg.seed), lit(5)), lit(1000)) === 0).as("flag"),
      col("freq"))
  }

  def setup(ctx: Ctx, d: File): Unit = {
    dir = d
    visPath = new File(d, "vis").getAbsolutePath
    imagePath = new File(d, "image").getAbsolutePath
    IoOps.writeVis(visibilities(ctx), visPath, partitionBy = Seq("ddi"))
    pass(ctx) // warm-up
    ctx.spark.catalog.clearCache()
  }

  def teardown(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    if (dir != null) Dirs.deleteTree(dir)
  }

  /** One pipeline pass. Returns per plane (img_chan, pol) the PSF value
    * at the phase center and the PSF maximum.
    */
  private def pass(ctx: Ctx): Seq[((Int, Int), (Double, Double))] = {
    val spark = ctx.spark
    val psfPeaks = ctx.tracer.span("imaging.grid") {
      val vis = IoOps.readVis(spark, visPath, Map("ddi" -> selection))
      val flagged = FlagOps.autoClip(vis, "flag",
        sqrt(col("re") * col("re") + col("im") * col("im")), 0.0, ClipMax)
      val avg = AverageOps.chanAverage(
        flagged.where(!col("flag")).withColumn("weight_im", col("weight")),
        "chan", ChanWidth, keys = Seq("ddi", "time", "baseline", "pol"),
        weighted = Seq(AverageOps.Weighted("re", "weight"),
          AverageOps.Weighted("im", "weight_im")),
        plain = Seq("u", "v", "freq"))
      val weighted = GridOps.makeImagingWeight(
          avg.withColumnRenamed("chan", "img_chan"), Params, "briggs", robust = 0.5)
        .withColumn("weight", col("imaging_weight"))
        .select("img_chan", "pol", "u", "v", "re", "im", "weight", "freq")
      val (img, psf) = GridOps.makeImageAndPsf(spark, weighted, Params)
      val c = Grid / 4
      val peaks = psf.groupBy("img_chan", "pol")
        .agg(max(when(col("l_idx") === c && col("m_idx") === c, col("image"))),
          max(col("image")))
        .collect().toSeq
        .map(r => ((r.getInt(0), r.getInt(1)), (r.getDouble(2), r.getDouble(3))))
      (img, psf, peaks)
    }
    val (img, psf, peaks) = psfPeaks
    ctx.tracer.span("imaging.clean_write") {
      val n = Grid / 2
      IoOps.writeImage(CleanOps.cleanPlanes(spark, img, psf, n, n, n, n,
        gain = 0.1, threshold = 0.01, niter = CleanIters), imagePath)
    }
    spark.catalog.clearCache() // the planes makeImageAndPsf cached
    peaks.sortBy(_._1)
  }

  def step(ctx: Ctx): Unit =
    ctx.op("pass", "imaging.pass")(pass(ctx)).foreach { d =>
      val id = d.id
      ctx.phase.rowRates += Selected * rowsPerDdi / d.seconds
      ctx.verify(id, "PSF peaks at 1 at the phase center", 1.0, d.value)(
        (one, ps) =>
          if (ps.length != (Chans / ChanWidth) * Pols)
            Some(s"expected ${(Chans / ChanWidth) * Pols} planes, got ${ps.length}")
          else ps.collectFirst {
            case (plane, (center, peak)) if math.abs(center - one) > 1e-2 ||
                center < peak - 1e-9 =>
              s"plane $plane: PSF center $center, maximum $peak"
          })(_ => 0.5)
      val sum = checksum(ctx)
      val first = firstChecksum.getOrElse { firstChecksum = Some(sum); sum }
      ctx.verify(id, "image checksum equals the first pass's", first, sum)(
        (a, b) => if (Checks.close(a, b)) None else Some(s"checksum $b, first pass $a"))(
        _ + 1.0)
    }

  /** An order-free checksum of the written image's model and residual. */
  private def checksum(ctx: Ctx): Double =
    IoOps.readVis(ctx.spark, imagePath)
      .agg(sum(col("model") * (col("l_idx") + 1) + col("residual") * (col("m_idx") + 7)))
      .head().getDouble(0)

  def bytesPerRow(ctx: Ctx): Double =
    Layers.bytesOnDisk(visPath).toDouble / (Ddis * rowsPerDdi)
}
