package graft

import org.apache.spark.sql.functions._
import graft.operators.AverageOps
import graft.operators.AverageOps.Weighted

class AverageOpsSpec extends SparkSpec {
  import spark.implicits._

  // 2 keys x 6 chans
  private def cube = (for (k <- 0 until 2; c <- 0 until 6)
    yield (k, c, (k * 10 + c).toDouble, (c % 3 + 1).toDouble))
    .toDF("key", "chan", "v", "w")

  test("chanAverage width=1 is identity (chan_average.py:32)") {
    val out = AverageOps.chanAverage(cube, "chan", 1, Seq("key"),
      Seq(Weighted("v", "w")))
    assert(out.count() === cube.count())
    val got = out.orderBy("key", "chan").select("v").as[Double].collect()
    val want = cube.orderBy("key", "chan").select("v").as[Double].collect()
    got.zip(want).foreach { case (g, e) => assert(approx(g, e)) }
  }

  test("chanAverage computes weighted mean and summed weight") {
    val df = Seq((0, 0, 10.0, 1.0), (0, 1, 20.0, 3.0)).toDF("key", "chan", "v", "w")
    val out = AverageOps.chanAverage(df, "chan", 2, Seq("key"), Seq(Weighted("v", "w")))
    val r = out.head()
    assert(approx(r.getAs[Double]("v"), (10.0 * 1 + 20.0 * 3) / 4))
    assert(approx(r.getAs[Double]("w"), 4.0))
  }

  test("chanAverage trims only the incomplete trailing bin, keeps interior holes") {
    // chans 0,1,2,4,5,6 of width 2 + nchan=7: chan 6 trimmed (bound 6),
    // interior hole at chan 3 keeps bin 1
    val df = Seq(0, 1, 2, 4, 5, 6).map(c => (0, c, c.toDouble, 1.0))
      .toDF("key", "chan", "v", "w")
    val out = AverageOps.chanAverage(df, "chan", 2, Seq("key"), Seq(Weighted("v", "w")))
    val bins = out.select("chan").as[Int].collect().sorted.toSeq
    assert(bins === Seq(0, 1, 2))
    val bin1 = out.where($"chan" === 1).head()
    assert(approx(bin1.getAs[Double]("v"), 2.0)) // only chan 2 present
  }

  test("trimmed chanAverage scans its parquet source once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ca").toString + "/cube"
    cube.write.parquet(dir)
    val in = spark.read.parquet(dir)
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
      // 6 chans of width 4: bin 1 (chans 4, 5) is incomplete and trimmed
      val avg = AverageOps.chanAverage(in, "chan", 4, Seq("key"),
        Seq(Weighted("v", "w")))
      assert(avg.columns.toSeq === Seq("key", "chan", "v", "w"))
      val out = avg.collect()
      assert(out.map(_.getAs[Int]("chan")).toSet === Set(0))
      assert(out.length === 2)
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(scans.get === 1, s"${scans.get} stages scanned the parquet source")
  }

  test("timeAverage resample groups into tumbling windows") {
    val df = Seq(
      ("2024-01-01 00:00:00", 0, 1.0, 1.0),
      ("2024-01-01 00:00:05", 0, 3.0, 1.0),
      ("2024-01-01 00:00:12", 0, 5.0, 1.0))
      .toDF("ts", "key", "v", "w")
      .withColumn("ts", to_timestamp($"ts"))
    val out = AverageOps.timeAverage(df, "ts", "10 seconds", Seq("key"), Nil,
      Seq(Weighted("v", "w")))
    assert(out.count() === 2)
    val first = out.orderBy($"time_bin.start").head()
    assert(approx(first.getAs[Double]("v"), 2.0))
  }

  test("timeAverageBin bins every N distinct times") {
    val df = (0 until 6).map(t => (f"2024-01-0${t + 1} 00:00:00", 0, t.toDouble, 1.0))
      .toDF("ts", "key", "v", "w")
      .withColumn("ts", to_timestamp($"ts"))
    val out = AverageOps.timeAverageBin(df, "ts", 3, Seq("key"), Nil,
      Seq(Weighted("v", "w")))
    assert(out.count() === 2)
    val v0 = out.where($"time_bin" === 0).head().getAs[Double]("v")
    assert(approx(v0, 1.0)) // mean of 0,1,2
  }

  test("chanSmooth default leaves partial edge windows null (reference NaN parity)") {
    val df = Seq((0, 0, 1.0), (0, 1, 2.0), (0, 2, 3.0), (0, 3, 4.0))
      .toDF("key", "chan", "v")
    val out = AverageOps.chanSmooth(df, "chan", Seq("key"), Seq("v"),
      AverageOps.Kernels.boxcar(3)).orderBy("chan")
    val vs = out.select("v").collect().map(r => Option(r.get(0)))
    assert(vs(0).isEmpty && vs(3).isEmpty)
    assert(approx(vs(1).get.asInstanceOf[Double], 2.0))
    assert(approx(vs(2).get.asInstanceOf[Double], 3.0))
  }

  test("chanSmooth minPeriods=1 renormalizes over present taps") {
    val df = Seq((0, 0, 1.0), (0, 1, 2.0)).toDF("key", "chan", "v")
    val out = AverageOps.chanSmooth(df, "chan", Seq("key"), Seq("v"),
      AverageOps.Kernels.boxcar(3), minPeriods = 1).orderBy("chan")
    val vs = out.select("v").as[Double].collect()
    assert(approx(vs(0), 1.5) && approx(vs(1), 1.5))
  }

  test("saltedWeightedAverage matches the direct weighted average") {
    val df = (for (k <- 0 until 3; i <- 0 until 200)
      yield (k, (i % 17 + 1).toDouble, (i % 5 + 1).toDouble)).toDF("key", "v", "w")
    val direct = df.groupBy("key")
      .agg((sum($"v" * $"w") / sum($"w")).as("v"), sum($"w").as("w"))
    val salted = AverageOps.saltedWeightedAverage(df, Seq("key"),
      Seq(Weighted("v", "w")), salts = 8)
    val d = direct.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val s = salted.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    d.foreach { case (k, (v, w)) =>
      assert(approx(s(k)._1, v) && approx(s(k)._2, w))
    }
  }

  test("reframe at zero velocity is the identity; doppler shift interpolates") {
    val f0 = 1.0e9; val dfHz = 1.0e6; val c = 299792458.0
    val spec = (0 until 10).map(ch => (1, ch, ch * 10.0, 0.0))
      .toDF("id", "chan", "v", "vel")
    val ident = AverageOps.reframe(spec, Seq("id"), "chan", Seq("v"), "vel",
        f0, dfHz)
      .select("chan", "v_reframed")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    (0 until 10).foreach(ch => assert(ident(ch) === ch * 10.0))

    val vel = 3.0e5 // ~1e-3 c: shifts ~1 channel at 1 GHz
    val spec2 = (0 until 10).map(ch => (1, ch, ch * 10.0, vel))
      .toDF("id", "chan", "v", "vel")
    val out = AverageOps.reframe(spec2, Seq("id"), "chan", Seq("v"), "vel",
        f0, dfHz)
      .select("chan", "v_reframed")
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    // expected: value at fractional input position, linearly interpolated
    def pos(ch: Int) = ((f0 + ch * dfHz) / (1.0 - vel / c) - f0) / dfHz
    val p0 = pos(0); val c0 = math.floor(p0).toInt; val w = p0 - c0
    val expect = (1.0 - w) * (c0 * 10.0) + w * ((c0 + 1) * 10.0)
    assert(approx(out(0).get.asInstanceOf[Double], expect, 1e-12))
    // last channels shift past the band edge -> null
    assert(out(9).isEmpty)
  }

  test("kernels are normalized to unit sum") {
    for (k <- Seq(AverageOps.Kernels.boxcar(5), AverageOps.Kernels.triang(5),
      AverageOps.Kernels.hann(5), AverageOps.Kernels.hamming(5),
      AverageOps.Kernels.blackman(5), AverageOps.Kernels.gaussian(5, 1.5)))
      assert(approx(k.sum, 1.0))
  }
}
