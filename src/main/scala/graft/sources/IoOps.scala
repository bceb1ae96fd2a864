package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset I/O surface (SURVEY.md §2.1): the Spark re-expression of the
  * reference's zarr store layer. Partitioned zstd parquet plays the
  * role of chunked+blosc-zstd zarr (cngi/dio/write_vis.py:61-62);
  * Hive-style partition directories play the role of per-DDI stores,
  * giving partition pruning for free (read_vis partition arg,
  * cngi/dio/read_vis.py:183-191). S3 reads (read_vis.py:70-179) come
  * free through the hadoop s3a filesystem — same API, `s3a://` path.
  */
object IoOps {

  /** write_vis (cngi/dio/write_vis.py:26-95): persist a visibility
    * table, partitioned on disk by the given keys, zstd-compressed.
    * `repartitionBy` plays the chunks_on_disk role: it sizes the files
    * inside each partition directory (the reference's chunk-shape knob,
    * which its own benchmark shows is THE performance factor).
    */
  def writeVis(df: DataFrame, path: String,
               partitionBy: Seq[String] = Nil,
               repartitionTo: Option[Int] = None,
               mode: String = "overwrite"): Unit = {
    val sized = repartitionTo.map(n =>
      if (partitionBy.nonEmpty)
        df.repartition(n, partitionBy.map(col): _*)
      else df.repartition(n)).getOrElse(df)
    val w = sized.write.mode(mode).option("compression", "zstd")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Generic-format sink: the multi-format face of [[writeVis]] for
    * interchange stores — `orc` (columnar, full type fidelity, splits
    * like parquet) and `json` (JSONL, the crawl/export interchange
    * format). Same partition/size dials as the parquet path; at 100 TB
    * the format choice changes codecs and footers, never the plan.
    */
  def writeTable(df: DataFrame, path: String, format: String,
                 partitionBy: Seq[String] = Nil,
                 repartitionTo: Option[Int] = None,
                 mode: String = "overwrite",
                 options: Map[String, String] = Map.empty): Unit = {
    val sized = repartitionTo.map(n =>
      if (partitionBy.nonEmpty)
        df.repartition(n, partitionBy.map(col): _*)
      else df.repartition(n)).getOrElse(df)
    val w = sized.write.mode(mode).format(format).options(options)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path)
  }

  /** Generic-format source. For schemaless text formats (JSONL, CSV)
    * pass the writer's schema explicitly — inference would widen
    * integer columns and break round-trip fidelity; ORC carries its
    * own types.
    */
  def readTable(spark: SparkSession, path: String, format: String,
                schema: Option[org.apache.spark.sql.types.StructType] = None,
                options: Map[String, String] = Map.empty)
      : DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(s => r.schema(s)).load(path)
  }

  /** read_vis (cngi/dio/read_vis.py:21,183-191): lazy open with
    * optional partition selection — the WHERE on partition columns is
    * pruned at planning time (only the selected directories are read).
    */
  def readVis(spark: SparkSession, path: String,
              partitionFilter: Map[String, Seq[Any]] = Map.empty): DataFrame = {
    val df = spark.read.parquet(path)
    partitionFilter.foldLeft(df) { case (d, (k, vs)) =>
      d.where(col(k).isin(vs: _*))
    }
  }

  /** describe_vis (cngi/dio/describe_vis.py:21-56): one summary row per
    * partition — row count, distinct times/baselines/chans/pols.
    * A single grouped aggregate (the reference loops partitions and
    * opens each store; here it is one scan of footer-pruned columns).
    */
  def describeVis(df: DataFrame, partitionCol: String,
                  timeCol: String, baselineCol: String,
                  chanCol: String, polCol: String): DataFrame =
    df.groupBy(col(partitionCol).as("xds"))
      .agg(count(lit(1)).as("rows"),
        countDistinct(col(timeCol)).as("times"),
        countDistinct(col(baselineCol)).as("baselines"),
        countDistinct(col(chanCol)).as("chans"),
        countDistinct(col(polCol)).as("pols"))
      .orderBy("xds")

  /** append_xds (cngi/dio/append_xds.py:26-181): add columns to an
    * existing store without rewriting it — write the new columns as a
    * keyed sidecar table; readers join it back. (The reference itself
    * documents in-place zarr column-append as fragile; the sidecar +
    * join view is the robust columnar equivalent.)
    */
  def appendColumns(base: DataFrame, sidecarPath: String,
                    keys: Seq[String], newCols: DataFrame): Unit =
    newCols.write.mode("overwrite").option("compression", "zstd")
      .parquet(sidecarPath)

  def readWithSidecar(spark: SparkSession, basePath: String,
                      sidecarPath: String, keys: Seq[String]): DataFrame =
    spark.read.parquet(basePath)
      .join(spark.read.parquet(sidecarPath), keys, "left")

  /** Rewrite-merge compaction of a sidecar append: materialize the
    * joined view as a single store, after which readers drop the join.
    * The reference's in-place zarr column-append rewrites chunk files
    * similarly; here compaction is an explicit maintenance step (run
    * it when the sidecar count or join cost grows), keeping the
    * happy-path append O(new columns) only.
    */
  def compactSidecar(spark: SparkSession, basePath: String,
                     sidecarPath: String, keys: Seq[String],
                     outPath: String,
                     partitionBy: Seq[String] = Nil,
                     repartitionTo: Option[Int] = None): Unit =
    writeVis(readWithSidecar(spark, basePath, sidecarPath, keys),
      outPath, partitionBy, repartitionTo)

  /** read_image / write_image (cngi/dio/read_image.py, write_image.py):
    * image datasets use the same partitioned-parquet layout as vis
    * (keys (l_idx, m_idx, time, chan, pol) instead of the vis dims).
    */
  def readImage(spark: SparkSession, path: String,
                partitionFilter: Map[String, Seq[Any]] = Map.empty): DataFrame =
    readVis(spark, path, partitionFilter)

  def writeImage(df: DataFrame, path: String,
                 partitionBy: Seq[String] = Nil): Unit =
    writeVis(df, path, partitionBy)

  /** Bucketed write for co-located joins: two vis stores bucketed and
    * sorted on the same keys join WITHOUT a shuffle (the join_vis /
    * join_dataset hot path at 100 TB). Bucketing requires the table
    * catalog (`saveAsTable` with an explicit path), which is why it is
    * a separate entry point from the plain partitioned write.
    * NOTE: bucket metadata lives in the catalog — with the default
    * in-memory metastore it is visible only within the writing
    * session; production use needs a shared metastore.
    */
  def writeVisBucketed(df: DataFrame, table: String, path: String,
                       bucketBy: Seq[String], numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .option("path", path)
      .bucketBy(numBuckets, bucketBy.head, bucketBy.tail: _*)
      .sortBy(bucketBy.head, bucketBy.tail: _*)
      .saveAsTable(table)

  /** Z-order (Morton) interleave key over up to 4 numeric columns —
    * pure native bit arithmetic (shiftleft/and/or fold), entirely
    * inside whole-stage codegen. Each column is min/max-scaled to
    * `bits` bits; bit j of column i lands at position j*n + i. The
    * interleaved key must fit a signed long: n*bits <= 63, so 4
    * columns need bits <= 15 (writeZordered clamps automatically).
    */
  def zorderKey(cols: Seq[org.apache.spark.sql.Column],
                mins: Seq[Double], maxs: Seq[Double],
                bits: Int = 16): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.length <= 4 && cols.length * bits <= 63)
    val maxQ = (1L << bits) - 1
    val n = cols.length
    val quantized = cols.zipWithIndex.map { case (c, i) =>
      val range = maxs(i) - mins(i)
      val scaled =
        if (range > 0) (c.cast("double") - mins(i)) / range * maxQ
        else lit(0.0)
      least(greatest(scaled.cast("long"), lit(0L)), lit(maxQ))
    }
    quantized.zipWithIndex.foldLeft(lit(0L)) { case (acc0, (q, i)) =>
      (0 until bits).foldLeft(acc0) { (acc, j) =>
        acc.bitwiseOR(shiftleft(q.bitwiseAND(lit(1L << j)), j * (n - 1) + i))
      }
    }
  }

  /** Hilbert-curve key over exactly 2 numeric columns — same min/max
    * quantization as [[zorderKey]], then the native
    * [[graft.functions.HilbertIndex]] xy2d transform (whole-stage
    * codegen, constant code size). Versus Morton, consecutive Hilbert
    * keys are always GRID NEIGHBORS, so range-repartitioned files
    * cover one compact blob of the (x, y) plane with no diagonal
    * seams — tighter footer min/max boxes, better multi-dimensional
    * range skipping.
    */
  def hilbertKey(x: org.apache.spark.sql.Column,
                 y: org.apache.spark.sql.Column,
                 mins: Seq[Double], maxs: Seq[Double],
                 bits: Int = 16): org.apache.spark.sql.Column = {
    require(mins.length == 2 && maxs.length == 2 && bits * 2 <= 62)
    val maxQ = (1L << bits) - 1
    val quantized = Seq(x, y).zipWithIndex.map { case (c, i) =>
      val range = maxs(i) - mins(i)
      val scaled =
        if (range > 0) (c.cast("double") - mins(i)) / range * maxQ
        else lit(0.0)
      least(greatest(scaled.cast("long"), lit(0L)), lit(maxQ))
    }
    graft.functions.HilbertIndex(quantized(0), quantized(1), bits)
  }

  /** Hilbert-clustered layout write — [[writeZordered]] with the
    * Morton key swapped for the Hilbert key (2-D only; the curve's
    * unit-step locality is what pays for the extra transform). Same
    * scale shape: one bounded min/max aggregate, one range exchange,
    * one within-partition sort.
    */
  def writeHilberted(df: DataFrame, path: String, xCol: String, yCol: String,
                     numFiles: Int = 32, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(xCol).cast("double")).as("min_x"),
      max(col(xCol).cast("double")).as("max_x"),
      min(col(yCol).cast("double")).as("min_y"),
      max(col(yCol).cast("double")).as("max_y")).head() // scalar, bounded
    def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    df.withColumn("_hkey", hilbertKey(col(xCol), col(yCol),
        Seq(d(0), d(2)), Seq(d(1), d(3)), bits))
      .repartitionByRange(numFiles, col("_hkey"))
      .sortWithinPartitions("_hkey")
      .select(df.columns.map(col): _*)
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
  }

  /** Z-ordered layout write — the data-skipping story at 100 TB. A
    * range repartition + within-partition sort on the Morton key makes
    * every output file's parquet row groups cover a small HYPERCUBE of
    * the key space instead of a random slice, so the footer min/max
    * stats prune multi-dimensional range predicates at scan time (the
    * lakehouse OPTIMIZE ZORDER BY shape, built from stock Spark ops:
    * one bounded min/max aggregate, one range exchange, one sort —
    * nothing driver-sized).
    */
  def writeZordered(df: DataFrame, path: String, zcols: Seq[String],
                    numFiles: Int = 32, bits: Int = 16): Unit = {
    val aggs = zcols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"min_$c"),
      max(col(c).cast("double")).as(s"max_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head() // scalar, bounded
    // empty input / all-null column → null aggregate; 0.0 collapses
    // that column's range so its quantized key bits are all zero
    def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val mins = zcols.indices.map(i => d(2 * i))
    val maxs = zcols.indices.map(i => d(2 * i + 1))
    // honor the documented 4-column support at the default bits=16 by
    // shrinking bits to keep the interleaved key inside a signed long
    val effBits = math.min(bits, 63 / zcols.length)
    df.withColumn("_zkey", zorderKey(zcols.map(col), mins, maxs, effBits))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .select(df.columns.map(col): _*)
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
  }

  /** MERGE (upsert + delete) into a keyed table — the lakehouse
    * copy-on-write primitive behind incremental corrections at 100 TB
    * (re-crawled documents, re-scored quality, retracted rows):
    * matched target rows are REPLACED by their change row (or dropped
    * when the change is flagged deleted), unmatched changes insert,
    * unmatched target survives. One key-partitioned anti-join + one
    * union — shuffle rides |target|+|changes| on the key, no
    * broadcast assumption (AQE broadcasts a small change set on its
    * own). Deterministic for any multiset input; key uniqueness is
    * NOT required (all rows of a matched key are replaced by all
    * change rows of that key).
    */
  def mergeUpsert(target: DataFrame, changes: DataFrame, keys: Seq[String],
                  deleteCol: Option[String] = None): DataFrame = {
    // NULL delete flag = NOT a delete (the row upserts): a bare
    // !col(c) would filter NULL rows out of the upserts while their
    // keys still anti-join the target away — a silent delete
    val upserts = deleteCol
      .map(c => changes.where(!coalesce(col(c), lit(false))).drop(c))
      .getOrElse(changes)
    val kept = target.join(
      changes.select(keys.map(col): _*).distinct(), keys, "left_anti")
    kept.unionByName(upserts)
  }

  /** SCD Type-2 apply — the dimension-HISTORY sibling of
    * [[mergeUpsert]] (which replaces; SCD2 versions): given a
    * versioned dimension (`keyCols ++ trackedCols ++ (valid_from,
    * valid_to, is_current)`, integer timestamps) and a change batch
    * (`keyCols ++ trackedCols ++ tsCol`), emit the next version of
    * the dimension:
    *   - a current row whose tracked attributes CHANGED is closed
    *     (valid_to = change ts, is_current = false) and a new current
    *     version inserts at the change ts;
    *   - an unchanged or untouched current row passes through;
    *   - a change for an unseen key inserts as a new current row;
    *   - history rows (is_current = false) always pass through.
    * Multiple changes per key in one batch collapse to the LATEST by
    * (ts, tracked...) struct order — deterministic for any multiset.
    * Attribute comparison is null-safe (`<=>`). Plan: one hash
    * aggregate on the change keys + ONE key-partitioned full-outer
    * join + unions — shuffle rides |current|+|changes| on the key,
    * no broadcast assumption (AQE handles a small batch), nothing
    * collected.
    */
  def scd2Apply(current: DataFrame, changes: DataFrame,
                keyCols: Seq[String], trackedCols: Seq[String],
                tsCol: String): DataFrame = {
    val outCols = (keyCols ++ trackedCols ++
      Seq("valid_from", "valid_to", "is_current")).map(col)
    val hist = current.where(!col("is_current")).select(outCols: _*)
    val live = current.where(col("is_current"))
      .withColumn("_cur", lit(true))
    val latest = changes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct((col(tsCol).as("_ts") +:
        trackedCols.map(n => col(n).as(s"_u_$n"))): _*)).as("_ch"))
      .select((keyCols.map(col) :+ col("_ch._ts").as("_u_ts")) ++
        trackedCols.map(n => col(s"_ch._u_$n").as(s"_u_$n")): _*)
      .withColumn("_upd", lit(true))
    val j = live.join(latest, keyCols, "full_outer")
    val differs = trackedCols
      .map(n => !(col(n) <=> col(s"_u_$n")))
      .reduce(_ || _)
    val isCur = coalesce(col("_cur"), lit(false))
    val isUpd = coalesce(col("_upd"), lit(false))
    // One joined row emits 0-2 output rows (closed + new version for
    // a changed key, one row otherwise). A where+union per branch
    // would make Catalyst re-derive the JOIN per branch (three scans
    // of each input — the Delta-MERGE expansion); building the
    // branches as conditional structs and exploding keeps ONE join
    // and one scan per side.
    val closedS = struct((keyCols ++ trackedCols).map(col) ++ Seq(
      col("valid_from"), col("_u_ts").as("valid_to"),
      lit(false).as("is_current")): _*)
    val keptS = struct(outCols: _*)
    val freshS = struct(keyCols.map(col) ++
      trackedCols.map(n => col(s"_u_$n").as(n)) ++ Seq(
      col("_u_ts").as("valid_from"),
      lit(null).cast(current.schema("valid_to").dataType)
        .as("valid_to"),
      lit(true).as("is_current")): _*)
    val branches = array(
      when(isCur && isUpd && differs, closedS),
      when(isCur && (!isUpd || !differs), keptS),
      when(isUpd && (!isCur || differs), freshS))
    val emitted = j
      .select(explode(filter(branches, _.isNotNull)).as("_r"))
      .select(col("_r.*"))
    hist.unionByName(emitted)
  }

  /** Open a parquet store with physical row lineage: every row carries
    * the (_file, _pos) identity deletion vectors address. Positions
    * come from the parquet scanner's own `_metadata.row_index` — stable
    * for immutable files by construction, computed by the reader (no
    * window, no shuffle, no stored id column).
    */
  def readWithLineage(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumn("_pos", col("_metadata.row_index"))

  /** Merge-on-read DELETE via deletion vectors — the read-optimized
    * sibling of [[mergeUpsert]] (which rewrites data files
    * copy-on-write). A delete is recorded as the (_file, _pos) pairs of
    * the doomed rows in a tiny sidecar — the Iceberg-v2
    * position-delete / Delta deletion-vector shape — so deleting 0.1%
    * of a 100 TB table writes megabytes, not the table.
    */
  def buildDeleteVector(lineage: DataFrame, predicate: Column): DataFrame =
    lineage.where(predicate).select(col("_file"), col("_pos"))

  /** Merge-on-read scan: base minus every vectored position, ONE
    * anti-join on (_file, _pos). The vector is typically tiny → AQE
    * broadcasts it and the scan stays shuffle-free; a pathological
    * vector degrades to a key-partitioned shuffle, never a rewrite.
    */
  def applyDeleteVector(lineage: DataFrame, dv: DataFrame): DataFrame =
    lineage.join(dv, Seq("_file", "_pos"), "left_anti")
      .drop("_file", "_pos")

  /** Commit a deletion vector as snapshot `version` of the store: an
    * append-only `v=` partition under dvRoot (dynamic partition
    * overwrite makes re-committing the same version idempotent). Each
    * version's files hold only ITS deletes; snapshot selection is
    * partition PRUNING at the DV scan, so time travel never reads
    * future versions' bytes.
    */
  def commitDeleteVector(dv: DataFrame, dvRoot: String, version: Int,
                         repartitionTo: Option[Int] = Some(1)): Unit =
    repartitionTo.map(dv.repartition(_)).getOrElse(dv)
      .withColumn("v", lit(version))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("v").parquet(dvRoot)

  /** Time-travel merge-on-read scan: the store AS OF snapshot
    * `version` — base minus all deletes committed at v <= version
    * (version 0 = the pristine table). Cumulative union of versions
    * comes from ONE pruned scan of the DV store; overlapping deletes
    * across versions are harmless (anti-join is idempotent).
    */
  def readAsOf(spark: SparkSession, basePath: String, dvRoot: String,
               version: Int): DataFrame = {
    // a DV store directory with no committed files = no deletes yet
    // (an empty change batch under partitionBy writes nothing) — serve
    // the plain scan instead of tripping schema inference on the empty
    // directory. A dvRoot that does not EXIST at all is different: for
    // version > 0 the caller asked for deletes that can't be found
    // (mistyped path), and serving the plain scan would silently
    // resurrect them — fail loudly instead.
    val dvPath = new org.apache.hadoop.fs.Path(dvRoot)
    val dvFs = dvPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvHasFiles: Boolean =
      dvFs.listStatus(dvPath).exists(s =>
        s.isDirectory || s.getPath.getName.endsWith(".parquet"))
    require(version <= 0 || dvFs.exists(dvPath),
      s"readAsOf(version=$version) needs the DV store at $dvRoot, but " +
        "the path does not exist — a mistyped dvRoot would silently " +
        "serve the table with all deletes resurrected")
    // version 0 never touches lineage: a plain scan, no _metadata
    // struct materialized per row
    if (version <= 0 || !dvHasFiles) spark.read.parquet(basePath)
    else applyDeleteVector(readWithLineage(spark, basePath),
      spark.read.parquet(dvRoot).where(col("v") <= version)
        .select("_file", "_pos"))
  }

  /** Bloom hash positions of a key: k independent affine-mod probes
    * on the house 1e9+7 prime, folded onto `bits` positions. Exact
    * integer math shared verbatim by [[bloomIndex]]'s build scan (as
    * Columns) and [[bloomProbeFiles]]'s driver-side probe (as Longs)
    * — the index is only correct because both sides compute the SAME
    * positions.
    */
  private val BloomMod = 1000000007L
  private val BloomMults = Seq(2654435761L, 2246822519L, 3266489917L,
    668265263L, 374761393L)

  private def bloomPos(key: Column, i: Int, bits: Int): Column =
    pmod(pmod(key, lit(BloomMod)) * lit(BloomMults(i)) + lit(i + 1),
      lit(BloomMod)) % lit(bits.toLong)

  /** All `hashes` Bloom positions of a key as an array Column — shared
    * by [[bloomIndex]]'s one-scan build, the streaming incremental
    * maintenance twin (graft.streaming.StreamingOps.BloomIndexState)
    * and the index stores' append dup-guard (IndexStore).
    */
  private[graft] def bloomPositions(key: Column, bits: Int,
                                    hashes: Int): Column = {
    require(hashes >= 1 && hashes <= BloomMults.size,
      s"hashes must be in [1, ${BloomMults.size}]")
    array((0 until hashes).map(bloomPos(key, _, bits)): _*)
  }

  private def bloomPosFn(key: Long, i: Int, bits: Int): Long = {
    val m = java.lang.Math.floorMod(key, BloomMod)
    java.lang.Math.floorMod(m * BloomMults(i) + (i + 1), BloomMod) %
      bits
  }

  /** Per-file Bloom data-skipping index over a point-lookup key — the
    * needle-in-100-TB companion to zone maps (`skipStats`): zone maps
    * skip on RANGES and die on high-cardinality scattered keys; a
    * Bloom index skips on MEMBERSHIP. One scan of (key, file) builds
    * the set of occupied hash positions per file (bounded by `bits`,
    * so the index is #files x O(bits) — dimension-sized however big
    * the table). No false negatives by construction; false positives
    * only cost an extra file read, never a wrong row — the read path
    * re-filters exactly.
    */
  def bloomIndex(spark: SparkSession, path: String, keyCol: String,
                 bits: Int = 65536, hashes: Int = 3): DataFrame =
    spark.read.parquet(path)
      .select(col("_metadata.file_path").as("_file"),
        explode(bloomPositions(col(keyCol).cast("long"), bits, hashes))
          .as("pos"))
      .groupBy("_file")
      .agg(sort_array(collect_set(col("pos"))).as("bloom"))
      // the index records the parameters it was built with — probing
      // with mismatched (bits, hashes) computes DIFFERENT positions and
      // silently skips files that do contain the key (false negatives),
      // so bloomProbeFiles validates these against its own arguments
      .withColumn("bits", lit(bits))
      .withColumn("hashes", lit(hashes))

  /** Fail fast when an index built with one (bits, hashes) pair is
    * probed with another — the mismatch would silently break the
    * no-false-negative contract. Indexes from before the parameters
    * were recorded (no bits/hashes columns) are trusted as before.
    */
  private def validateBloomParams(index: DataFrame, bits: Int,
                                  hashes: Int): Unit = {
    val cols = index.columns.toSet
    if (cols.contains("bits") && cols.contains("hashes")) {
      // one-row collect on the #files-bounded index — dimension-sized
      val mismatch = index
        .where(col("bits") =!= bits || col("hashes") =!= hashes)
        .select("bits", "hashes").limit(1).collect()
      require(mismatch.isEmpty, {
        val r = mismatch.head
        s"Bloom index was built with bits=${r.getInt(0)}, " +
          s"hashes=${r.getInt(1)} but probed with bits=$bits, " +
          s"hashes=$hashes — positions would not line up (silent " +
          "false negatives)"
      })
    }
  }

  /** Files that MAY contain any of the probe keys: a file qualifies
    * for key κ when all `hashes` positions of κ are occupied. The
    * collect is index-sized (#files rows) — the same driver-side
    * manifest pruning every lakehouse reader does.
    */
  def bloomProbeFiles(index: DataFrame, keys: Seq[Long],
                      bits: Int = 65536, hashes: Int = 3): Seq[String] = {
    if (keys.isEmpty) return Nil // no keys -> no candidate files
    validateBloomParams(index, bits, hashes)
    val anyKey = keys.map { key =>
      (0 until hashes)
        .map(i => array_contains(col("bloom"), bloomPosFn(key, i, bits)))
        .reduce(_ && _)
    }.reduce(_ || _)
    index.where(anyKey).select("_file").collect()
      .map(_.getString(0)).toSeq.sorted
  }

  /** Point-lookup read through the Bloom index: scan ONLY the
    * qualifying files, then re-filter exactly (false positives cost a
    * file read, never a row). An empty candidate set short-circuits to
    * an empty frame without touching storage.
    */
  def bloomSkipRead(spark: SparkSession, path: String, index: DataFrame,
                    keyCol: String, keys: Seq[Long],
                    bits: Int = 65536, hashes: Int = 3): DataFrame = {
    val files = bloomProbeFiles(index, keys, bits, hashes)
    val base =
      if (files.isEmpty)
        spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.where(col(keyCol).isin(keys: _*))
  }

  /** Purge compaction: materialize the merge-on-read view back to
    * plain data files — readers drop the anti-join and the DV store
    * resets. The maintenance step that bounds read amplification once
    * a vector grows past the broadcast regime.
    */
  def purgeDeletes(spark: SparkSession, basePath: String, dvRoot: String,
                   version: Int, outPath: String,
                   repartitionTo: Option[Int] = None): Unit =
    writeVis(readAsOf(spark, basePath, dvRoot, version), outPath,
      repartitionTo = repartitionTo)

  /** convert_image artifact merge (cngi/conversion/convert_image.py:
    * 84-137): sibling artifacts (psf, pb, residual, model, ...) become
    * one table with one value column per artifact — a chain of outer
    * joins on the image dims.
    */
  def mergeImageArtifacts(artifacts: Seq[(String, DataFrame)],
                          keys: Seq[String],
                          valueCol: String = "image"): DataFrame = {
    require(artifacts.nonEmpty)
    artifacts.map { case (name, df) =>
      df.withColumnRenamed(valueCol, name)
    }.reduce((a, b) => a.join(b, keys, "full_outer"))
  }

  /** Order-independent dataset fingerprint: one row per named table
    * with its row count and a content checksum — the "did anything
    * change since the last snapshot" primitive that pairs with
    * JoinOps.tableDiff (which says WHAT changed, at full-diff price;
    * this says WHETHER, at one-aggregate price).
    *
    * The checksum is Σ rowHash mod p over a caller-supplied integral
    * row-hash column — commutative, so it is independent of row order,
    * partitioning, and merge order, and replayable exactly in any
    * engine. The sum accumulates in DECIMAL(38,0) (Spark's decimal sum
    * ≡ DuckDB's HUGEINT sum) so it cannot overflow int64 at any row
    * count before the final mod. One hash aggregate per table,
    * map-side combined — the cheapest possible full-table sweep.
    */
  def datasetFingerprint(tables: Seq[(String, DataFrame)]): DataFrame = {
    require(tables.nonEmpty, "datasetFingerprint needs at least one table")
    val p = graft.operators.TextOps.HashMod
    tables.map { case (name, df) =>
      // df must already carry an integral _row_hash column
      df.select(col("_row_hash").cast("decimal(38,0)").as("_h"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("_h")) % lit(p)).cast("long").as("fingerprint"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("fingerprint"))
    }.reduce(_ unionByName _)
  }

  /** Small-file compaction planner — the table-maintenance step every
    * lakehouse runs when streaming ingest has littered a partition
    * with kilobyte files (each file is a task + an open at scan time;
    * at 100 TB the file COUNT, not the byte count, is what kills the
    * scheduler): given a file inventory (partition cols, file id,
    * bytes), assign files to rewrite groups of ~`targetBytes` by the
    * streaming cumulative-sum rule — within each partition, walk
    * files largest-first (deterministic (bytes desc, file asc)
    * order) and a file joins group floor(cumBefore / target). One
    * group ≈ one rewritten output file.
    *
    * Everything is exact integer arithmetic on the inventory table —
    * which is METADATA-scale (one row per file, not per data row), so
    * the partitioned window costs nothing at any data scale. Output:
    * one plan row per (partition, group) with file count and bytes —
    * n_files > 1 rows are the rewrites worth doing.
    */
  def compactionPlan(files: DataFrame, partCols: Seq[String],
                     fileCol: String, bytesCol: String,
                     targetBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partCols.nonEmpty, "compactionPlan needs partition columns")
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(bytesCol).desc, col(fileCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("_cum", sum(col(bytesCol)).over(w))
      .withColumn("_grp",
        expr(s"(_cum - $bytesCol) div ${targetBytes}L"))
      .groupBy((partCols.map(col) :+ col("_grp").as("group_id")): _*)
      .agg(count(lit(1)).as("n_files"), sum(col(bytesCol)).as("bytes"))
  }

  /** Data-skipping advisor — the "is this layout actually pruning"
    * readout run before betting a 100 TB scan on partition/zone-map
    * pruning: per partition the min/max zone map of `valueCol`, and
    * for the half-open predicate value ∈ [lo, hi] the exact
    * skip/scan accounting a file-skipping reader would achieve
    * (skip when max < lo or min > hi — the standard zone-map test).
    * scan_share near 1.0 on a selective predicate is the signal to
    * re-layout (zorder_layout / repartition on the filter column).
    *
    * One fact-sized hash aggregate to the partition domain; the
    * summary is a 1-row fold of that bounded table; all counts exact
    * BIGINTs, the one share is a single division.
    */
  def skipStats(df: DataFrame, partCol: String, valueCol: String,
                lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"need lo <= hi, got [$lo, $hi]")
    val parts = df.where(col(partCol).isNotNull)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("_n"), min(col(valueCol)).as("_mn"),
        max(col(valueCol)).as("_mx"))
    val skip = col("_mx") < lo || col("_mn") > hi
    parts.agg(count(lit(1)).as("n_partitions"), sum(col("_n")).as("n_rows"),
        sum(when(skip, 1L).otherwise(0L)).as("parts_skipped"),
        sum(when(skip, col("_n")).otherwise(0L)).as("rows_skipped"))
      .select(lit(lo).as("lo"), lit(hi).as("hi"), col("n_partitions"),
        col("n_rows"), col("parts_skipped"), col("rows_skipped"),
        (col("n_rows") - col("rows_skipped")).as("rows_scanned"),
        try_divide((col("n_rows") - col("rows_skipped")).cast("double"),
          col("n_rows").cast("double")).as("scan_share"))
  }

  // ------------------------------------------------------------------
  // Unified snapshot manifest: the lakehouse legs (zone maps, Bloom
  // membership, deletion-vector visibility) committed TOGETHER, so a
  // reader plans all file pruning from ONE manifest read.
  // ------------------------------------------------------------------

  /** Commit snapshot `version` of the store's manifest under
    * manifestRoot: one row per data file carrying
    *   - n_rows + the zone map (min/max per statsCol, as maps),
    *   - the Bloom occupancy of keyCol with its (bits, hashes),
    *   - dv_v, the deletion-vector version this snapshot reads at.
    * Same `v=` commit discipline as [[commitDeleteVector]] (dynamic
    * partition overwrite -> idempotent re-commit, snapshot selection =
    * partition pruning). The manifest is #files x O(bits) — dimension-
    * sized at any table size, exactly like the indexes it unifies.
    *
    * Build cost: one stats pass + one Bloom pass over the table
    * (the Bloom leg's explode cannot share the stats leg's aggregate
    * without either miscounting rows or holding per-key array state);
    * both legs are single hash aggregates a real table format folds
    * into the write path. A file whose keyCol is entirely NULL gets an
    * empty Bloom (membership probes always skip it — correct, since a
    * NULL key never equals a probe key) but keeps its zone map.
    */
  def commitManifest(spark: SparkSession, basePath: String,
                     manifestRoot: String, version: Int, keyCol: String,
                     statsCols: Seq[String], dvVersion: Int = 0,
                     bits: Int = 65536, hashes: Int = 3,
                     repartitionTo: Option[Int] = Some(1)): Unit = {
    require(statsCols.nonEmpty, "commitManifest needs at least one statsCol")
    val df = spark.read.parquet(basePath)
    // ONE scan builds BOTH per-file structures (zone stats + Bloom):
    // posexplode replicates each row once per hash position, n_rows
    // counts only the _pi=0 copy, min/max are replication-invariant,
    // and collect_set keeps the aggregate state bounded by DISTINCT
    // positions (<= bits), exactly like the standalone bloomIndex
    // build. Previously the bloom leg re-scanned the whole base table
    // (guide §1.2: the manifest commit is a maintenance op a 100 TB
    // table pays per snapshot — one pass, not two). Values are
    // bit-identical to the former two-scan build: same counts, same
    // min/max casts, same sorted distinct position arrays (a file
    // whose every key is null gets the same empty array the old
    // left-join coalesce produced).
    val aggs = count(when(col("_pi") === 0, 1)).as("n_rows") +:
      sort_array(collect_set(col("_pos"))).as("bloom") +:
      statsCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"_mn_$c"),
        max(col(c)).cast("double").as(s"_mx_$c")))
    val manifest = df
      .select((col("_metadata.file_path").as("_file") +:
        statsCols.map(col) :+
        // alias the generator output directly: a rename-after-the-fact
        // of posexplode's default "pos"/"col" names would collide with
        // a user statsCol/keyCol literally named pos or col
        posexplode(bloomPositions(col(keyCol).cast("long"), bits,
          hashes)).as(Seq("_pi", "_pos"))): _*)
      .groupBy("_file").agg(aggs.head, aggs.tail: _*)
      .select(col("_file"), col("n_rows"),
        map(statsCols.flatMap(c =>
          Seq(lit(c), col(s"_mn_$c"))): _*).as("zmin"),
        map(statsCols.flatMap(c =>
          Seq(lit(c), col(s"_mx_$c"))): _*).as("zmax"),
        col("bloom"), lit(bits).as("bits"), lit(hashes).as("hashes"),
        lit(dvVersion).as("dv_v"))
      .withColumn("v", lit(version))
    repartitionTo.map(manifest.repartition(_)).getOrElse(manifest)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("v").parquet(manifestRoot)
  }

  /** The manifest of snapshot `version` — one pruned `v=` scan. */
  def readManifest(spark: SparkSession, manifestRoot: String,
                   version: Int): DataFrame =
    spark.read.parquet(manifestRoot).where(col("v") === version)

  /** Files of a manifest snapshot that MAY satisfy the predicate: a
    * file survives when (ANY probe key is all-positions-occupied in
    * its Bloom — or no keys given) AND (every range [lo, hi] overlaps
    * its [min, max] zone — or no ranges given). Bloom positions are
    * computed from each row's RECORDED (bits, hashes), so a probe can
    * never silently mismatch the build parameters. The collect is
    * manifest-sized (#files rows) — the same driver-side planning
    * every lakehouse reader does.
    */
  def manifestCandidateFiles(manifest: DataFrame, keys: Seq[Long],
      ranges: Seq[(String, Double, Double)]): Seq[String] = {
    val rows = manifest
      .select(col("_file"), col("bloom"), col("bits"), col("hashes"),
        col("zmin"), col("zmax"))
      .collect()
    rows.filter { r =>
      val bloom = r.getSeq[Long](1).toSet
      val bits = r.getInt(2); val hashes = r.getInt(3)
      // boxed doubles: an all-NULL statsCol lands as a null map value,
      // which (like a missing column) must never prune — the exact
      // re-filter decides
      val zmin = r.getMap[String, java.lang.Double](4)
      val zmax = r.getMap[String, java.lang.Double](5)
      val keyMay = keys.isEmpty || keys.exists(key =>
        (0 until hashes).forall(i => bloom(bloomPosFn(key, i, bits))))
      val rangeMay = ranges.forall { case (c, lo, hi) =>
        (zmin.get(c).flatMap(Option(_)), zmax.get(c).flatMap(Option(_))) match {
          case (Some(mn), Some(mx)) =>
            mx.doubleValue >= lo && mn.doubleValue <= hi
          case _ => true
        }
      }
      keyMay && rangeMay
    }.map(_.getString(0)).toSeq.sorted
  }

  /** Manifest-planned snapshot read: ONE manifest scan plans the file
    * pruning (Bloom membership for the key IN-list, zone maps for the
    * ranges), only surviving files are scanned, the exact predicate
    * re-filters (false positives cost a file read, never a row), and
    * the deletion vectors the manifest POINTS AT (dv_v) are applied —
    * the `bloom_skip` and `skip_stats` legs plus delete visibility
    * served through one planning read, which is how a real table
    * format's reader works.
    */
  def manifestRead(spark: SparkSession, basePath: String,
                   manifestRoot: String, version: Int,
                   dvRoot: Option[String], keyCol: String,
                   keys: Seq[Long],
                   ranges: Seq[(String, Double, Double)]): DataFrame = {
    val man = readManifest(spark, manifestRoot, version)
    val manRows = man.select(col("dv_v")).limit(1).collect()
    require(manRows.nonEmpty,
      s"no manifest committed at v=$version under $manifestRoot")
    manifestReadWith(spark, basePath, man, manRows.head.getInt(0),
      dvRoot, keyCol, keys, ranges)
  }

  /** [[manifestRead]] against an EXPLICIT manifest frame (e.g. the
    * snapshot of the streaming maintenance twin) and DV version —
    * the planning/pruning/re-filter/MOR chain without the `v=` store
    * round trip.
    *
    * Range semantics are in the DOUBLE domain end to end: commitManifest
    * stores zone bounds cast to double and the exact re-filter below
    * compares the key column against double literals, so an integral
    * key column above 2^53 loses precision and BETWEEN can diverge
    * from integer semantics at the boundary. Integral keys are exact
    * up to 2^53 (9e15) — beyond that, range-plan on a column that fits
    * the double domain (or a truncated derivative) and re-filter
    * exactly in the caller.
    */
  def manifestReadWith(spark: SparkSession, basePath: String,
                       man: DataFrame, dvV: Int,
                       dvRoot: Option[String], keyCol: String,
                       keys: Seq[Long],
                       ranges: Seq[(String, Double, Double)]): DataFrame = {
    val files = manifestCandidateFiles(man, keys, ranges)
    val base =
      if (files.isEmpty) spark.read.parquet(basePath).limit(0)
      else spark.read.parquet(files: _*)
    val keyPred =
      if (keys.isEmpty) lit(true) else col(keyCol).isin(keys: _*)
    val rangePred = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.foldLeft(lit(true))(_ && _)
    val exact = base.where(keyPred && rangePred)
    dvRoot match {
      case Some(r) if dvV > 0 =>
        applyDeleteVector(
          exact.withColumn("_file", col("_metadata.file_path"))
            .withColumn("_pos", col("_metadata.row_index")),
          spark.read.parquet(r).where(col("v") <= dvV)
            .select("_file", "_pos"))
      case _ => exact
    }
  }
}
