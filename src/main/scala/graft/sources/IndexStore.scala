package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import IndexCommits.Entry

/** The store-side formats and protocols the persisted ANN
  * (SimilarityOps.indexWrite) and BM25 (TextOps.invertedIndexWrite)
  * stores share, one implementation each, parameterised by a store's
  * [[Layout]] and never by which store calls:
  *
  *   root/<kind>    the partitioned data kinds, one `key=value`
  *     directory per route key (ANN `vectors` by `list_id`; BM25
  *     `postings` by `bucket`, `doclens` by `docbucket`), read
  *     snapshot-pruned to the routed parts ([[readRouted]]);
  *   root/applog/<kind>  the append log: flat segments of a kind,
  *     sorted by its route key (a plain column there) and registered
  *     under the kind with no part id; every routed read unions them,
  *     and the fold ([[fold]], at [[FlushSegments]] segments of one
  *     kind) and the compaction ([[compact]]) move them into the
  *     parts, one staging function for both ([[prepareCompact]]);
  *     [[foldOrCompact]] is the maintain policy over them;
  *   root/meta      one census row: the store's build parameters plus
  *     (count, order-free id checksum) and any additive sums —
  *     maintained + on append and - on delete (the checksum mod p), so
  *     [[isStale]] gates serving with one aggregate over the corpus;
  *   root/bloomidx  the packed id Bloom of the append dup-guard
  *     ([[appendGuarded]]);
  *   root/deletes   the merge-on-read delete sidecar: the stored rows
  *     of the doomed ids, each with its route key ([[delete]]), the
  *     serving anti-join ([[withoutDeleted]]) and the compact policy
  *     ([[compactDue]]).
  *
  * Every entry point reads the snapshot through [[readEntries]], which
  * fails by name on a kind the layout does not own. The data files of
  * both stores have one reader ([[read]]: each group's schema from one
  * file's footer, read on the driver, so no read runs a Spark job
  * before its scan) and one writer ([[writeParts]], [[writeLog]]):
  * they alone form a data-file path or write option. meta and
  * bloomidx are kilobyte-bounded and read and written on the driver
  * ([[TinyParquet]]); the delete sidecar is small append-mode parquet
  * registered in the snapshot. [[IndexCommits]] stays the snapshot /
  * commit protocol underneath and reads no data rows; the operator
  * files keep training, encoding, scoring, route-key computation and
  * arbitration.
  */
private[graft] object IndexStore {
  /** What one store's files and sidecars hold.
    *
    * @param id       the id column of its data and delete files
    * @param kinds    its partitioned data kinds -> route key (the
    *                 `key=value` directories of root/<kind>, a plain
    *                 column of its log segments)
    * @param meta     its meta fields in column order (name ->
    *                 TinyParquet kind)
    * @param count    the meta field holding the corpus count
    * @param checksum the meta field holding the id checksum
    * @param sums     additive meta fields -> the column a census sums
    * @param compressed its data files take the zstd codec (else
    *                 Spark's default); the delete sidecar never does
    */
  final case class Layout(id: String, kinds: Seq[(String, String)],
                          meta: Seq[(String, String)], count: String,
                          checksum: String,
                          sums: Seq[(String, String)] = Nil,
                          compressed: Boolean = false) {
    /** The subdirectories its snapshot manages: the vacuum set,
      * compact staging included.
      */
    def subs: Seq[String] =
      kinds.map(_._1) ++ Seq("applog", "deletes", ".compact")
  }

  /** The log bound both stores' appends and maintain policies default
    * to: fold the append log once it holds this many segments of one
    * kind (the measured search-wall-vs-log-size curve is flat to ~16
    * segments, BENCH_logsens_r18). Both stores' appends fold inline
    * at it.
    */
  val FlushSegments = 16

  private def hconf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  // ------------------------------------------------------------------
  // Census and meta
  // ------------------------------------------------------------------

  /** Census modulus: Σ pmod(hash(id), p) mod p is order-free and
    * ADDITIVE across disjoint parts, so appends merge it with + and
    * deletes with - (both mod p) without rescanning the base.
    */
  private val CensusMod = 1000000007L

  /** The census aggregates over rows carrying `id` (and the layout's
    * summed columns), each named after the meta field it updates. The
    * checksum sum accumulates in decimal(38,0), so it cannot overflow
    * long at any corpus size before the final mod.
    */
  private def censusAggs(layout: Layout, id: Column): Seq[Column] =
    count(lit(1)).cast("long").as(layout.count) +:
      layout.sums.map { case (field, c) =>
        coalesce(sum(col(c).cast("long")), lit(0L)).as(field)
      } :+
      coalesce(pmod(sum(pmod(hash(id).cast("long"),
          lit(CensusMod)).cast("decimal(38,0)")), lit(CensusMod)),
        lit(0).cast("decimal(38,0)")).cast("long").as(layout.checksum)

  /** `df` with its census observed on whatever write runs it — the
    * census rides the write's own pass, no second scan. Read it with
    * [[observed]] after the write.
    */
  def observeCensus(df: DataFrame, obs: Observation, layout: Layout,
                    id: Column): DataFrame = {
    val aggs = censusAggs(layout, id)
    df.observe(obs, aggs.head, aggs.tail: _*)
  }

  /** An observed census, keyed by meta field. */
  def observed(obs: Observation): Map[String, Long] =
    obs.get.map { case (field, v) => field -> v.asInstanceOf[Long] }

  /** The census of `df`, keyed by meta field: one aggregate job. */
  def census(df: DataFrame, layout: Layout, id: Column): Map[String, Long] = {
    val aggs = censusAggs(layout, id)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.getLong(i) }
      .toMap
  }

  /** The store's one-row meta sidecar; fails naming `root/meta` when
    * there is none.
    */
  def readMeta(spark: SparkSession, root: String): TinyParquet.TRow = {
    val rows = TinyParquet.read(hconf(spark), s"$root/meta")
    require(rows.nonEmpty,
      s"missing index meta at $root/meta — not an index store?")
    rows.head
  }

  /** Write the meta row: `values` must name every field of the layout. */
  def writeMeta(spark: SparkSession, root: String, layout: Layout,
                values: Map[String, Any]): Unit =
    TinyParquet.write(hconf(spark), s"$root/meta", layout.meta,
      Seq(layout.meta.map { case (field, _) => values(field) }))

  /** Rewrite meta from `old` with a census `delta` added (sign 1) or
    * subtracted (sign -1); the checksum stays mod p. Commutative, so
    * the result equals the census recomputed over the new corpus.
    */
  private def updateMeta(spark: SparkSession, root: String, layout: Layout,
                         old: TinyParquet.TRow, delta: Map[String, Long],
                         sign: Int): Unit =
    writeMeta(spark, root, layout, layout.meta.map { case (field, _) =>
      val v = old.getLong(field) + sign * delta.getOrElse(field, 0L)
      field ->
        (if (field == layout.checksum) java.lang.Math.floorMod(v, CensusMod)
         else v)
    }.toMap)

  /** Has the corpus drifted since the store was built? Compares meta's
    * (count, checksum) against the live corpus — one hash aggregate,
    * the cheap gate a serving path runs before trusting a stored
    * index. True = rebuild needed.
    */
  def isStale(corpus: DataFrame, idCol: String, root: String,
              layout: Layout): Boolean = {
    val meta = readMeta(corpus.sparkSession, root)
    val live = census(corpus, layout.copy(sums = Nil), col(idCol))
    meta.getLong(layout.count) != live(layout.count) ||
      meta.getLong(layout.checksum) != live(layout.checksum)
  }

  // ------------------------------------------------------------------
  // Dup-guard Bloom
  // ------------------------------------------------------------------

  /** Bloom sizing: 1<<24 bits / 3 hashes give ~6e-4 false positives
    * at 500k ids (positions from IoOps.bloomPositions, the hash family
    * of the file-skipping index). Stored PACKED, 64 positions per
    * word, so root/bloomidx holds at most bits/64 rows (~2 MB) at any
    * corpus size, and its bit_or merge is commutative and idempotent.
    */
  private val BloomBits = 1 << 24
  private val BloomHashes = 3

  /** Keyed on hash(id) cast long — NOT a raw numeric cast — so ids of
    * any type (string, UUID, numeric) hash to real positions instead
    * of casting to null and silently disarming the guard.
    */
  private def bloomPositions(idCol: String): Column =
    IoOps.bloomPositions(hash(col(idCol)).cast("long"), BloomBits,
      BloomHashes)

  /** Packed bitmap words (widx, word) over the ids of `ids`. */
  private def bloomWords(ids: DataFrame, idCol: String): Seq[(Long, Long)] =
    ids.select(explode(bloomPositions(idCol)).as("pos"))
      .select(expr("pos DIV 64").as("widx"),
        expr("shiftleft(1L, CAST(pmod(pos, 64) AS INT))").as("w"))
      .groupBy("widx").agg(expr("bit_or(w)").as("word"))
      .select(col("widx").cast("long"), col("word").cast("long"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private def readBloom(spark: SparkSession,
                        root: String): Seq[(Long, Long)] =
    TinyParquet.read(hconf(spark), s"$root/bloomidx")
      .map(r => (r.getLong("widx"), r.getLong("word")))

  private def writeBloom(spark: SparkSession, root: String,
                         words: Seq[(Long, Long)]): Unit =
    TinyParquet.write(hconf(spark), s"$root/bloomidx",
      Seq("widx" -> "long", "word" -> "long"),
      words.map { case (w, v) => Seq(w, v) })

  /** Build root/bloomidx over the ids of `ids`, at build time. A
    * compaction leaves it as it is: a retired id stays "possibly
    * present", and the append's exact arbitration over its routed rows
    * lets a re-append through.
    */
  def buildBloom(root: String, ids: DataFrame, idCol: String): Unit =
    writeBloom(ids.sparkSession, root, bloomWords(ids, idCol))

  /** Ids of `ids` whose EVERY hash position is set in `words` — the
    * dup SUSPECTS (real dups plus the bounded false-positive tail); an
    * id that misses any position is provably new. Delta-sized work:
    * one explode and one join the bitmap broadcasts through as a local
    * relation (no scan job).
    */
  private def bloomSuspects(ids: DataFrame, idCol: String,
                            words: Seq[(Long, Long)]): DataFrame =
    ids.select(col(idCol), explode(bloomPositions(idCol)).as("pos"))
      .select(col(idCol), expr("pos DIV 64").as("widx"),
        expr("shiftleft(1L, CAST(pmod(pos, 64) AS INT))").as("m"))
      .join(broadcast(ids.sparkSession.createDataFrame(words)
        .toDF("widx", "word")), Seq("widx"), "left")
      .withColumn("_hit",
        coalesce(col("word").bitwiseAND(col("m")) =!= 0L, lit(false)))
      .groupBy(idCol)
      .agg(sum(when(col("_hit"), 0).otherwise(1)).as("_miss"))
      .where(col("_miss") === 0).select(idCol)

  /** The guarded append, both stores' ingest skeleton. The delta's
    * distinct `idCol` values check against the Bloom, read ONCE on the
    * driver; only the suspects reach `arbitrate`, the store's exact
    * check over snapshot-pruned files, which returns any confirmed
    * duplicate rows (both read their suspects' routed rows,
    * [[readRouted]]: the ANN store the suspects' `list_id=` files —
    * their lists recomputed from the stored centroids — and the
    * vectors log; the BM25 store the suspects' `docbucket=` doclens
    * files and the doclens log). A
    * deleted but not yet compacted id is still physically present
    * and rejected until compaction removes it. Then ONE commit over
    * `listing` ([[IndexCommits.commitWritten]]): `write` lands the
    * delta and returns its observed census, meta goes additive from
    * `old`, and the delta's ids fold into the Bloom (a driver OR with
    * the words already read). Returns the committed entries.
    *
    * @param who    names the rejected id in the error ("op: id_col")
    * @param remedy what appends must carry instead, and how to fix it
    */
  def appendGuarded(root: String, snap: Seq[Entry], layout: Layout,
                    old: TinyParquet.TRow, delta: DataFrame,
                    idCol: String, who: String, remedy: String,
                    listing: => Seq[Entry])
                   (arbitrate: DataFrame => Array[Row])
                   (write: => Map[String, Long]): Seq[Entry] = {
    val spark = delta.sparkSession
    val words = readBloom(spark, root)
    val suspects =
      bloomSuspects(delta.select(col(idCol)).distinct(), idCol, words)
    val dup =
      if (suspects.limit(1).isEmpty) Array.empty[Row] else arbitrate(suspects)
    require(dup.isEmpty,
      s"$who ${dup.headOption.map(_.get(0)).getOrElse("")} is already " +
        s"indexed — appends must carry $remedy")
    IndexCommits.commitWritten(spark, root, snap, listing) {
      val census = write
      updateMeta(spark, root, layout, old, census, 1)
      val merged = scala.collection.mutable.LongMap.from(words)
      bloomWords(delta.select(col(idCol)), idCol).foreach { case (w, v) =>
        merged(w) = merged.getOrElse(w, 0L) | v
      }
      writeBloom(spark, root, merged.toSeq.sortBy(_._1))
    }
  }

  // ------------------------------------------------------------------
  // Delete sidecar
  // ------------------------------------------------------------------

  /** Record the ids of `ids` (column `idCol`) as deleted: the sidecar
    * rows are the stored rows of `kind` routed to `parts`
    * ([[readRouted]]) whose id is in `ids` and not recorded yet, each
    * kept with the kind's route key, so [[prepareCompact]] reads the
    * touched parts off the sidecar. The census of those rows is
    * observed on the sidecar write, hashing the stored id column
    * before any cast (as the build and the appends census it), and
    * meta goes subtractive by it in the same commit. A never-indexed
    * id is neither recorded nor subtracted, so a later append of it is
    * served; a re-deleted id is not subtracted twice. No commit when
    * no row qualifies. The recorded ids broadcast (sidecar-sized,
    * never corpus-sized); the rows to record are collected (bounded
    * by the delete batch) and written as one file. `parts` is
    * evaluated after the snapshot read, so a root without one fails
    * by name first.
    */
  def delete(root: String, layout: Layout, kind: String, ids: DataFrame,
             idCol: String, parts: => Set[Long]): Unit = {
    val spark = ids.sparkSession
    val snap = readEntries(spark, root, layout)
    val key = layout.kinds.toMap.apply(kind)
    readRouted(spark, root, snap, layout, kind, parts).foreach { stored =>
      val fresh = withoutDeleted(stored.join(
          broadcast(ids.select(col(idCol).as(layout.id))), Seq(layout.id),
          "left_semi"), root, snap, layout, layout.id)
      val obs = new Observation()
      val rows = observeCensus(fresh, obs, layout, col(layout.id))
        .select(col(layout.id), col(key).cast("long").as(key))
      val recorded = rows.collect()
      if (recorded.nonEmpty)
        IndexCommits.commitWritten(spark, root, snap,
            IndexCommits.list(spark, "deletes", s"$root/deletes")) {
          spark.createDataFrame(java.util.Arrays.asList(recorded: _*),
              rows.schema)
            .coalesce(1).write.mode("append").parquet(s"$root/deletes")
          updateMeta(spark, root, layout, readMeta(spark, root),
            observed(obs), -1)
        }
    }
  }

  /** Merge-on-read: `df` minus the ids the snapshot's delete sidecar
    * records, by ONE anti-join on `idCol` the small sidecar broadcasts
    * through; `df` itself when nothing is recorded.
    */
  def withoutDeleted(df: DataFrame, root: String, snap: Seq[Entry],
                     layout: Layout, idCol: String): DataFrame =
    if (IndexCommits.filesOf(snap, "deletes").isEmpty) df
    else df.join(
      broadcast(read(df.sparkSession, root, snap, "deletes")(_ => true)
        .select(col(layout.id).as(idCol))),
      Seq(idCol), "left_anti")

  /** The compact policy of both maintain paths: recorded deletes reach
    * `fraction` of the pre-delete corpus. Meta's count is the
    * post-delete census, so the denominator is live + pending. One
    * footer count; meta is read only when deletes are pending.
    */
  def compactDue(spark: SparkSession, root: String, snap: Seq[Entry],
                 layout: Layout, fraction: Double): Boolean = {
    val pending = IndexCommits.pendingDeletes(spark, snap)
    pending > 0 && {
      val live = readMeta(spark, root).getLong(layout.count)
      pending.toDouble / (live + pending) >= fraction
    }
  }

  // ------------------------------------------------------------------
  // Snapshot, append log and snapshot-planned reads
  // ------------------------------------------------------------------

  /** The current snapshot of a store of `layout`
    * ([[IndexCommits.readEntries]], which fails by name on a root
    * without one): the read every store entry point plans from. Fails
    * naming the root and the kind when an entry's kind is neither one
    * of the layout's data kinds nor `deletes` — another store's root,
    * or a store written with a retired layout, would otherwise serve
    * without that kind's rows.
    */
  def readEntries(spark: SparkSession, root: String,
                  layout: Layout): Seq[Entry] = {
    val snap = IndexCommits.readEntries(spark, root)
    val owned = layout.kinds.map(_._1) :+ "deletes"
    snap.find(e => !owned.contains(e.kind)).foreach(e =>
      throw new IllegalStateException(
        s"the snapshot of $root names kind '${e.kind}', which this store " +
          s"(kinds ${owned.mkString(", ")}) does not serve — another " +
          "store's root, or one written with a retired layout: rebuild " +
          "it with indexWrite / invertedIndexWrite"))
    snap
  }

  /** Commit a fresh build's snapshot (every file of the layout's
    * kinds under root/<kind>) and vacuum what a previous lifecycle on
    * a reused root left behind.
    */
  def commitBuild(spark: SparkSession, root: String, layout: Layout): Unit = {
    IndexCommits.commit(spark, root, layout.kinds.flatMap { case (kind, key) =>
      IndexCommits.list(spark, kind, partDir(root, kind), Some(key)) })
    IndexCommits.vacuumConf(spark, root, layout.subs)
  }

  /** The log segments of every kind on disk: the listing an append
    * diffs around its segment writes.
    */
  def listLog(spark: SparkSession, root: String, layout: Layout): Seq[Entry] =
    layout.kinds.flatMap { case (kind, _) =>
      IndexCommits.list(spark, kind, logDir(root, kind)) }

  /** Has the append log reached `bound` segment files of any one kind?
    * Never for `bound` <= 0.
    */
  def logFull(snap: Seq[Entry], layout: Layout,
              bound: Int = FlushSegments): Boolean =
    bound > 0 && layout.kinds.exists { case (kind, _) =>
      IndexCommits.logOf(snap, kind).size >= bound }

  /** Fold the append log into the partitions: each kind's segment rows
    * are staged one file per part they route to, moved in beside the
    * part's own files and committed by one pointer swap
    * ([[IndexCommits.maintain]]) — the partitioned write an append
    * would pay per call, paid once per log. Searches are row-identical
    * before and after; a no-op on an empty log.
    */
  def fold(spark: SparkSession, root: String, layout: Layout): Unit =
    IndexCommits.maintain(spark, root, layout.subs)(
      prepareCompact(spark, root, layout, applyDeletes = false))

  /** Compact: physically drop the recorded deletes' rows, fold the
    * append log in the same rewrite and retire the sidecar, by one
    * pointer swap ([[IndexCommits.maintain]]). Meta stays (the census
    * went subtractive at [[delete]] time), and so does the Bloom
    * ([[buildBloom]]). Searches are row-identical to the merge-on-read
    * ones before it.
    */
  def compact(spark: SparkSession, root: String, layout: Layout): Unit =
    IndexCommits.maintain(spark, root, layout.subs)(
      prepareCompact(spark, root, layout, applyDeletes = true))

  /** Stage a compaction (`applyDeletes`) or a fold WITHOUT committing
    * it and return the snapshot that would serve it: the crash window
    * the lifecycle spec pins, staged files invisible to every read
    * until the pointer swap. Per kind of the layout, one
    * [[rewriteParts]]: the parts holding a recorded doomed row
    * ([[doomedParts]]) rewrite minus the doomed ids, and the log's
    * rows, minus the doomed ids too, move in beside the part files
    * they route to; every other part's files stay byte-untouched. The
    * served snapshot has no log entry, and no delete entry after a
    * compaction. None when there is nothing to do: no log, and no
    * deletes to apply.
    */
  def prepareCompact(spark: SparkSession, root: String, layout: Layout,
                     applyDeletes: Boolean): Option[Seq[Entry]] = {
    val snap = readEntries(spark, root, layout)
    val dels =
      if (!applyDeletes) Nil else IndexCommits.filesOf(snap, "deletes")
    if (dels.isEmpty && !logFull(snap, layout, bound = 1)) return None
    val sidecar =
      if (dels.isEmpty) None
      else Some(read(spark, root, snap, "deletes")(_ => true))
    def keep(df: DataFrame) = sidecar.fold(df)(rows =>
      df.join(broadcast(rows.select(layout.id).distinct()), Seq(layout.id),
        "left_anti"))
    Some(layout.kinds.foldLeft(snap.filterNot(e => dels.contains(e.file))) {
      case (es, (kind, _)) =>
        val touched = sidecar.fold(Set.empty[Long])(
          doomedParts(spark, root, snap, layout, kind, _))
        rewriteParts(spark, root, es, layout, kind, touched)(keep)
    })
  }

  /** The rows a fold or compaction stages for `kind`: the live files of
    * its `touched` parts plus its whole log ([[read]]).
    */
  private[graft] def stagedRows(spark: SparkSession, root: String,
                                entries: Seq[Entry], kind: String,
                                touched: Set[Long]): DataFrame =
    read(spark, root, entries, kind)(_.partId.forall(touched))

  /** Surgical partition rewrite, the staging half of the compaction
    * and the log fold: `keep` drops the doomed rows of
    * [[stagedRows]], the survivors are written under root/.compact
    * (one file per part, [[writeParts]]'s shape) and moved into the
    * live `key=value` dirs under their job-unique names — nothing
    * referenced is overwritten. Returns `entries` with the staged
    * files replaced by the moved ones; a touched part whose every row
    * was dropped gets no file and leaves the snapshot, and an
    * untouched part a segment routes to gains one file beside its
    * own. The moved files stay invisible to reads until the caller
    * commits. `entries` itself when no file is staged.
    */
  private def rewriteParts(spark: SparkSession, root: String,
                           entries: Seq[Entry], layout: Layout, kind: String,
                           touched: Set[Long])
                          (keep: DataFrame => DataFrame): Seq[Entry] = {
    val staged = (e: Entry) => e.kind == kind && e.partId.forall(touched)
    if (!entries.exists(staged)) return entries
    val key = layout.kinds.toMap.apply(kind)
    val stage = new Path(s"$root/.compact")
    val fs = stage.getFileSystem(hconf(spark))
    fs.delete(stage, true) // a crashed attempt's leftovers
    partitioned(keep(stagedRows(spark, root, entries, kind, touched)),
      s"$stage/$kind", key, layout)
    val moved = IndexCommits.list(spark, kind, s"$stage/$kind", Some(key))
      .map { e =>
        val dstDir = new Path(s"${partDir(root, kind)}/$key=${e.partId.get}")
        if (!fs.exists(dstDir)) fs.mkdirs(dstDir)
        val dst = new Path(dstDir, new Path(e.file).getName)
        require(fs.rename(new Path(e.file), dst),
          s"compact: staging move failed for ${e.file} under $root")
        e.copy(file = dst.toUri.getPath)
      }
    fs.delete(stage, true)
    entries.filterNot(staged) ++ moved
  }

  /** The parts of `kind` holding a recorded doomed row (a K-bounded
    * driver set): straight from the sidecar `rows` when every one
    * carries the kind's route key, else one column-pruned discovery
    * join of their ids over the kind's part files — the BM25
    * postings, whose term-hash route key no sidecar row can carry, and
    * sidecars written without keys. Doomed log rows need neither: the
    * whole log is rewritten.
    */
  private def doomedParts(spark: SparkSession, root: String,
                          snap: Seq[Entry], layout: Layout, kind: String,
                          rows: DataFrame): Set[Long] = {
    val key = layout.kinds.toMap.apply(kind)
    val recorded =
      if (!rows.columns.contains(key)) None
      else {
        val keys = rows.select(col(key).cast("long")).distinct().collect()
        if (keys.exists(_.isNullAt(0))) None
        else Some(keys.map(_.getLong(0)).toSet)
      }
    recorded.getOrElse(
      if (IndexCommits.partFilesOf(snap, kind).isEmpty) Set.empty
      else routeKeys(read(spark, root, snap, kind)(_.partId.isDefined)
        .join(broadcast(rows.select(layout.id)), Seq(layout.id)), col(key)))
  }

  /** The maintain policy of both stores: [[compact]] (which folds the
    * log in the same rewrite) once recorded deletes reach `fraction`
    * of the pre-delete corpus ([[compactDue]]), otherwise [[fold]]
    * once the log holds `bound` segments of one kind ([[logFull]]).
    * Below both this is a cheap no-op (one snapshot read and one
    * sidecar footer count). Returns (log at bound, compacted).
    */
  def foldOrCompact(spark: SparkSession, root: String, layout: Layout,
                    bound: Int, fraction: Double): (Boolean, Boolean) = {
    val snap = readEntries(spark, root, layout)
    val full = logFull(snap, layout, bound)
    val due = compactDue(spark, root, snap, layout, fraction)
    if (due) compact(spark, root, layout)
    else if (full) fold(spark, root, layout)
    (full, due)
  }

  /** The distinct values of `key` over `df` as a driver set — the
    * route keys (list ids, term buckets, doc buckets) a read or a
    * mutation touches, bounded by the key space, never by `df`.
    */
  def routeKeys(df: DataFrame, key: Column): Set[Long] =
    df.select(key.cast("long")).distinct().collect().map(_.getLong(0)).toSet

  /** The rows of `kind` that route to `parts` on its key: those parts'
    * `key=` files plus the unfolded log segments under the same key
    * filter, one [[read]]. The filter drops the segments' other rows
    * but prunes no log file: an append-sized segment is one file of
    * one row group, so it is scanned whole (fewer than
    * [[FlushSegments]] log files per kind, the log bound). None when
    * no file qualifies.
    */
  def readRouted(spark: SparkSession, root: String, snap: Seq[Entry],
                 layout: Layout, kind: String,
                 parts: Set[Long]): Option[DataFrame] = {
    val routed = (e: Entry) => e.partId.forall(parts.contains)
    if (!snap.exists(e => e.kind == kind && routed(e))) None
    else Some(read(spark, root, snap, kind)(routed)
      .where(col(layout.kinds.toMap.apply(kind)).isin(parts.toSeq: _*)))
  }

  // ------------------------------------------------------------------
  // Data files: their paths, one reader, one writer
  // ------------------------------------------------------------------

  /** The `key=value` partition directories of `kind`. */
  private def partDir(root: String, kind: String): String = s"$root/$kind"

  /** The flat log segments of `kind`. */
  private def logDir(root: String, kind: String): String =
    s"$root/applog/$kind"

  /** The one reader of index data files: the snapshot entries of
    * `kind` that `pick` selects, as one frame. Part files are read
    * under base path root/<kind>, so their route key comes from the
    * `key=value` path (an int); log segments and the delete sidecar
    * are read flat; the two groups union by name, parts first. Each
    * group's schema is its first file's footer, read on the driver
    * ([[TinyParquet.sparkSchema]]), so no read submits Spark's
    * schema-inference job before its scan. When `pick` selects
    * nothing: an empty frame of the schema of one entry of the kind (a
    * part file if there is one), with no directory listed. Fails
    * naming the root and the kind when the snapshot holds no file of
    * the kind.
    */
  def read(spark: SparkSession, root: String, snap: Seq[Entry], kind: String)
          (pick: Entry => Boolean): DataFrame = {
    val all = snap.filter(_.kind == kind)
    val picked = all.filter(pick)
    val files =
      if (picked.nonEmpty) picked else all.sortBy(_.partId.isEmpty).take(1)
    if (files.isEmpty)
      throw new IllegalStateException(
        s"the snapshot of $root holds no file of kind '$kind' to read")
    val (parts, flat) = files.partition(_.partId.isDefined)
    val df = Seq(parts -> Some(partDir(root, kind)), flat -> None)
      .collect { case (es, base) if es.nonEmpty =>
        val r = spark.read.schema(
          TinyParquet.sparkSchema(hconf(spark), es.head.file))
        base.fold(r)(r.option("basePath", _)).parquet(es.map(_.file): _*)
      }
      .reduce(_ unionByName _)
    if (picked.isEmpty) df.where(lit(false)) else df
  }

  /** `df` written as partition files of `key` under `dir`, one file
    * per key value: a build's and the fold's shape.
    */
  private def partitioned(df: DataFrame, dir: String, key: String,
                          layout: Layout): Unit =
    df.repartition(col(key)).write.mode("overwrite")
      .options(options(layout)).partitionBy(key).parquet(dir)

  private def options(layout: Layout): Map[String, String] =
    if (layout.compressed) Map("compression" -> "zstd") else Map.empty

  /** The one writer of a build's data: `df` as the partition files of
    * `kind`, one file per route key value. Repartitioned on the key,
    * so a list or bucket is one file, not one per writing task: at
    * K=1600 lists x 32 tasks that is 51k files, whose listing and
    * footer reads would dominate every later search and append
    * (measured 4x on the 100x rehearsal).
    */
  def writeParts(df: DataFrame, root: String, layout: Layout,
                 kind: String): Unit =
    partitioned(df, partDir(root, kind), layout.kinds.toMap.apply(kind),
      layout)

  /** The one writer of the append log: `df` appended as flat segment
    * file(s) of `kind`, in the caller's partitioning and sort (each
    * segment sorted by the kind's route key). [[listLog]] finds them
    * for the commit.
    */
  def writeLog(df: DataFrame, root: String, layout: Layout,
               kind: String): Unit =
    df.write.mode("append").options(options(layout))
      .parquet(logDir(root, kind))
}
