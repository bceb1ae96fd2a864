package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned commit protocol for the persisted retrieval indexes —
  * the same snapshot-pointer discipline the lakehouse ops already
  * prove out for tables (IoOps.commitManifest / time_travel), applied
  * to the ANN (SimilarityOps.indexWrite) and BM25
  * (TextOps.invertedIndexWrite) stores so index MAINTENANCE is
  * crash-safe:
  *
  *   root/commits/v=N/   one parquet snapshot per committed version:
  *     rows (kind, part_id, file) naming EVERY live data file of the
  *     served kinds ("vectors"/"deletes" for ANN;
  *     "postings"/"doclens"/"deletes" for BM25) — the `key=value`
  *     partition files and the append-log segments IndexStore lays
  *     out. The CURRENT snapshot is the max committed N; readers plan
  *     their file lists from it and never trust directory listings.
  *
  * Mutation protocol (append / flush / compact / delete):
  *   1. write NEW files only — nothing referenced by the current
  *      snapshot is ever deleted or overwritten in place;
  *   2. commit the next snapshot with ONE atomic directory rename
  *      (write to commits/.tmp-N, rename to commits/v=N — the pointer
  *      swap). Every reader sees entirely-before or entirely-after;
  *   3. [[vacuum]] unreferenced files (GC). A crash at ANY point
  *      leaves the current snapshot serving row-identical results:
  *      before the rename the new files are invisible orphans, after
  *      it the old files are unreferenced orphans — either way the
  *      next vacuum (run at the head of every maintenance op) heals
  *      the debris.
  *
  * The snapshot is the ONLY store layout: a root without a committed
  * version fails by name ([[readEntries]]) and must be rebuilt. The
  * protocol steps both stores share live here — the entries and their
  * filters, the listing a write is diffed by ([[list]]),
  * [[commitWritten]] (append / delete), [[maintain]] (fold / compact),
  * [[pendingDeletes]] (maintain policies) and [[vacuum]]. This object
  * reads no data rows: the data files' paths, their one reader and
  * their one writer, and the log, delete, fold, compaction and
  * maintain policy live in [[IndexStore]], and the operator files
  * keep training, encoding and scoring. One bounded snapshot read
  * (#files rows — the same manifest-sized planning collect every
  * lakehouse reader does) replaces per-partition existence probes at
  * serve time.
  *
  * Single-writer by design (one maintenance job per index store, the
  * standard lakehouse assumption); readers are never blocked. The
  * census/quantizer sidecars (meta, bloomidx, centroids, codebooks)
  * stay plain directories: they are advisory/bounded and their
  * in-place overwrite windows are guarded by the staleness census,
  * never by served data. What both stores do AROUND a commit — the
  * meta census, the append dup-guard bloom and the delete-sidecar
  * protocol — lives in [[IndexStore]].
  */
object IndexCommits {
  /** One live data file of a snapshot. partId = the value of the
    * store's partition key for files under a `key=value` directory
    * (list_id for ANN vectors, bucket for BM25 postings, docbucket
    * for doclens). None marks either an unfolded log segment of a
    * partitioned kind (ANN vectors, BM25 postings / doclens segments
    * under root/applog/<kind>, carrying the key as a plain column) or
    * an unpartitioned kind (delete sidecars).
    */
  final case class Entry(kind: String, partId: Option[Long], file: String)

  private def hfs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VersionDir = "v=(\\d+)".r

  /** Committed snapshot versions under root/commits, ascending. */
  private def versions(fs: FileSystem, root: String): Seq[Long] = {
    val dir = new Path(s"$root/commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionDir(n) => Some(n.toLong)
          case _             => None
        }
    }.flatten.sorted
  }

  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    versions(hfs(spark, root), root).lastOption

  /** The current snapshot's entries — a #files-bounded driver list,
    * the planning collect of every read AND the base every mutation
    * derives its next snapshot from. The snapshot is the only store
    * layout: every store entry point reads it first, and a root with
    * no committed version fails here, by name, before any other step.
    */
  def readEntries(spark: SparkSession, root: String): Seq[Entry] = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no committed snapshot under $root/commits — not an index " +
          "store, or one without a commit snapshot: rebuild it with " +
          "indexWrite / invertedIndexWrite"))
    // snapshot files are kilobyte-bounded (#files rows): read them on
    // the driver — no Spark job for the planning collect every read
    // and mutation pays (round-18 opt: the lifecycle gates spent most
    // of their wall on exactly these tiny jobs)
    TinyParquet.read(spark.sparkContext.hadoopConfiguration,
        s"$root/commits/v=$v")
      .map(r => Entry(r.getString("kind"),
        if (r.isNullAt("part_id")) None else Some(r.getLong("part_id")),
        r.getString("file")))
  }

  /** Commit the next snapshot: ONE atomic rename makes it current.
    * Returns the committed version. The staging dir name is unique per
    * ATTEMPT (not per version): two racing writers who both compute
    * the same next version stage independently and exactly one rename
    * wins — the loser's require fires without ever having touched the
    * winner's files, and its orphaned staging dir is swept by the next
    * vacuum. (Single-writer remains the design assumption; this makes
    * a violation fail loudly instead of silently interleaving.)
    */
  def commit(spark: SparkSession, root: String,
             entries: Seq[Entry]): Long = {
    val fs = hfs(spark, root)
    val next = versions(fs, root).lastOption.getOrElse(0L) + 1
    val tmp = s"$root/commits/.tmp-$next-${java.util.UUID.randomUUID()}"
    // the snapshot is a driver-side Seq already — write it on the
    // driver (same parquet layout, no Spark job / output committer)
    TinyParquet.write(spark.sparkContext.hadoopConfiguration, tmp,
      Seq("kind" -> "string", "part_id" -> "long", "file" -> "string"),
      entries.map(e => Seq(e.kind, e.partId.map(Long.box).orNull, e.file)))
    val ok = fs.rename(new Path(tmp), new Path(s"$root/commits/v=$next"))
    require(ok, s"commit v=$next failed: concurrent writer on $root?")
    next
  }

  def filesOf(entries: Seq[Entry], kind: String): Seq[String] =
    entries.filter(_.kind == kind).map(_.file)

  /** Files of `kind` whose partId is in `parts` — the snapshot-planned
    * equivalent of partition pruning (probed IVF lists, term buckets,
    * suspect doc buckets).
    */
  def filesOfParts(entries: Seq[Entry], kind: String,
                   parts: Set[Long]): Seq[String] =
    entries.filter(e => e.kind == kind &&
      e.partId.exists(parts.contains)).map(_.file)

  /** The unfolded log segments of a partitioned `kind`: its entries
    * without a part id ([[Entry]]).
    */
  def logOf(entries: Seq[Entry], kind: String): Seq[String] =
    entries.filter(e => e.kind == kind && e.partId.isEmpty).map(_.file)

  /** The partition files of `kind`: its entries with a part id. */
  def partFilesOf(entries: Seq[Entry], kind: String): Seq[String] =
    entries.filter(e => e.kind == kind && e.partId.isDefined).map(_.file)

  /** Recursively list the DATA files (part-*) under `dir` as entries
    * of `kind`, parsing partId from a `partKey=value` path segment when
    * given: what a write just produced (diffed against a
    * before-listing, [[written]]), a fresh build's snapshot, or the
    * staged files of a fold.
    */
  private[graft] def list(spark: SparkSession, kind: String, dir: String,
                          partKey: Option[String] = None): Seq[Entry] = {
    val fs = hfs(spark, dir)
    val top = new Path(dir)
    if (!fs.exists(top)) return Seq.empty
    def walk(p: Path, part: Option[Long]): Seq[Entry] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val nextPart = partKey match {
            case Some(k) if name.startsWith(s"$k=") =>
              scala.util.Try(name.stripPrefix(s"$k=").toLong)
                .toOption.orElse(part)
            case _ => part
          }
          walk(st.getPath, nextPart)
        } else if (name.startsWith("part-"))
          Seq(Entry(kind, part, st.getPath.toUri.getPath))
        else Seq.empty
      }
    walk(top, None)
  }

  /** The files `write` adds to `listing`: list before, write, list
    * after, diff. `listing` must cover where the write lands and
    * nothing that changes meanwhile, so pre-existing debris stays out.
    */
  private[graft] def written(listing: => Seq[Entry])(write: => Unit)
    : Seq[Entry] = {
    val before = listing.map(_.file).toSet
    write
    listing.filterNot(e => before(e.file))
  }

  /** The append/delete mutation: `write` lands NEW files (and updates
    * the store's sidecars), then ONE pointer swap commits `snap` plus
    * what the write added to `listing`. A crash before the swap leaves
    * invisible orphans for the next maintenance vacuum, never a
    * half-applied mutation. Returns the committed entries.
    */
  private[graft] def commitWritten(spark: SparkSession, root: String,
                                    snap: Seq[Entry],
                                    listing: => Seq[Entry])
                                   (write: => Unit): Seq[Entry] = {
    val next = snap ++ written(listing)(write)
    commit(spark, root, next)
    next
  }

  /** The maintenance wrapper (fold, compact): heal any debris a
    * crashed op left ([[vacuumConf]]), stage the change as NEW files
    * (`prepare` returns the snapshot that would serve them, None for a
    * no-op), swap the pointer, and retire what the new snapshot
    * replaced. A crash at any point leaves the current snapshot
    * serving the results it served before the op started.
    */
  private[graft] def maintain(spark: SparkSession, root: String,
                               subs: Seq[String])
                              (prepare: => Option[Seq[Entry]]): Unit = {
    vacuumConf(spark, root, subs)
    prepare.foreach { next =>
      commit(spark, root, next)
      vacuumConf(spark, root, subs)
    }
  }

  /** Rows recorded in the snapshot's delete sidecar files, from their
    * parquet footers (no job) — what both stores' maintain policies
    * weigh against the live census.
    */
  private[graft] def pendingDeletes(spark: SparkSession,
                                     snap: Seq[Entry]): Long = {
    val files = filesOf(snap, "deletes")
    if (files.isEmpty) 0L
    else TinyParquet.rowCount(spark.sparkContext.hadoopConfiguration, files)
  }

  /** Garbage-collect every data file under the managed subdirectories
    * that the CURRENT snapshot does not reference, then drop emptied
    * directories and superseded snapshot versions. Run at the head of
    * every maintenance op (heals crash debris) and after every commit
    * (retires the files the new snapshot replaced). Never touches a
    * referenced file, the current snapshot, or the unmanaged sidecars.
    *
    * `retainMs` is the concurrent-reader grace window (the lakehouse
    * VACUUM retention discipline): an unreferenced file younger than
    * the window is KEPT — a reader that planned its file list from the
    * previous snapshot may still be scanning it. Unreferenced files
    * are invisible to every NEW read by construction (reads plan from
    * the snapshot, never directory listings), so retained debris costs
    * only disk until it ages out of the window. 0 (the default)
    * reclaims immediately — correct for a single-process lifecycle,
    * where no reader can outlive the mutation that supersedes it.
    * Maintenance ops read the window from the session conf
    * (`graft.index.vacuum.retainMs`, see [[vacuumConf]]).
    */
  def vacuum(spark: SparkSession, root: String,
             subs: Seq[String], retainMs: Long = 0L): Long = {
    val fs = hfs(spark, root)
    val vs = versions(fs, root)
    if (vs.isEmpty) return 0L
    val live = readEntries(spark, root).map(_.file).toSet
    val cutoff =
      if (retainMs <= 0) Long.MaxValue
      else System.currentTimeMillis() - retainMs
    var deleted = 0L
    // Returns "directory is now effectively empty" (nothing but job
    // markers / checksum leftovers remain — those go with the dir).
    // Unrecognized files are conservatively kept and keep their dir.
    def sweep(p: Path): Boolean = {
      var empty = true
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (sweep(st.getPath)) fs.delete(st.getPath, true)
          else empty = false
        } else if (name.startsWith("part-")) {
          if (!live.contains(st.getPath.toUri.getPath) &&
              st.getModificationTime < cutoff) {
            fs.delete(st.getPath, false); deleted += 1
          } else empty = false
        } else if (name != "_SUCCESS" && !name.startsWith("."))
          empty = false
      }
      empty
    }
    subs.foreach { sub =>
      val dir = new Path(s"$root/$sub")
      if (fs.exists(dir) && sweep(dir)) fs.delete(dir, true)
    }
    // retire superseded snapshots (the store is not time-traveled;
    // bounding commit history keeps the commits dir O(1)) — under the
    // same grace window, so a reader mid-way between reading the
    // current version and its entries is never stranded
    vs.dropRight(1).foreach { v =>
      val p = new Path(s"$root/commits/v=$v")
      if (fs.getFileStatus(p).getModificationTime < cutoff)
        fs.delete(p, true)
    }
    // and any half-written commit attempt (crash before its rename)
    val cdir = new Path(s"$root/commits")
    fs.listStatus(cdir).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime < cutoff)
        fs.delete(st.getPath, true)
    }
    deleted
  }

  /** [[vacuum]] with the grace window taken from the session conf
    * `graft.index.vacuum.retainMs` (default 0 — reclaim immediately).
    * Every index maintenance op vacuums through this, so a deployment
    * with long-running concurrent readers sets ONE conf and every
    * store honors the window.
    */
  def vacuumConf(spark: SparkSession, root: String,
                 subs: Seq[String]): Long =
    vacuum(spark, root, subs,
      spark.conf.getOption("graft.index.vacuum.retainMs")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L))
}
