package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet IO for the KILOBYTE-SIZED index sidecars (meta
  * census, packed dup-guard bloom, quantizer tables, commit
  * snapshots). Every one of these is bounded by DESIGN — one census
  * row, bits/64 bloom words, K x d centroids, #files commit entries —
  * and is already collected to (or produced on) the driver by the ops
  * that use it. Round-18 profiling (guide §1): the index-lifecycle
  * gates spent MOST of their wall on ~50 Spark jobs of 20-100 ms each,
  * the bulk of them `spark.read.parquet(tiny).head()` planning reads
  * and `Seq(...).toDF.coalesce(1).write.parquet(tiny)` writes paying
  * job scheduling + Hadoop committer (temporary dir, rename, _SUCCESS)
  * for single-kilobyte files. Reading and writing those files directly
  * with parquet-hadoop on the driver removes the whole fixed cost —
  * the lakehouse discipline: MANIFEST work belongs on the
  * driver/metadata plane, cluster jobs are for data.
  *
  * The on-disk format is plain parquet (same column names, same
  * physical types Spark writes: int32/int64/double/binary-UTF8), so
  * Spark reads of these files — tests, tools — keep working.
  *
  * It also reads the schema Spark stored in the footer of an index
  * data file ([[sparkSchema]]), so the reads of those files plan with
  * no schema-inference job (IndexStore.read).
  */
object TinyParquet {
  /** Field kinds: "int" (int32), "long" (int64), "double",
    * "string" (binary UTF-8). All fields optional (nullable), matching
    * Spark's default nullable writes; null values are simply absent.
    */
  def schemaOf(fields: Seq[(String, String)]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (name, kind) =>
      kind match {
        case "int"    => b.optional(PrimitiveTypeName.INT32).named(name)
        case "long"   => b.optional(PrimitiveTypeName.INT64).named(name)
        case "double" => b.optional(PrimitiveTypeName.DOUBLE).named(name)
        case "string" => b.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(name)
        case other => throw new IllegalArgumentException(
          s"TinyParquet: unsupported field kind $other")
      }
    }
    b.named("spark_schema")
  }

  /** Write `rows` as ONE parquet data file under `dir` (created if
    * needed), superseding the part files already there. The file is
    * named part-g<N>-<uuid>.parquet — N one above the newest
    * generation in the dir, taken from the listing that finds the
    * superseded files — so the part-* discovery and vacuum conventions
    * apply unchanged and [[read]] can tell generations apart.
    *
    * Rename discipline (not delete-dir-then-write): the file is built
    * under a dot-prefixed temp name (invisible to the part-* read
    * filter), renamed into place fully formed, and only THEN are the
    * superseded part files removed — so a concurrent reader or a crash
    * mid-write can never observe a missing dir or a torn (footerless)
    * parquet file, mirroring IndexCommits.commit's staging rename. A
    * crash between the rename and those deletes leaves two generations
    * on disk; [[read]] serves only the newest, and the next write
    * removes the older.
    */
  def write(conf: Configuration, dir: String,
            fields: Seq[(String, String)], rows: Seq[Seq[Any]]): Unit = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    // superseded part files, plus any stale .tmp a crashed writer left
    // (both invisible to readers once the rename lands)
    val old = fs.listStatus(dirPath).toSeq.collect {
      case st if !st.isDirectory &&
          (st.getPath.getName.startsWith("part-") ||
            (st.getPath.getName.startsWith(".part-") &&
              st.getPath.getName.endsWith(".tmp"))) => st.getPath
    }
    val gen = old.map(p => generation(p.getName)).foldLeft(0L)(math.max) + 1
    val schema = schemaOf(fields)
    val name = s"part-g$gen-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(dirPath, s".$name.tmp")
    val writer = ExampleParquetWriter.builder(tmp)
      .withType(schema).withConf(conf).build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      fields.zip(r).foreach { case ((name, kind), v) =>
        if (v != null) kind match {
          case "int"    => g.append(name, v.asInstanceOf[Number].intValue())
          case "long"   => g.append(name, v.asInstanceOf[Number].longValue())
          case "double" => g.append(name,
            v.asInstanceOf[Number].doubleValue())
          case "string" => g.append(name, v.asInstanceOf[String])
        }
      }
      writer.write(g)
    } finally writer.close()
    require(fs.rename(tmp, new Path(dirPath, name)),
      s"TinyParquet: publish rename failed for $tmp")
    old.foreach(p => fs.delete(p, false))
  }

  private val Stamped = "part-g(\\d+)-.*".r

  /** The generation stamped in a part-file name by [[write]]; 0 for an
    * unstamped part file (one Spark wrote).
    */
  private def generation(name: String): Long = name match {
    case Stamped(g) => g.toLong
    case _          => 0L
  }

  /** The non-empty part-* files a read serves under `p` (or `p` itself
    * when it is a file), newest generation only: Spark-written dirs
    * carry generation 0 throughout and are read whole.
    *
    * A stamped generation is ONE file by construction ([[write]]); two
    * files of the newest one mean two writers raced — both took the
    * same generation from their listings — and which census is
    * current is unknowable, so the read fails naming the dir and the
    * generation instead of serving an arbitrary row. Single-writer per
    * store is the design assumption ([[IndexCommits]]).
    */
  private def liveParts(fs: FileSystem, p: Path): Seq[Path] =
    if (!fs.getFileStatus(p).isDirectory) Seq(p)
    else {
      val parts = fs.listStatus(p).toSeq
        .filter(st => !st.isDirectory &&
          st.getPath.getName.startsWith("part-") && st.getLen > 0)
        .map(_.getPath)
      val newest = parts.map(f => generation(f.getName))
        .foldLeft(0L)(math.max)
      val live = parts.filter(f => generation(f.getName) == newest)
      if (newest > 0 && live.size > 1)
        throw new IllegalStateException(
          s"TinyParquet: $p holds ${live.size} part files of generation " +
            s"$newest (${live.map(_.getName).sorted.mkString(", ")}) — " +
            "concurrent writers published the same generation; keep one " +
            "writer per store and rewrite the sidecar")
      live
    }

  /** One row of a tiny sidecar, with Row-like typed getters. */
  final class TRow(idx: Map[String, Int], vals: Array[Any]) {
    def isNullAt(name: String): Boolean = vals(idx(name)) == null
    def getInt(name: String): Int =
      vals(idx(name)).asInstanceOf[Number].intValue()
    def getLong(name: String): Long =
      vals(idx(name)).asInstanceOf[Number].longValue()
    def getDouble(name: String): Double =
      vals(idx(name)).asInstanceOf[Number].doubleValue()
    def getString(name: String): String =
      vals(idx(name)).asInstanceOf[String]
  }

  /** Read the newest generation of part-* data files under `dir` (or
    * `dir` itself when it is a file). Column set is taken from the
    * first file's schema; physical int32/int64/double/binary-UTF8/
    * boolean map to Int/Long/Double/String/Boolean. Returns empty when
    * the directory does not exist.
    */
  def read(conf: Configuration, dir: String): Seq[TRow] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    liveParts(fs, p).flatMap(f => readFile(conf, f))
  }

  /** Total row count of the given parquet files/dirs from FOOTER
    * metadata only — the driver-side equivalent of a Spark count()
    * over a small sidecar (no job, no data pages read).
    */
  def rowCount(conf: Configuration, paths: Seq[String]): Long =
    paths.map { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else liveParts(fs, p).map(f => footer(conf, f)(_.getRecordCount)).sum
    }.sum

  private def footer[T](conf: Configuration, f: Path)
                       (get: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try get(r) finally r.close()
  }

  /** The Spark schema in the footer of one Spark-written parquet file:
    * Spark stores it under its row-metadata key in every file it
    * writes (the data columns; a `key=value` partition column lives in
    * the path). One footer read on the driver, no Spark job. Fails
    * naming the file when the footer holds none.
    */
  def sparkSchema(conf: Configuration, file: String): StructType = {
    val json = footer(conf, new Path(file))(_.getFooter.getFileMetaData
      .getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
    require(json != null,
      s"TinyParquet: $file holds no Spark schema in its footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  private def readFile(conf: Configuration, file: Path): Seq[TRow] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), file).withConf(conf).build()
    val out = scala.collection.mutable.ArrayBuffer.empty[TRow]
    try {
      var g = reader.read()
      var idx: Map[String, Int] = null
      var kinds: Array[PrimitiveTypeName] = null
      while (g != null) {
        val schema = g.getType
        if (idx == null) {
          idx = (0 until schema.getFieldCount)
            .map(i => schema.getFieldName(i) -> i).toMap
          kinds = (0 until schema.getFieldCount).map(i =>
            schema.getType(i).asPrimitiveType().getPrimitiveTypeName
          ).toArray
        }
        val vals = new Array[Any](schema.getFieldCount)
        var i = 0
        while (i < vals.length) {
          if (g.getFieldRepetitionCount(i) > 0) {
            vals(i) = kinds(i) match {
              case PrimitiveTypeName.INT32   => g.getInteger(i, 0)
              case PrimitiveTypeName.INT64   => g.getLong(i, 0)
              case PrimitiveTypeName.DOUBLE  => g.getDouble(i, 0)
              case PrimitiveTypeName.FLOAT   => g.getFloat(i, 0)
              case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
              case PrimitiveTypeName.BINARY  => g.getString(i, 0)
              case other => throw new IllegalArgumentException(
                s"TinyParquet: unsupported physical type $other in $file")
            }
          }
          i += 1
        }
        out += new TRow(idx, vals)
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }
}
