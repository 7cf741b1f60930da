package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.{FileEntry, ScanError, ScanLog}

/** Snapshot layout (replaces the reference's BadgerDB buckets,
  * badgerdb.go:54-72, and the `.idustats` gob artifact + `latest`
  * symlink, stats.go:31-82):
  *
  * {{{
  * <base>/snapshots/<ts>/files/         parquet fact table
  * <base>/snapshots/<ts>/errors/        scan_errors table
  * <base>/snapshots/<ts>/summary.json   counts observed on the write
  * <base>/scan_log/                     append-only run log
  * <base>/LATEST                        text file: name of newest snapshot
  * }}}
  *
  * A timestamped-directory-plus-LATEST-pointer works on any Hadoop
  * filesystem (HDFS/S3/GCS have no symlinks). Writers produce a whole
  * new snapshot dir, summary included, then flip LATEST atomically (a
  * temp file renamed over it) — readers never see a partial snapshot
  * or an empty pointer (the reference gets the same property from
  * Badger transactions).
  *
  * Every read pins its table's schema, so opening a snapshot runs no
  * schema-inference job; a part file lacking a pinned column fails the
  * read instead of reading nulls ([[readPinned]]).
  */
object Snapshot {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS")
    .withZone(ZoneOffset.UTC)

  /** Pinned schemas of the files, errors and scan-log tables. */
  val FilesSchema: StructType = nullable(Encoders.product[FileEntry].schema)
  val ErrorsSchema: StructType = nullable(Encoders.product[ScanError].schema)
  val LogSchema: StructType = nullable(Encoders.product[ScanLog].schema)

  /** `s` with every column nullable, as parquet reads it back. */
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private val SummaryFile = "summary.json"

  /** The analyze summary of one snapshot, observed on its write:
    * `files`/`dirs` count entry and dir rows, `bytes` sums entry
    * sizes, and `rows`/`null_keys`/`violations` are the
    * [[graft.ops.Observe.quality]] metrics (null `path`; negative size
    * or link count). */
  final case class Summary(files: Long, dirs: Long, bytes: Long, rows: Long,
      null_keys: Long, violations: Long, errors: Long) {
    def quality: Map[String, Any] =
      Map("rows" -> rows, "null_keys" -> null_keys, "violations" -> violations)
  }

  private val summaryFields: Seq[String] =
    Encoders.product[Summary].schema.fieldNames.toSeq

  /** Write `files` and `errors` as a new snapshot and flip LATEST to
    * it. The summary rides the two write jobs as [[Observation]]s at
    * the top of each plan, so they run in the write's final stage and
    * a retried task counts once; it lands in the snapshot dir before
    * the flip. */
  def write(base: String, files: DataFrame, errors: DataFrame): String = {
    val name = tsFmt.format(Instant.now())
    val dir = s"$base/snapshots/$name"
    def n(c: org.apache.spark.sql.Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val obs = Observation()
    // Sort within partitions by path: co-locates subtrees per file →
    // parquet min/max path stats give subtree pruning for prefix
    // queries (the analogue of the reference's key-ordered scans).
    files.select(FilesSchema.fieldNames.toSeq.map(col): _*)
      .observe(obs,
        n(!col("is_dir")).as("files"), n(col("is_dir")).as("dirs"),
        coalesce(sum(when(!col("is_dir"), col("size"))), lit(0L)).as("bytes"),
        count(lit(1)).as("rows"), n(col("path").isNull).as("null_keys"),
        n(col("size") < 0 || col("nlink") < 0).as("violations"))
      .sortWithinPartitions("path")
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/files")
    val errObs = Observation()
    errors.select(ErrorsSchema.fieldNames.toSeq.map(col): _*)
      .observe(errObs, count(lit(1)).as("errors"))
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/errors")
    val m = obs.get ++ errObs.get
    Files.writeString(Paths.get(dir, SummaryFile),
      summaryFields.map(f => s""""$f": ${m(f)}""").mkString("{", ", ", "}\n"))
    writePointer(Paths.get(base, "LATEST"), name)
    name
  }

  /** The summary recorded by [[write]] — a file read, no Spark job. */
  def summary(base: String, snapshot: Option[String] = None): Summary = {
    val p = Paths.get(snapshotDir(base, snapshot), SummaryFile)
    if (!Files.exists(p))
      throw new IllegalStateException(s"$p missing: the snapshot predates recorded summaries")
    val kv = "\"(\\w+)\": (-?\\d+)".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val Seq(files, dirs, bytes, rows, nullKeys, violations, errors) = summaryFields.map(kv)
    Summary(files, dirs, bytes, rows, nullKeys, violations, errors)
  }

  def latestName(base: String): Option[String] = readPointer(Paths.get(base, "LATEST"))

  /** All snapshots, newest first (reference reports.go:268-282's
    * candidate listing, applied to snapshots). */
  def candidates(base: String): Seq[String] =
    Retention.candidates(s"$base/snapshots")

  /** Keep the newest `keep` snapshots (the LATEST target always
    * survives); returns deleted names. Reference reports.go:284-296. */
  def prune(base: String, keep: Int): Seq[String] =
    Retention.prune(s"$base/snapshots", keep, protect = latestName(base))

  private def snapshotDir(base: String, snapshot: Option[String]): String = {
    val name = snapshot.orElse(latestName(base)).getOrElse(
      throw new IllegalStateException(s"no snapshot under $base"))
    s"$base/snapshots/$name"
  }

  def readFiles(spark: SparkSession, base: String, snapshot: Option[String] = None): DataFrame =
    readPinned(spark, s"${snapshotDir(base, snapshot)}/files", FilesSchema)

  def readErrors(spark: SparkSession, base: String, snapshot: Option[String] = None): DataFrame =
    readPinned(spark, s"${snapshotDir(base, snapshot)}/errors", ErrorsSchema)

  def readLog(spark: SparkSession, base: String): DataFrame =
    readPinned(spark, s"$base/scan_log", LogSchema)

  def appendLog(spark: SparkSession, base: String, log: DataFrame): Unit =
    log.write.mode(SaveMode.Append).parquet(s"$base/scan_log")

  /** Read the parquet table at `dir` under `schema` — no inference
    * job, unlike a schema-less `spark.read.parquet`. One part file's
    * footer, read on the driver, must carry every pinned column with
    * its type: a missing column would otherwise read as nulls. The
    * footer check rejects a table of the wrong shape (say, an old
    * layout); every writer of these tables writes the same schema to
    * all its part files. */
  private[graft] def readPinned(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val hdir = new HPath(dir)
    val fs = hdir.getFileSystem(conf)
    val part = fs.listStatus(hdir).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part file in $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    val found = try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(reader.getFileMetaData.getSchema) finally reader.close()
    val bad = schema.fields.filterNot(f =>
      found.fields.exists(g => g.name == f.name && g.dataType == f.dataType))
    if (bad.nonEmpty)
      throw new IllegalStateException(s"$dir does not match its pinned schema: " +
        bad.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ") +
        s" missing or mistyped in ${found.simpleString}")
    spark.read.schema(schema).parquet(dir)
  }

  /** Point the pointer file `p` at `name` atomically: write a temp file
    * beside it, then rename it over `p`. A reader sees the old name or
    * the new one, never an empty or partial file. */
  private[graft] def writePointer(p: Path, name: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, p.getFileName.toString, ".tmp")
    Files.write(tmp, name.getBytes(UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def readPointer(p: Path): Option[String] =
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), UTF_8).trim) else None
}
