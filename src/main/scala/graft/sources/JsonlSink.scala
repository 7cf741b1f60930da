package graft.sources

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.{Map => JMap}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 WRITE connector — the write-side complement of
  * [[WalkDataSource]] (SURVEY §2.9 extension points, S7's batched
  * write sink applied to the corpus surface): a TRANSACTIONAL
  * manifest-committed JSONL corpus sink.
  *
  * {{{
  *   df.write.format("graft-jsonl")
  *     .option("id", "doc_id").option("shards", "4")
  *     .mode("append").save("/corpus/v1")
  * }}}
  *
  * What the connector buys over a procedural write
  * ([[graft.ingest.Export.shards]]):
  *
  *   - '''Task-level transactionality''': every task writer streams
  *     rows into `_staging/` files; only `DataWriter.commit` makes a
  *     task's output eligible, and Spark's commit coordinator
  *     (`useCommitCoordinator`) admits ONE attempt per task — a
  *     speculative or retried duplicate can never double rows.
  *   - '''Job-atomic visibility''': `BatchWrite.commit` moves exactly
  *     the committed attempts' files out of staging and THEN cuts
  *     `_MANIFEST.json` from the writer-reported stats; an aborted
  *     job deletes staging and leaves no visible artifact. A reader
  *     polling the directory sees either nothing or a complete,
  *     manifest-attested corpus.
  *   - '''Verifier parity''': shard assignment and checksums hash the
  *     id's RENDERED TEXT (XXH64, Spark's seed) — the same bytes
  *     [[graft.ingest.Export.verify]]'s pinned-string JSONL read-back
  *     hashes — so `Export.verify(out, id, format="json")` validates
  *     a sink-written artifact with zero extra machinery.
  *
  * Rows must be atomic-typed (long/int/string/boolean/double — the
  * OutputContract surface); nested types are rejected at write-build
  * time, not mid-job. Null fields are omitted from the JSON object
  * (Spark's own JSONL convention, which a pinned-schema JSON read
  * turns back into nulls); non-finite doubles are
  * likewise omitted (NaN/Infinity are invalid JSON), except in the id
  * column where they are rejected.
  *
  * Write modes: `append` into a non-empty target MERGES the manifest
  * (rows sum, checksums XOR per shard; n_shards must match) so every
  * prior shard file stays attested and `Export.verify` keeps passing;
  * `overwrite` goes through `SupportsTruncate` — existing shard dirs
  * and manifest are deleted driver-side before any task writes.
  */
class JsonlSinkDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-jsonl"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only: the schema comes from the frame

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new JsonlSinkTable(schema)
}

private[sources] class JsonlSinkTable(tableSchema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = "graft-jsonl-sink"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = info.options()
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-jsonl needs a path"))
    val idCol = Option(opts.get("id")).getOrElse("doc_id")
    val nShards = Option(opts.get("shards")).map(_.toInt).getOrElse(4)
    val s = info.schema()
    require(s.fieldNames.contains(idCol), s"id column '$idCol' not in schema")
    val bad = s.fields.filterNot(f => JsonlSink.atomic(f.dataType))
    require(bad.isEmpty,
      s"graft-jsonl writes atomic columns only; offending: ${bad.mkString(", ")}")
    // SupportsTruncate backs the advertised TRUNCATE capability:
    // mode("overwrite") plans a truncate-then-append instead of
    // failing at runtime with "does not support overwrite by
    // expression" (capability without the builder interface).
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new JsonlBatchWrite(path, s, idCol, nShards, doTruncate)
      }
    }
  }
}

private[sources] object JsonlSink {
  def atomic(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType | BooleanType | DoubleType => true
    case _ => false
  }

  /** XXH64 over the UTF-8 bytes of the rendered value, Spark's
    * xxhash64 seed — identical to `xxhash64(col)` on a STRING column,
    * which is exactly what Export.verify's pinned JSONL read-back
    * computes. */
  def idHash(rendered: String): Long = {
    val u = UTF8String.fromString(rendered)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }

  def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }
}

/** Per-shard stats one task attempt reports on commit. */
private[sources] final case class ShardFile(shard: Long, staged: String,
    rows: Long, xor: Long)
private[sources] final case class JsonlCommit(files: Seq[ShardFile])
  extends WriterCommitMessage

private[sources] class JsonlBatchWrite(path: String, schema: StructType,
    idCol: String, nShards: Int, truncate: Boolean) extends BatchWrite {

  // Staged and final filenames carry a per-job token: without it a
  // second append's part-<partition>-<task> names could collide with
  // (and on Linux, silently rename() over) an earlier job's shard
  // files — task ids restart at 0 every job.
  private val jobToken =
    java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    if (truncate) { // driver-side, before any task runs
      new File(path, "_MANIFEST.json").delete()
      Option(new File(path).listFiles()).foreach(_.foreach { f =>
        if (f.isDirectory && f.getName.startsWith("__shard=")) {
          Option(f.listFiles()).foreach(_.foreach(_.delete()))
          f.delete()
        }
      })
    }
    new File(path, "_staging").mkdirs()
    new JsonlWriterFactory(path, schema, idCol, nShards, jobToken)
  }

  // default useCommitCoordinator = true: one committed attempt per task

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.flatMap(_.asInstanceOf[JsonlCommit].files)
    // move ONLY committed attempts' files into their shard dirs
    all.foreach { f =>
      val dir = new File(path, s"__shard=${f.shard}")
      dir.mkdirs()
      Files.move(Paths.get(path, "_staging", f.staged),
        Paths.get(dir.toString, f.staged.stripSuffix(".staged") + ".json"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // losers of the commit coordination never got their files moved —
    // drop the whole staging dir with whatever they left behind
    val staging = new File(path, "_staging")
    Option(staging.listFiles()).foreach(_.foreach(_.delete()))
    staging.delete()
    val jobStats = all.groupBy(_.shard).map { case (sh, fs) =>
      sh -> graft.ingest.Export.ShardStat(sh, fs.map(_.rows).sum,
        fs.map(_.xor).reduce(_ ^ _))
    }
    // Appending into a non-empty target: the new manifest must keep
    // attesting the PRIOR jobs' shard files, or Export.verify fails
    // on a corpus the write just reported committed. Merge: rows sum,
    // checksums XOR (both are associative over row sets); shard
    // counts must agree or the shard assignment hash is inconsistent
    // across the corpus — refuse loudly.
    val prior: Map[Long, graft.ingest.Export.ShardStat] = {
      val mf = new File(path, "_MANIFEST.json")
      if (!mf.exists()) Map.empty
      else {
        val txt = Files.readString(mf.toPath)
        val priorN = """"n_shards": (\d+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toInt)
        require(priorN.contains(nShards),
          s"graft-jsonl append into $path: existing manifest has " +
            s"n_shards=${priorN.getOrElse("?")}, this write uses $nShards " +
            "— shard assignment would be inconsistent; truncate first")
        graft.ingest.Export.readManifest(path).map(s => s.shard -> s).toMap
      }
    }
    val stats = (prior.keySet ++ jobStats.keySet).toSeq.sorted.map { sh =>
      val p = prior.get(sh)
      val j = jobStats.get(sh)
      graft.ingest.Export.ShardStat(sh,
        p.map(_.rows).getOrElse(0L) + j.map(_.rows).getOrElse(0L),
        p.map(_.checksum).getOrElse(0L) ^ j.map(_.checksum).getOrElse(0L))
    }
    val body = stats.map(s =>
      s"""{"shard": ${s.shard}, "rows": ${s.rows}, "checksum": ${s.checksum}}""")
      .mkString(s"""{"n_shards": $nShards, "shards": [\n  """, ",\n  ", "\n]}")
    Files.writeString(Paths.get(path, "_MANIFEST.json"), body)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = new File(path, "_staging")
    Option(staging.listFiles()).foreach(_.foreach(_.delete()))
    staging.delete()
  }
}

private[sources] class JsonlWriterFactory(path: String, schema: StructType,
    idCol: String, nShards: Int, jobToken: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new JsonlDataWriter(path, schema, idCol, nShards, jobToken,
      partitionId, taskId)
}

private[sources] class JsonlDataWriter(path: String, schema: StructType,
    idCol: String, nShards: Int, jobToken: String, partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {
  private val idOrd = schema.fieldIndex(idCol)
  private val fields = schema.fields.zipWithIndex
  private val open = mutable.Map.empty[Long, (String, BufferedWriter)]
  private val rows = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val xors = mutable.Map.empty[Long, Long].withDefaultValue(0L)

  private def render(dt: DataType, row: InternalRow, ord: Int): String =
    dt match {
      case LongType => row.getLong(ord).toString
      case IntegerType => row.getInt(ord).toString
      case BooleanType => row.getBoolean(ord).toString
      case DoubleType => row.getDouble(ord).toString
      case StringType =>
        "\"" + JsonlSink.jsonEscape(row.getUTF8String(ord).toString) + "\""
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

  override def write(row: InternalRow): Unit = {
    val idRendered =
      if (schema(idOrd).dataType == StringType)
        row.getUTF8String(idOrd).toString
      else render(schema(idOrd).dataType, row, idOrd)
    if (schema(idOrd).dataType == DoubleType &&
        !java.lang.Double.isFinite(row.getDouble(idOrd)))
      throw new IllegalArgumentException(
        s"graft-jsonl: id column '$idCol' is non-finite ($idRendered) — " +
          "NaN/Infinity cannot be rendered as JSON or hashed stably")
    val h = JsonlSink.idHash(idRendered)
    val shard = java.lang.Math.floorMod(h, nShards.toLong)
    val w = open.getOrElseUpdate(shard, {
      val name = s"part-$jobToken-$partitionId-$taskId-$shard.staged"
      // explicit UTF-8: FileWriter would use the JVM default charset,
      // which on Java 17 can be non-UTF-8 — silently corrupting
      // non-ASCII text against the UTF-8 manifest and JSON reader
      (name, new BufferedWriter(new OutputStreamWriter(new FileOutputStream(
        new File(new File(path, "_staging"), name)), StandardCharsets.UTF_8)))
    })._2
    val obj = fields.flatMap { case (f, i) =>
      if (row.isNullAt(i)) None // omit nulls: Spark's JSONL convention
      // NaN/Infinity are invalid JSON tokens — treat as null (omit),
      // matching what a JSON round-trip could represent
      else if (f.dataType == DoubleType &&
          !java.lang.Double.isFinite(row.getDouble(i))) None
      else Some("\"" + f.name + "\":" + render(f.dataType, row, i))
    }.mkString("{", ",", "}")
    w.write(obj); w.newLine()
    rows(shard) += 1L
    xors(shard) = xors(shard) ^ h
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._2.close())
    JsonlCommit(open.toSeq.sortBy(_._1).map { case (sh, (name, _)) =>
      ShardFile(sh, name, rows(sh), xors(sh))
    })
  }

  override def abort(): Unit = {
    open.values.foreach { case (name, w) =>
      w.close()
      new File(new File(path, "_staging"), name).delete()
    }
  }

  override def close(): Unit = ()
}
