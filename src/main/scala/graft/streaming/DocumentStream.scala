package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.text.TextAnalysis

/** The streaming pipeline twin (`cli pipeline --stream`): the batch
  * pipeline's quality gate, a first-arrival exact dedup and the sharded
  * export, applied continuously as documents arrive in a directory.
  *
  * The quality gate is STATELESS scan-stage work through the native
  * kernel — per-microbatch plans are identical to the batch plan, so
  * streaming ≡ batch row-for-row (asserted in DocumentStreamSpec) and
  * throughput scales with source parallelism, no state store involved.
  */
object DocumentStream {

  /** Schema of the documents parquet (TESTDATA.md). */
  val docSchema =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  /** Streaming sharded export with a CUMULATIVE read-back manifest —
    * the streaming twin of [[graft.ingest.Export.shards]] (and of the
    * CLI pipeline's final stage): documents append continuously into
    * the same stable shard layout a batch export would produce, and
    * after every microbatch the manifest is re-attested from what is
    * actually ON DISK.
    *
    *   - Shard = pmod(xxhash64(id), n) — a pure id function, so a doc
    *     lands in the same shard whether it arrived in batch 0 or
    *     batch 9000, and the streaming artifact's manifest equals the
    *     batch export's manifest over the same rows (asserted in
    *     DocumentStreamSpec).
    *   - Idempotent replay: each microbatch OVERWRITES its own
    *     `batch=<id>` directory, so foreachBatch's at-least-once
    *     redelivery cannot double rows — the effective guarantee is
    *     exactly-once per batch directory.
    *   - The manifest is cut from a read-back of the whole artifact
    *     (Export.attest), so a consumer polling mid-stream always
    *     sees counts/checksums that attest real files, never plan-side
    *     expectations.
    *
    * Dedup-before-export composes upstream ([[canonicalOnIngest]]);
    * this operator is purely the durable tail. */
  def exportOnIngest(docs: DataFrame, idCol: String, outDir: String,
      nShards: Int, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sharded = batch.withColumn("__shard",
          pmod(xxhash64(col(idCol)), lit(nShards.toLong)))
        sharded.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__shard").parquet(s"$outDir/batch=$batchId")
        graft.ingest.Export.attest(batch.sparkSession, outDir, idCol,
          nShards)
        ()
      }
      .start()

  /** Quality gate that keeps the document columns — the streaming
    * pipeline's first stage, bit-identical to the batch pipeline's
    * stage 1 predicate (same qualityScoreFast kernel, same threshold). */
  def qualityGate(spark: SparkSession, docs: DataFrame,
      minQuality: Double): DataFrame =
    docs.withColumn("__q", TextAnalysis.qualityScoreFast(spark, col("text")))
      .where(col("__q") >= minQuality).drop("__q")

  /** Row carried through the dedup state stage (public: a private
    * encoder case class breaks codegen at runtime). */
  final case class IngestDoc(text_hash: String, doc_id: Long, text: String,
      lang: String, source: String, n_chars: Long)

  /** First-arrival exact dedup that emits the CANONICAL DOCUMENT (the
    * min-id row of the first batch containing its normalized text) —
    * the streaming twin of [[graft.dedup.Dedup.exact]], emitting whole
    * rows so the export tail has something to write. State per
    * distinct content is ONE long (the canonical id); the candidate
    * rows a batch holds are bounded by the batch.
    *
    * First-ARRIVAL semantics, not global min-id: a later batch
    * carrying a smaller id does not reopen the group (what an ingest
    * pipeline can know online). */
  def canonicalOnIngest(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("text_hash"),
        col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars").cast("long")
          .as("n_chars"))
      .as[IngestDoc]
      .groupByKey(_.text_hash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[IngestDoc], st: GroupState[Long]) =>
          if (st.exists) Iterator.empty
          else {
            val canon = rows.minBy(d => (d.doc_id))
            st.update(canon.doc_id)
            Iterator.single(canon)
          })
      .toDF()
      .drop("text_hash")
  }

  /** The STREAMING PIPELINE TWIN (`cli pipeline --stream`): quality
    * gate → first-arrival exact dedup → sharded export with the
    * cumulative read-back manifest, as one continuous query over a
    * document directory source.
    *
    * Stage-for-stage vs the batch pipeline ([[graft.cli.Main]]
    * pipelineRun): stage 1 is the SAME predicate (streaming ≡ batch
    * row-for-row, stateless); stage 2 is the exact-dedup tier (the
    * batch pipeline's span-dedup screen needs corpus-wide gram
    * aggregates and remains a batch pass); the mixture stage is
    * inherently a corpus decision (a global water-fill budget) and
    * stays batch; stage 4 is [[exportOnIngest]] unchanged. The E2E
    * count parity against independently computed batch stages is
    * pinned in DocumentStreamSpec. */
  def pipelineOnIngest(spark: SparkSession, sourceDir: String,
      outDir: String, checkpointDir: String, nShards: Int,
      minQuality: Double, maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val gated = qualityGate(spark, reader.parquet(sourceDir), minQuality)
    exportOnIngest(canonicalOnIngest(gated), "doc_id", outDir, nShards,
      checkpointDir)
  }
}
