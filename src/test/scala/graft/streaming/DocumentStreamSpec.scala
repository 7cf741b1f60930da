package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DocumentStreamSpec extends SparkSpec {

  test("streaming sharded export: cumulative manifest equals the batch export") {
    val s = spark
    import s.implicits._
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sexp")
    val b0 = (0L until 30L).map(i => i -> s"streamed doc $i").toDF("doc_id", "text")
    val b1 = (30L until 50L).map(i => i -> s"streamed doc $i").toDF("doc_id", "text")
    val scratch = java.nio.file.Files.createTempDirectory("graft-sexp-w")
    val t0 = System.currentTimeMillis()
    Seq((b0, "f0", t0 - 60000), (b1, "f1", t0)).foreach { case (df, name, mtime) =>
      val out = scratch.resolve(name)
      df.coalesce(1).write.parquet(out.toString)
      val part = java.nio.file.Files.list(out).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val target = streamDir.resolve(s"$name.parquet")
      java.nio.file.Files.copy(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val out = java.nio.file.Files.createTempDirectory("graft-sexp-o").toString + "/c"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sexp-ck").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val q = DocumentStream.exportOnIngest(stream, "doc_id", out,
      nShards = 3, checkpointDir = ckpt)
    q.processAllAvailable()
    q.stop()
    // shard = pure id hash, so the streaming artifact's manifest must
    // equal a batch export's stats over the SAME rows
    val batchOut = java.nio.file.Files.createTempDirectory("graft-sexp-b")
      .toString + "/c"
    val batchStats = graft.ingest.Export.shards(
      b0.unionByName(b1), "doc_id", batchOut, nShards = 3)
    assert(graft.ingest.Export.readManifest(out) === batchStats)
    assert(graft.ingest.Export.verify(spark, out, "doc_id").isEmpty)
    val back = spark.read.parquet(out)
    assert(back.count() === 50L)
    // every doc sits in its id-hash shard regardless of arrival batch
    assert(back.where(col("__shard") =!=
      pmod(xxhash64(col("doc_id")), lit(3L))).count() === 0L)
  }

  test("streaming pipeline twin: stage counts equal batch stages on the same rows") {
    val s = spark
    import s.implicits._
    // real corpus split into two id-ordered batch files, so every
    // content group's min id lives in its first-containing batch and
    // first-arrival canonicals == batch exact-dedup canonicals
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint(true)
    val cut = 250L
    // batch 1 additionally carries RE-CRAWLS of 30 early docs (same
    // text, new ids) — the corpus itself has no duplicate texts, so
    // without these the dedup stage would be vacuously exercised
    val recrawls = docs.where(col("doc_id") < 30)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(Seq((20000L, "!", "xx", "src0", 1L),
        (20001L, "? ! ?", "xx", "src0", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-spipe")
    val scratch = java.nio.file.Files.createTempDirectory("graft-spipe-w")
    val t0 = System.currentTimeMillis()
    Seq((docs.where(col("doc_id") < cut), "f0", t0 - 60000),
        (docs.where(col("doc_id") >= cut).unionByName(recrawls),
          "f1", t0)).foreach {
      case (df, name, mtime) =>
        val out = scratch.resolve(name)
        df.coalesce(1).write.parquet(out.toString)
        val part = java.nio.file.Files.list(out).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val target = streamDir.resolve(s"$name.parquet")
        java.nio.file.Files.copy(part, target)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val out = java.nio.file.Files.createTempDirectory("graft-spipe-o")
      .toString + "/c"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-spipe-ck")
      .toString
    val minQ = 0.5
    val q = DocumentStream.pipelineOnIngest(spark, streamDir.toString,
      out, ckpt, nShards = 3, minQuality = minQ,
      maxFilesPerTrigger = Some(1))
    q.processAllAvailable()
    q.stop()
    // batch stage 1: the same quality predicate on the union
    val all = docs.unionByName(recrawls).localCheckpoint(true)
    val gatedBatch = DocumentStream.qualityGate(spark, all, minQ)
      .localCheckpoint(true)
    // batch stage 2: exact dedup canonicals among the survivors
    val canonBatch = graft.dedup.Dedup.exact(gatedBatch, "text", "doc_id")
      .select(col("canonical_id")).as[Long].collect().toSet
    // the planted punctuation junk scores below the gate (pinned on
    // the kernel directly, so a gate pass-through cannot hide)
    assert(gatedBatch.where(col("doc_id") >= 20000L).count() === 0L)
    assert(gatedBatch.count() < all.count(), "gate must drop something")
    assert(canonBatch.nonEmpty)
    // the dedup stage did real work: surviving re-crawls collapsed
    // onto their originals, so no re-crawl id is canonical
    assert(gatedBatch.where(col("doc_id") >= 10000L).count() > 0)
    assert(!canonBatch.exists(_ >= 10000L))
    // the streamed artifact holds exactly the batch canonicals
    val back = spark.read.parquet(out)
    val streamedIds = back.select(col("doc_id")).as[Long].collect().toSet
    assert(streamedIds == canonBatch)
    // manifest attests the artifact; rows match; shards are id-pure
    assert(graft.ingest.Export.verify(spark, out, "doc_id").isEmpty)
    assert(graft.ingest.Export.readManifest(out).map(_.rows).sum
      === canonBatch.size.toLong)
    assert(back.where(col("__shard") =!=
      pmod(xxhash64(col("doc_id")), lit(3L))).count() === 0L)
  }
}
