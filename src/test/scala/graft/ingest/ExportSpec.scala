package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TestTables}

class ExportSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("export round-trips content exactly; shard assignment is a pure id function") {
    val out = Files.createTempDirectory("graft-export").toString + "/c"
    val docs = Tables.documents(spark, dir).select("doc_id", "text", "source")
    val stats = Export.shards(docs, "doc_id", out, nShards = 8)
    assert(stats.map(_.rows).sum === docs.count())
    // reload parity, row for row
    val back = spark.read.parquet(out)
    assert(back.select("doc_id", "text", "source").collect().map(_.toSeq).toSet
      === docs.collect().map(_.toSeq).toSet)
    // shard = xxhash64(id) mod n, recomputable by any consumer
    val bad = back.where(
      col("__shard").cast("long") =!= pmod(xxhash64(col("doc_id")), lit(8L)))
    assert(bad.count() === 0L)
    // verification passes on the intact export
    assert(Export.verify(spark, out, "doc_id").isEmpty)
  }

  test("verify flags a tampered shard and a lost shard") {
    val out = Files.createTempDirectory("graft-export2").toString + "/c"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    Export.shards(docs, "doc_id", out, nShards = 4)
    // tamper: append a duplicated row into shard 0
    docs.limit(1).withColumn("__shard", lit(0L))
      .write.mode("append").partitionBy("__shard").parquet(out)
    val bad = Export.verify(spark, out, "doc_id")
    assert(bad == Seq(0L), bad.toString)
    // lose a whole shard: delete its directory
    val shard1 = new java.io.File(s"$out/__shard=1")
    shard1.listFiles().foreach(_.delete()); shard1.delete()
    val bad2 = Export.verify(spark, out, "doc_id")
    assert(bad2.contains(1L) && bad2.contains(0L), bad2.toString)
  }

  test("manifest attests the artifact: a write-side fault shows at cut time") {
    val out = Files.createTempDirectory("graft-export4").toString + "/c"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val intact = Export.shards(docs, "doc_id", out, nShards = 4)
    // the no-fault manifest equals the input-side aggregate
    val inputStats = docs
      .groupBy(pmod(xxhash64(col("doc_id")), lit(4L)).as("shard"))
      .agg(count(lit(1)).as("rows"),
        expr("bit_xor(xxhash64(doc_id))").as("checksum"))
      .collect()
      .map(r => Export.ShardStat(r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.shard).toSeq
    assert(intact === inputStats)
    // simulate a write-side fault BEFORE the manifest is cut: a part
    // file of shard 0 vanishes; re-cutting the manifest must already
    // disagree with the input-side stats (attesting what's on disk),
    // while staying self-consistent with the damaged artifact.
    val shard0 = new java.io.File(s"$out/__shard=0")
    val part = shard0.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part.delete())
    val recut = Export.attest(spark, out, "doc_id", 4)
    val in0 = inputStats.find(_.shard == 0L).get
    val re0 = recut.find(_.shard == 0L)
    assert(re0.forall(s => s.rows < in0.rows),
      s"manifest must reflect the lost part: input=$in0 recut=$re0")
    assert(recut.filter(_.shard != 0L) === inputStats.filter(_.shard != 0L))
    assert(Export.verify(spark, out, "doc_id").isEmpty,
      "re-cut manifest is consistent with the (damaged) artifact")
  }

  test("JSONL export round-trips, verifies, and flags tampering") {
    val out = Files.createTempDirectory("graft-exportj").toString + "/c"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
    val stats = Export.shards(docs, "doc_id", out, nShards = 4,
      format = "json")
    assert(stats.map(_.rows).sum === docs.count())
    // the artifact really is JSONL: one JSON object per line
    val shard0 = new java.io.File(s"$out/__shard=0")
    val part = shard0.listFiles().filter(_.getName.endsWith(".json")).head
    val firstLine = Files.readAllLines(part.toPath).get(0)
    assert(firstLine.startsWith("{") && firstLine.endsWith("}"))
    // reload parity, row for row (ids + text survive JSON round-trip)
    val back = spark.read.format("json").load(out)
    assert(back.select("doc_id", "text", "lang", "source")
      .collect().map(_.toSeq).toSet
      === docs.collect().map(_.toSeq).toSet)
    assert(Export.verify(spark, out, "doc_id", format = "json").isEmpty)
    // tamper: lose shard 0's data file → that shard flags
    assert(part.delete())
    val bad = Export.verify(spark, out, "doc_id", format = "json")
    assert(bad == Seq(0L), bad.toString)
  }

  test("documentsJsonl reads a JSONL export back with the pinned schema") {
    val out = Files.createTempDirectory("graft-exportj2").toString + "/c"
    val docs = Tables.documents(spark, dir)
    Export.shards(docs, "doc_id", out, nShards = 2, format = "json")
    val back = TestTables.documentsJsonl(spark, out)
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) ==
      docs.schema.map(f => f.name -> f.dataType.simpleString))
    assert(back.collect().map(_.toSeq).toSet ==
      docs.collect().map(_.toSeq).toSet)
  }

  test("manifest parses back exactly what was written") {
    val out = Files.createTempDirectory("graft-export3").toString + "/c"
    val docs = Tables.documents(spark, dir).select("doc_id")
    val stats = Export.shards(docs, "doc_id", out, nShards = 3)
    assert(Export.readManifest(out) === stats)
  }
}
