package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class JsonlSinkSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sink writes a manifest-attested JSONL corpus Export.verify validates") {
    val docs = graft.Tables.documents(spark, dir)
    val out = Files.createTempDirectory("graft-jsink").toString + "/c"
    docs.write.format("graft-jsonl")
      .option("id", "doc_id").option("shards", "4")
      .mode("append").save(out)
    // the standard verifier validates the sink's artifact as-is:
    // checksums hash the id's rendered text, exactly the bytes the
    // pinned-string JSONL read-back hashes
    assert(graft.ingest.Export.verify(spark, out, "doc_id",
      format = "json").isEmpty)
    // the pinned-schema reader round-trips content exactly
    val back = graft.TestTables.documentsJsonl(spark, out)
    assert(back.count() === docs.count())
    assert(back.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toSeq).toSet ===
      docs.select("doc_id", "text", "lang", "source", "n_chars")
        .collect().map(_.toSeq).toSet)
    // no staging residue; manifest present
    assert(!new java.io.File(s"$out/_staging").exists())
    assert(new java.io.File(s"$out/_MANIFEST.json").exists())
    // manifest row totals equal the input
    assert(graft.ingest.Export.readManifest(out).map(_.rows).sum
      === docs.count())
  }

  test("a tampered sink artifact flags in Export.verify like any export") {
    val docs = graft.Tables.documents(spark, dir).limit(60)
    val out = Files.createTempDirectory("graft-jsink5").toString + "/c"
    docs.write.format("graft-jsonl")
      .option("id", "doc_id").option("shards", "3")
      .mode("append").save(out)
    assert(graft.ingest.Export.verify(spark, out, "doc_id",
      format = "json").isEmpty)
    // lose shard 1's data file → exactly that shard flags
    val shard1 = new java.io.File(s"$out/__shard=1")
    shard1.listFiles().filter(_.getName.endsWith(".json")).foreach(f =>
      assert(f.delete()))
    val bad = graft.ingest.Export.verify(spark, out, "doc_id",
      format = "json")
    assert(bad === Seq(1L), bad.toString)
  }

  test("shard assignment is a pure function of the rendered id") {
    val docs = graft.Tables.documents(spark, dir).limit(50)
    val out = Files.createTempDirectory("graft-jsink2").toString + "/c"
    docs.write.format("graft-jsonl")
      .option("id", "doc_id").option("shards", "3")
      .mode("append").save(out)
    val back = spark.read
      .schema("doc_id LONG, __shard INT")
      .json(out)
    val offside = back.where(col("__shard").cast("long") =!=
      pmod(xxhash64(col("doc_id").cast("string")), lit(3L)))
    assert(offside.count() === 0L)
  }

  test("an aborted task leaves no staged file; nested types are rejected") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-jsink3").toString + "/c"
    new java.io.File(out, "_staging").mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val w = new JsonlWriterFactory(out, schema, "doc_id", 2, "testjob1")
      .createWriter(partitionId = 0, taskId = 7L)
    val row = org.apache.spark.sql.catalyst.InternalRow(3L,
      org.apache.spark.unsafe.types.UTF8String.fromString("abc"))
    w.write(row)
    assert(new java.io.File(s"$out/_staging").listFiles().nonEmpty)
    w.abort()
    assert(new java.io.File(s"$out/_staging").listFiles().isEmpty)
    // nested types fail at write-build time, not mid-job
    val nested = Seq((1L, Seq("a", "b"))).toDF("doc_id", "arr")
    val err = intercept[Exception] {
      nested.write.format("graft-jsonl").option("id", "doc_id")
        .mode("append").save(out + "_n")
    }
    assert(err.getMessage.contains("atomic columns only")
      || Option(err.getCause).exists(_.getMessage.contains("atomic columns only")),
      err.toString)
  }

  test("null fields are omitted and read back as nulls under the pinned schema") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-jsink4").toString + "/c"
    val df = Seq((1L, Some("x"), "en"), (2L, None, "fr"))
      .toDF("doc_id", "text", "lang")
    df.write.format("graft-jsonl").option("id", "doc_id")
      .option("shards", "2").mode("append").save(out)
    val back = spark.read.schema("doc_id LONG, text STRING, lang STRING")
      .json(out).orderBy("doc_id").collect()
    assert(back.length === 2)
    assert(back(1).isNullAt(1) && back(1).getString(2) === "fr")
  }

  test("second append merges the manifest — old shards stay attested") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-jsink6").toString + "/c"
    val a = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val b = Seq((4L, "delta"), (5L, "epsilon")).toDF("doc_id", "text")
    a.write.format("graft-jsonl").option("id", "doc_id")
      .option("shards", "2").mode("append").save(out)
    b.write.format("graft-jsonl").option("id", "doc_id")
      .option("shards", "2").mode("append").save(out)
    // the merged manifest attests BOTH jobs' files: verify passes and
    // totals cover all five rows
    assert(graft.ingest.Export.verify(spark, out, "doc_id",
      format = "json").isEmpty)
    assert(graft.ingest.Export.readManifest(out).map(_.rows).sum === 5L)
    val back = spark.read.schema("doc_id LONG, text STRING").json(out)
    assert(back.count() === 5L)
    // mismatched shard count refuses rather than corrupting assignment
    val err = intercept[Exception] {
      b.write.format("graft-jsonl").option("id", "doc_id")
        .option("shards", "3").mode("append").save(out)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("n_shards")),
      err.toString)
  }

  test("mode overwrite truncates: old shards and manifest are replaced") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-jsink7").toString + "/c"
    Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("doc_id", "text")
      .write.format("graft-jsonl").option("id", "doc_id")
      .option("shards", "2").mode("append").save(out)
    Seq((10L, "new1"), (11L, "new2")).toDF("doc_id", "text")
      .write.format("graft-jsonl").option("id", "doc_id")
      .option("shards", "2").mode("overwrite").save(out)
    val back = spark.read.schema("doc_id LONG, text STRING").json(out)
    assert(back.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(10L, 11L))
    assert(graft.ingest.Export.readManifest(out).map(_.rows).sum === 2L)
    assert(graft.ingest.Export.verify(spark, out, "doc_id",
      format = "json").isEmpty)
  }

  test("non-ASCII text round-trips as UTF-8 regardless of platform charset") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-jsink8").toString + "/c"
    val text = "naïve café — ünïcødé 日本語 𝄞" // incl. a non-BMP code point
    Seq((1L, text)).toDF("doc_id", "text")
      .write.format("graft-jsonl").option("id", "doc_id")
      .option("shards", "1").mode("append").save(out)
    val back = spark.read.schema("doc_id LONG, text STRING").json(out)
      .collect()
    assert(back.head.getString(1) === text)
  }

  test("non-finite doubles are omitted like nulls, keeping valid JSON") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-jsink9").toString + "/c"
    Seq((1L, Double.NaN), (2L, Double.PositiveInfinity), (3L, 2.5))
      .toDF("doc_id", "score")
      .write.format("graft-jsonl").option("id", "doc_id")
      .option("shards", "1").mode("append").save(out)
    val back = spark.read.schema("doc_id LONG, score DOUBLE").json(out)
      .orderBy("doc_id").collect()
    // a NaN literal would make the whole line unparseable (null row
    // under the permissive reader) — instead the field is absent
    assert(back.length === 3)
    assert(back(0).isNullAt(1) && back(1).isNullAt(1))
    assert(back(2).getDouble(1) === 2.5)
  }
}
