package graft.dedup

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Versioned

/** Persisted LSH dedup index: build once, admit many (reference
  * corpus-admission contract: `cloudengio/dudb` keeps its analysis
  * artifacts persistent and incremental, `internal/database` +
  * `analyze.go:226-243`; the
  * inline [[Dedup.minhashNearDupsMd5]] tier re-pays the full
  * signature+banding scan of the WHOLE corpus on every run, which at
  * 100 TB makes continuous ingest impossible).
  *
  * `lsh/` and `lsh/LATEST` are a [[Versioned]] store, its segments
  * chained by PARENT files:
  *
  * {{{
  * <base>/lsh/<ts>/postings/   (doc, bkeys, bucket) partitioned BY band
  * <base>/lsh/<ts>/shingles/   (doc, ws) — the exact-Jaccard verify leg
  * <base>/lsh/<ts>/PARAMS      family/k/bands/n — frozen at build
  * <base>/lsh/LATEST
  * }}}
  *
  * Admission of a new drop is then:
  *   1. band-key the DROP only (one kernel pass over the delta);
  *   2. equi-join its (band, bucket) postings against the persisted
  *      postings — the drop side is tiny, so AQE broadcasts it and the
  *      index is read ONCE map-side, never shuffled;
  *   3. first-agreeing-band arithmetic on the joined row (both sides
  *      carry their `bkeys` array — no distinct over candidates);
  *   4. exact-Jaccard verify in integer basis points against the
  *      PERSISTED shingle sets (no recompute of index text).
  * Cost: O(|drop|) kernel work + one postings scan + verify bounded by
  * bucket collisions — the whole index corpus is never re-hashed.
  *
  * [[append]] extends the index with an already-admitted drop WITHOUT
  * rewriting existing postings (the Lucene-segment design): a new
  * timestamped segment holds only the delta's postings/shingles,
  * chained via PARENT; readers union the chain.
  * Hash params are frozen at build time (stored in PARAMS), so every
  * segment's band keys live in one key space.
  */
object DedupIndex {

  /** Frozen hash-family parameters. `family` is `"md5"` (the
    * oracle-replayable 52-bit md5 family of minhashNearDupsMd5) or
    * `"xx"` (the production xxhash64 kernel family of
    * minhashNearDups). `corpusFp` optionally freezes a 64-bit
    * fingerprint of the corpus the index was built from (see
    * [[fileFp]]); [[admit]] callers that know their corpus's
    * fingerprint pass it to fail fast on a stale index instead of
    * silently probing postings built from different data. */
  final case class Params(family: String, k: Int, bands: Int, n: Int,
      corpusFp: String = "") {
    require(family == "md5" || family == "xx", s"unknown family $family")
    require(k % bands == 0, s"bands $bands must divide k $k")
  }

  /** 64-bit fingerprint of (path, length, mtime) — the index-dir key
    * and PARAMS stamp for corpus-file-keyed indexes. xxhash64 of the
    * rendered triple (Spark's own XXH64, seed 42 like the `xxhash64`
    * SQL function): the former 32-bit `Objects.hash` made a
    * regenerated-testdata collision plausible enough that a stale
    * index could silently serve a probe. */
  def fileFp(f: java.io.File): String = {
    val bytes = s"${f.getPath}|${f.length()}|${f.lastModified()}"
      .getBytes("UTF-8")
    java.lang.Long.toHexString(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L))
  }

  private def store(base: String) = Versioned(s"$base/lsh", s"$base/lsh/LATEST")

  /** The per-doc band-key array for `p` — the SAME chains the inline
    * tiers declare ([[Dedup.minhashNearDupsMd5]] /
    * [[Dedup.lshCandidatePairs]]), so index probes are bit-compatible
    * with the inline pipelines. */
  def bandKeys(df: DataFrame, textCol: String, idCol: String,
      p: Params): DataFrame = {
    val spark = df.sparkSession
    if (p.family == "md5")
      df.select(col(idCol).as("doc"),
        graft.functions.ShingleExprs.md5MinhashBands(spark, col(textCol),
          p.k, p.bands, p.n).as("bkeys"))
    else {
      val r = p.k / p.bands
      df.select(col(idCol).as("doc"),
          graft.functions.ShingleExprs.minhashSig(spark, col(textCol),
            p.k, p.n).as("sig"))
        .select(col("doc"), transform(
          sequence(lit(0), lit(p.bands - 1)),
          bnd => xxhash64(concat_ws("_", bnd, concat_ws(",",
            slice(col("sig"), bnd * lit(r) + 1, lit(r))
              .cast("array<string>"))))).as("bkeys"))
    }
  }

  private def shinglesOf(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      graft.functions.ShingleExprs.wordShingles(df.sparkSession,
        col(textCol), n).as("ws"))

  /** The exploded posting frame a segment persists: one row per
    * (doc, band) carrying the full bkeys array (8·bands bytes — the
    * first-agreeing-band filter reads it off the joined row). */
  private def postingsOf(keys: DataFrame, bands: Int): DataFrame =
    keys.select(col("doc"), col("bkeys"),
        posexplode_outer(col("bkeys")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Band-key the corpus, persist postings (partitioned by band) +
    * shingle sets + frozen params; returns the segment name. */
  def build(base: String, df: DataFrame, textCol: String, idCol: String,
      p: Params = Params("md5", 16, 4, 3)): String = {
    val name = store(base).create()
    val dir = s"$base/lsh/$name"
    postingsOf(bandKeys(df, textCol, idCol, p), p.bands)
      .write.mode(SaveMode.ErrorIfExists).partitionBy("band")
      .parquet(s"$dir/postings")
    shinglesOf(df, textCol, idCol, p.n)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/shingles")
    Files.write(Paths.get(dir, "PARAMS"),
      paramLines(p).getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
    store(base).flip(name)
    name
  }

  /** Extend the index with a delta WITHOUT rewriting existing
    * postings: one kernel pass over the delta into a new segment,
    * chained to its parent. Params are inherited (frozen key space —
    * rehashing is a new [[build]]). */
  def append(base: String, delta: DataFrame, textCol: String,
      idCol: String): String = {
    val parent = store(base).resolve(None)
    val p = params(base, Some(parent))
    val name = store(base).create(parent = Some(parent))
    val dir = s"$base/lsh/$name"
    postingsOf(bandKeys(delta, textCol, idCol, p), p.bands)
      .write.mode(SaveMode.ErrorIfExists).partitionBy("band")
      .parquet(s"$dir/postings")
    shinglesOf(delta, textCol, idCol, p.n)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/shingles")
    Files.write(Paths.get(dir, "PARAMS"),
      paramLines(p).getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
    store(base).flip(name)
    name
  }

  /** The posting view of an index = the union of its segment chain.
    * `band` is a partition DIRECTORY column — it reads back as int
    * whatever was written; pinned to int
    * to match the probe side's posexplode position type. */
  def postings(spark: SparkSession, base: String,
      name: Option[String] = None): DataFrame =
    store(base).chain(store(base).resolve(name))
      .map(n => spark.read.parquet(s"$base/lsh/$n/postings")
        .withColumn("band", col("band").cast("int")))
      .reduce(_ unionByName _)

  def shingles(spark: SparkSession, base: String,
      name: Option[String] = None): DataFrame =
    store(base).chain(store(base).resolve(name))
      .map(n => spark.read.parquet(s"$base/lsh/$n/shingles"))
      .reduce(_ unionByName _)

  /** Rendered PARAMS body; `corpus_fp` only when stamped (older
    * segments without it parse back to the `""` default). */
  private def paramLines(p: Params): String =
    s"family=${p.family}\nk=${p.k}\nbands=${p.bands}\nn=${p.n}\n" +
      (if (p.corpusFp.nonEmpty) s"corpus_fp=${p.corpusFp}\n" else "")

  def params(base: String, name: Option[String] = None): Params = {
    val lines = new String(Files.readAllBytes(
      Paths.get(base, "lsh", store(base).resolve(name), "PARAMS")), "UTF-8")
      .split("\n").map(_.trim).filter(_.contains("="))
      .map { l => val Array(a, b) = l.split("=", 2); a -> b }.toMap
    Params(lines("family"), lines("k").toInt, lines("bands").toInt,
      lines("n").toInt, lines.getOrElse("corpus_fp", ""))
  }

  /** Near-dup pairs between the index and a new drop: the persisted
    * probe — band-keys the DROP only, joins its postings against the
    * index on (band, bucket), keeps each pair once via the
    * first-agreeing-band arithmetic, verifies exact Jaccard in basis
    * points against the persisted shingle sets.
    *
    * @return (doc_idx, doc_new, j_bp), j_bp >= thresholdBp. */
  def admit(base: String, drop: DataFrame, textCol: String,
      idCol: String, thresholdBp: Long = 3000L,
      name: Option[String] = None,
      corpusFp: Option[String] = None): DataFrame = {
    val spark = drop.sparkSession
    val p = params(base, name)
    // stale-index guard: a caller that knows its corpus fingerprint
    // must never probe postings built from different data
    corpusFp.foreach(fp => require(p.corpusFp == fp,
      s"stale index at $base: PARAMS corpus_fp='${p.corpusFp}' does " +
        s"not match the probed corpus '$fp' — rebuild the index"))
    val dropKeys = bandKeys(drop, textCol, idCol, p)
      .localCheckpoint(true) // read by the banded probe AND the verify
    val dropBanded = postingsOf(dropKeys, p.bands)
      .select(col("doc").as("doc_new"), col("bkeys").as("bkeys_n"),
        col("band"), col("bucket"))
    val idx = postings(spark, base, name)
      .select(col("doc").as("doc_idx"), col("bkeys").as("bkeys_i"),
        col("band"), col("bucket"))
    val priorBands = filter(sequence(lit(0), lit(p.bands - 1)),
      b => b < col("band"))
    val cand = idx.join(dropBanded, Seq("band", "bucket"))
      .where(!exists(priorBands, b =>
        element_at(col("bkeys_i"), (b + 1).cast("int")) ===
          element_at(col("bkeys_n"), (b + 1).cast("int"))))
      .select(col("doc_idx"), col("doc_new"))
    val dropSh = shinglesOf(drop, textCol, idCol, p.n)
    cand
      .join(shingles(spark, base, name)
        .select(col("doc").as("doc_idx"), col("ws").as("ws_i")),
        Seq("doc_idx"))
      .join(dropSh.select(col("doc").as("doc_new"), col("ws").as("ws_n")),
        Seq("doc_new"))
      .withColumn("inter",
        size(array_intersect(col("ws_i"), col("ws_n"))).cast("long"))
      .withColumn("j_bp", expr(
        "inter * 10000 div (size(ws_i) + size(ws_n) - inter)"))
      .where(col("j_bp") >= thresholdBp)
      .select(col("doc_idx"), col("doc_new"), col("j_bp"))
  }

  def latestName(base: String): Option[String] = store(base).latest
}
