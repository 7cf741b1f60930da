package graft.similarity

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index: build once, probe many — the missing half of
  * ANN at scale (rebuilding the index per query, as the inline
  * [[Similarity.ivfTopK]] demo does, re-pays the full assignment scan
  * every time).
  *
  * Layout mirrors [[graft.ingest.Snapshot]] (timestamped dirs + LATEST
  * pointer, object-store safe):
  *
  * {{{
  * <base>/ivf/<ts>/centroids/   c rows: (centroid_id, cvec)
  * <base>/ivf/<ts>/assigned/    corpus partitioned BY centroid_id
  * <base>/ivf/LATEST
  * }}}
  *
  * `assigned` is directory-partitioned on `centroid_id`, so probing
  * nprobe cells is PARTITION PRUNING: the query reads nprobe/c of the
  * corpus files and Spark never even lists the rest. That turns query
  * cost from O(corpus) to O(corpus × nprobe/c) at the storage layer —
  * the property that makes 100 TB of embeddings probe-able
  * interactively. Retention/pruning reuse the snapshot machinery.
  */
object IvfIndex {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS")
    .withZone(ZoneOffset.UTC)

  /** Train centroids, assign the corpus, persist both; returns the
    * index name. One distributed assignment pass (see
    * [[Similarity.ivfCentroids]] for the bounded-sample training). */
  def build(base: String, corpus: DataFrame, vecCol: String, idCol: String,
      c: Int, iters: Int = 5, trainPct: Int = 100): String = {
    val cents = Similarity.ivfCentroids(corpus, vecCol, idCol, c,
      iters = iters, trainPct = trainPct)
    val assigned = Similarity.ivfAssign(corpus, vecCol, idCol, cents)
    val name = newName(base)
    val dir = s"$base/ivf/$name"
    cents.coalesce(1).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$dir/centroids")
    assigned.write.mode(SaveMode.ErrorIfExists)
      .partitionBy("centroid_id").parquet(s"$dir/assigned")
    flipLatest(base, name)
    name
  }

  /** Incremental index maintenance — append a document delta WITHOUT
    * retraining or rewriting the corpus (the Lucene-segment design):
    * the delta is assigned with the EXISTING centroids (quantizer
    * frozen — the standard IVF maintenance contract; retrain is a new
    * `build`), written as a new timestamped segment holding ONLY the
    * delta, chained to its parent via a PARENT pointer. Readers union
    * the segment chain; probing still prunes `centroid_id` partitions
    * in every segment. Cost: one assignment pass over the DELTA only.
    * Call [[compact]] when the chain grows long. */
  def append(base: String, delta: DataFrame, vecCol: String,
      idCol: String): String = {
    val parent = resolve(base, None)
    val cents = centroids(base = base, spark = delta.sparkSession)
    val assignedDelta = Similarity.ivfAssign(delta, vecCol, idCol, cents)
    val name = newName(base)
    val dir = s"$base/ivf/$name"
    cents.coalesce(1).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$dir/centroids")
    assignedDelta.write.mode(SaveMode.ErrorIfExists)
      .partitionBy("centroid_id").parquet(s"$dir/assigned")
    Files.write(Paths.get(dir, "PARENT"), parent.getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW)
    flipLatest(base, name)
    name
  }

  /** Merge a segment chain into one self-contained index dir (one
    * corpus rewrite — amortize over many appends) and point LATEST at
    * it. The old segments stay until [[prune]] retires them. */
  def compact(spark: SparkSession, base: String): String = {
    val cents = centroids(spark, base)
    val all = assigned(spark, base)
    val name = newName(base)
    val dir = s"$base/ivf/$name"
    cents.coalesce(1).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$dir/centroids")
    all.write.mode(SaveMode.ErrorIfExists)
      .partitionBy("centroid_id").parquet(s"$dir/assigned")
    flipLatest(base, name)
    name
  }

  /** The segment chain for `name` (itself first, then ancestors). */
  private def chain(base: String, name: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer(name)
    var cur = name
    var p = Paths.get(base, "ivf", cur, "PARENT")
    while (Files.exists(p)) {
      cur = new String(Files.readAllBytes(p), "UTF-8").trim
      out += cur
      p = Paths.get(base, "ivf", cur, "PARENT")
    }
    out.toSeq
  }

  def latestName(base: String): Option[String] =
    graft.ingest.Snapshot.readPointer(Paths.get(base, "ivf", "LATEST"))

  /** Point LATEST at `name` atomically (temp file + rename): a crash
    * or a concurrent reader never sees an empty pointer. */
  private[similarity] def flipLatest(base: String, name: String): Unit =
    graft.ingest.Snapshot.writePointer(Paths.get(base, "ivf", "LATEST"), name)

  def centroids(spark: SparkSession, base: String,
      name: Option[String] = None): DataFrame =
    spark.read.parquet(s"$base/ivf/${resolve(base, name)}/centroids")

  /** The corpus view of an index = the union of its segment chain
    * (one dir for a built/compacted index). `centroid_id` stays a
    * partition column in every segment, so probe-time isin filters
    * prune directories in each before any file I/O. */
  def assigned(spark: SparkSession, base: String,
      name: Option[String] = None): DataFrame =
    chain(base, resolve(base, name))
      .map(n => spark.read.parquet(s"$base/ivf/$n/assigned")
        // partition-dir values read back as int; pin the write-side type
        .withColumn("centroid_id", col("centroid_id").cast("long")))
      .reduce(_ unionByName _)

  /** ANN top-k through the persisted index: rank the (tiny) centroid
    * table for the query, then scan ONLY the nprobe matching
    * partitions of `assigned` — `centroid_id` is a partition column,
    * so the isin filter prunes directories before any file I/O. */
  def topK(spark: SparkSession, base: String, query: DataFrame,
      vecCol: String, idCol: String, k: Int, nprobe: Int = 4,
      name: Option[String] = None): DataFrame = {
    val cells = Similarity.ivfAssignQuery(query, centroids(spark, base, name),
      nprobe).collect().toIndexedSeq.map(_.getLong(0))
    val cand = assigned(spark, base, name)
      .where(col("centroid_id").isin(cells: _*))
    Similarity.topK(cand, vecCol, idCol, query, k)
  }

  /** Timestamped index candidates, newest first / retention. */
  def candidates(base: String): Seq[String] =
    graft.ingest.Retention.candidates(s"$base/ivf")
  /** Retention must never sever the LATEST chain: every ancestor
    * segment of the latest index is protected, not just LATEST
    * itself. */
  def prune(base: String, keep: Int): Seq[String] =
    graft.ingest.Retention.pruneAll(s"$base/ivf", keep,
      latestName(base).toSeq.flatMap(chain(base, _)).toSet)

  /** Millis-resolution names can collide under rapid build/append —
    * spin until the timestamp ticks past any existing dir. */
  private def newName(base: String): String = {
    var n = tsFmt.format(Instant.now())
    while (Files.exists(Paths.get(base, "ivf", n))) {
      Thread.sleep(1)
      n = tsFmt.format(Instant.now())
    }
    n
  }

  private def resolve(base: String, name: Option[String]): String =
    name.orElse(latestName(base)).getOrElse(
      throw new IllegalStateException(s"no IVF index under $base"))
}
