package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every table is a single parquet file under `sfDir`. At 100 TB these
  * would be directory-partitioned datasets; `spark.read.parquet` handles
  * both shapes identically, and all downstream code only assumes a
  * DataFrame with the documented schema.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** The events parquet has shipped in two physical encodings of `ts`:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read
    * nanos as LONG and truncate to µs, same truncation DuckDB applies)
    * and plain timestamp[us] (TIMESTAMP_NTZ). Branch on the actual file
    * schema so both shapes yield the same µs TimestampType column under
    * the UTC session every entry point sets.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsRange(spark, sfDir, None, None)

  /** Events with an optional time-range applied to the RAW stored
    * column BEFORE any conversion: a predicate on a derived timestamp
    * cannot reach the parquet scan, but on the stored int64-nanos (or
    * native µs timestamp) it pushes down and prunes row groups via
    * min/max stats — at 100 TB of events this is the difference
    * between scanning a day and scanning the archive.
    */
  def eventsRange(spark: SparkSession, sfDir: String,
      fromUtc: Option[String], untilUtc: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def ldt(s: String): java.time.LocalDateTime =
      java.time.LocalDateTime.parse(s.replace(" ", "T"))
    var df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw int64 nanos
        def nanosOf(s: String): Long =
          ldt(s).toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
        fromUtc.foreach(t => df = df.where(col("ts") >= nanosOf(t)))
        untilUtc.foreach(t => df = df.where(col("ts") < nanosOf(t)))
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // timestamp[us]: NTZ (or LTZ) — native timestamp predicates push down
        fromUtc.foreach(t => df = df.where(col("ts") >= lit(ldt(t))))
        untilUtc.foreach(t => df = df.where(col("ts") < lit(ldt(t))))
        // NTZ→LTZ cast interprets wall time in the session tz (UTC
        // everywhere here), matching the nanos path's epoch µs exactly.
        df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** The documents/embeddings parquet are single splits (one row
    * group), so a per-row CPU-heavy stage reading them directly runs
    * in ONE task. Repartition to the cluster's parallelism first; on
    * real multi-file data the scan is already split and this round
    * robin is a cheap rebalance. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
