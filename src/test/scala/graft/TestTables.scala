package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers the specs read the program's exports back through. */
object TestTables {

  /** Documents from a JSONL directory (the corpus interchange format
    * Export and the graft-jsonl sink write). Schema is PINNED, never
    * inferred: inference is a full extra pass and can silently retype
    * columns; corrupt lines surface as nulls in PERMISSIVE mode. */
  def documentsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(path)
      .select("doc_id", "text", "lang", "source", "n_chars")
}
