package graft.stats

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ingest.{Snapshot, Versioned}

/** Persisted stats artifact (reference `.idustats` gob files +
  * `latest` symlink, stats.go:31-82): each `stats compute` writes a
  * timestamped directory holding ONE parquet table — [[Stats.Computed]]'s
  * grouping-sets table, [[Stats.TableSchema]], in one write job — plus
  * a metadata JSON, and flips LATEST; `stats/` and `stats/LATEST` are
  * a [[Versioned]] store. `stats view` / `reports` read the artifact
  * without recomputing — same compute-once/view-many contract as the
  * reference.
  *
  * {{{
  * <base>/stats/<ts>/table/      the grouping-sets table
  * <base>/stats/<ts>/meta.json   prefix, expression, date
  * <base>/stats/LATEST           text file: name of newest artifact
  * }}}
  *
  * Artifacts written before the one-table layout hold one table per
  * frame (`totals/`, `per_user/`, …); [[read]] still reads them,
  * tagging each frame into the same one-table shape.
  */
object StatsArtifact {

  private def store(base: String) = Versioned(s"$base/stats", s"$base/stats/LATEST")

  def write(base: String, computed: Stats.Computed, prefix: String,
      expression: String): String = {
    val name = store(base).create()
    val dir = s"$base/stats/$name"
    computed.table
      .select(Stats.TableSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/table")
    def j(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Files.writeString(Paths.get(dir, "meta.json"),
      s"""{"prefix": ${j(prefix)}, "expression": ${j(expression)}, "date": ${j(name)}}""")
    store(base).flip(name)
    name
  }

  def latestName(base: String): Option[String] = store(base).latest

  /** All artifacts, newest first. */
  def candidates(base: String): Seq[String] = store(base).candidates

  /** Keep the newest `keep` artifacts (LATEST target survives);
    * returns deleted names. */
  def prune(base: String, keep: Int): Seq[String] = store(base).prune(keep)

  /** The frame tables of the pre-one-table layout, in
    * [[Stats.frameKeys]] order. The two per-(id, prefix) tables came
    * later than the rest; an artifact without them reads them empty. */
  private val legacyTables = Seq("totals", "per_user", "per_group", "per_prefix",
    "per_user_prefix", "per_group_prefix")

  /** The artifact's table under its pinned schema — no Spark job. */
  def read(spark: SparkSession, base: String,
      name: Option[String] = None): Stats.Computed = {
    val dir = s"$base/stats/${store(base).resolve(name)}"
    if (Files.exists(Paths.get(dir, "table")))
      Stats.Computed(Snapshot.readPinned(spark, s"$dir/table", Stats.TableSchema))
    else Stats.Computed(legacyTables.zip(Stats.frameKeys)
      .filter { case (t, _) => Files.exists(Paths.get(dir, t)) }
      .map { case (t, keys) =>
        val schema = StructType(keys.map(k => Stats.TableSchema(k)) ++
          Stats.metricNames.map(StructField(_, LongType)))
        Stats.tagged(Snapshot.readPinned(spark, s"$dir/$t", schema), keys)
      }.reduce(_ unionByName _))
  }
}
