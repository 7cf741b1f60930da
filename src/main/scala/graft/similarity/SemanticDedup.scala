package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) deduplication — the SemDeDup recipe:
  * cluster the corpus with the IVF quantizer, compare vectors ONLY
  * within their cluster, resolve high-cosine pairs to groups, keep one
  * representative per group.
  *
  * The shuffle story is what makes this the scale path: the exact
  * near-dup baseline ([[Similarity.cosineNearDups]]) is an O(n²)
  * cross join; here the pair join is an equi-join on `centroid_id`,
  * so candidate count is Σ_cells |cell|² — with c balanced cells
  * that is n²/c, and c grows with the corpus (the faiss sizing rule
  * c ≈ √n makes the whole thing n^1.5 instead of n²). Recall is
  * bounded by the quantizer: a pair split across two cells is missed —
  * the known SemDeDup tradeoff, measured in the spec.
  *
  * Skew guard: one giant cell would reintroduce the quadratic blowup;
  * cluster sizes come from the same k-means that balances IVF probe
  * cost, and a production run bounds cell size by raising c (or
  * re-clustering oversized cells) rather than salting — pair
  * generation inside a cell is irreducibly |cell|².
  */
object SemanticDedup {

  /** Within-cluster pairs with cosine ≥ threshold:
    * (id_a, id_b, cos). */
  def clusterPairs(corpus: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    // Cast float→double once per row, BEFORE the pair join (inside it
    // the cast would run once per pair).
    val assigned = Similarity.ivfAssign(corpus, vecCol, idCol, centroids)
      .select(col("centroid_id"), col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
    val a = assigned.select(col("centroid_id"), col("id").as("id_a"),
      col("v").as("va"))
    val b = assigned.select(col("centroid_id"), col("id").as("id_b"),
      col("v").as("vb"))
    a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", round(graft.functions.CosineSimExpr.cosineSim(
        spark, col("va"), col("vb")), 4))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** [[clusterPairs]] on the ORACLE-EXACT grid quantizer
    * ([[GridKmeans]]) with UNROUNDED cosine: `round(cos, 4)` sits in
    * the shortest-decimal divergence class, while the raw sequential
    * cosine kernel is bit-identical to DuckDB's
    * `list_cosine_similarity` over DOUBLE[] — so the whole SemDeDup
    * recipe (cluster → within-cell pairs → threshold) replays
    * hash-exact. Same n²/c scale shape as the float path. */
  def clusterPairsGrid(corpus: DataFrame, vecCol: String, idCol: String,
      cents: Array[Array[Long]], threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    val assigned = GridKmeans.assign(corpus, vecCol, idCol, cents)
      .select(col("centroid_id"), col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
    val a = assigned.select(col("centroid_id"), col("id").as("id_a"),
      col("v").as("va"))
    val b = assigned.select(col("centroid_id"), col("id").as("id_b"),
      col("v").as("vb"))
    a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .where(graft.functions.CosineSimExpr.cosineSim(
        spark, col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Pairs → duplicate groups (connected components; component = min
    * member id = the representative a pipeline keeps). */
  def dupGroups(pairs: DataFrame): DataFrame =
    graft.ops.ConnectedComponents.components(
      pairs.withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b"), "doc_a", "doc_b")
}
