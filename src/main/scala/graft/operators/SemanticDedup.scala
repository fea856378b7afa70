package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication over an embedding column
  * (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus with a
  * coarse quantizer, then deduplicate ONLY within clusters — a pair of
  * documents is a semantic duplicate when their embedding cosine
  * exceeds `tau`, and of each duplicate set the member farthest from
  * the cluster centroid survives (the paper's keep-the-extreme rule,
  * made deterministic here by (centroid-distance DESC, id ASC)
  * priority: a document is dropped iff some higher-priority cluster
  * member is more similar than `tau`).
  *
  * This is the scale path that [[Dedup.embeddingNearDups]]' full
  * pairwise O(n²) baseline cannot be: centroid assignment is per-row
  * expression work against broadcast centroid literals (the same
  * argmin kernel as IVF ANN), the pairwise stage shuffles ONCE on
  * cluster id, and the quadratic work is bounded by cluster size —
  * at 100 TB, `nClusters` grows with the corpus so |cluster| stays
  * roughly constant (the paper runs 50k clusters over 5B embeddings),
  * and a hot cluster can be capped exactly like an LSH band bucket.
  *
  * Reference anchor: the reference's only dedup is exact-key
  * (`table-loader/services/load_strategies.py:218` row-diff by key);
  * semantic dedup is part of this engine's training-data extension
  * (SURVEY.md §2.13).
  */
object SemanticDedup {

  /** Cluster + rank + near-duplicate verdict per row.
    *
    * Output: (id, cluster_id, centroid_rank, max_prior_sim, kept) —
    * `centroid_rank` is the within-cluster priority (1 = farthest from
    * the centroid), `max_prior_sim` the highest cosine to any
    * higher-priority cluster member (sentinel -2.0 when the row is the
    * cluster's top priority: cosine lives in [-1, 1], so -2 is outside
    * the codomain), and `kept` the survival verdict.
    *
    * `centroidIds` designates data rows as medoid-style centroids
    * (ascending id order = list index), keeping the whole derivation
    * deterministic and SQL-reproducible — swap in KMeans centers from
    * a bounded-sample fit for production (same plan shape; the
    * assignment kernel takes any literals).
    */
  /** `maxCluster` bounds the quadratic core on adversarial corpora
    * (every embedding identical → one cluster → |corpus|² pairs):
    * only the `maxCluster` highest-priority members act as the
    * comparison set, so pairs ≤ |cluster|·maxCluster. Every row still
    * gets a verdict — overflow rows are judged against the capped
    * priority set, exactly like [[Dedup]]'s band-bucket `maxBucket`.
    * Default = no cap (exact semantics, what the oracle gates). */
  def semanticDedup(
      table: DataFrame, centroidIds: Seq[Long], tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCluster: Int = Int.MaxValue): DataFrame = {
    val cents = table.filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).cast("long"), col(vecCol)).collect() // nClusters tiny rows
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq

    // per-row assignment: codegen'd argmin + min-distance kernels
    // against a task-shipped centroid array (addReferenceObj, not
    // nClusters×dim literal plan nodes — the literal form capped
    // assignment at a few hundred clusters; the kernel form carries
    // the paper's 50k-cluster posture). The distance to the OWN
    // centroid (= min distance) orders the within-cluster priority;
    // minCentroidDist is bit-identical to the HOF formulation the
    // oracle replays (index-order accumulation, min over centroids).
    val assigned = table.select(
      col(idCol).as("_id"), col(vecCol).as("_v"),
      graft.functions.VectorKernels.nearestCentroidCol(col(vecCol), cents)
        .as("cluster_id"),
      graft.functions.VectorKernels.minCentroidDistCol(col(vecCol), cents)
        .as("_cd"))

    val rk = assigned.withColumn("centroid_rank",
      row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("_cd").desc, col("_id"))))

    // within-cluster pairs, higher-priority side a vs candidate b:
    // one shuffle on cluster_id; |pairs| ≤ Σ |cluster|² is the bounded
    // quadratic core
    val a = rk.filter(col("centroid_rank") <= maxCluster)
      .select(col("cluster_id"), col("centroid_rank").as("_ra"),
        col("_v").as("_va"))
    val b = rk.select(col("cluster_id"), col("centroid_rank").as("_rb"),
      col("_id").as("_ib"), col("_v").as("_vb"))
    val prior = a.join(b, "cluster_id")
      .filter(col("_ra") < col("_rb"))
      .groupBy(col("_ib"))
      .agg(max(SimilaritySearch.cosine(col("_va"), col("_vb")))
        .as("max_prior_sim"))

    rk.join(prior, rk("_id") === prior("_ib"), "left")
      .select(
        col("_id").as(idCol),
        col("cluster_id"),
        col("centroid_rank"),
        coalesce(col("max_prior_sim"), lit(-2.0)).as("max_prior_sim"),
        (coalesce(col("max_prior_sim"), lit(-2.0)) < tau).as("kept"))
  }

  /** Survivors only — the corpus after semantic dedup. */
  def survivors(
      table: DataFrame, centroidIds: Seq[Long], tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val verdict = semanticDedup(table, centroidIds, tau, idCol, vecCol)
      .filter(col("kept")).select(col(idCol))
    table.join(verdict, Seq(idCol), "left_semi")
  }
}
