package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.pq_argmin

/** Deterministic Lloyd's k-means over an embedding column, and the
  * curation operators built on it (cluster-stratified diversity
  * sampling) — beyond-parity (SURVEY.md §7.3#7): semantic corpus
  * clustering is how a training pipeline balances topical coverage
  * and prices semantic dedup.
  *
  * One kernel: training is [[Similarity.pqTrain]] with a single
  * subspace, and every cluster id comes from the
  * [[graft.functions.VectorExpressions.PqArgmin]] kernel.
  *
  * Scale shape (the whole point of this form):
  *  - Assignment is a PROJECTION: the k centroids go into the
  *    `pq_argmin` kernel as one reference object (k·dim doubles —
  *    broadcast by construction), and each row finds its argmin cost
  *    inside whole-stage codegen. Distances to a chosen centroid are
  *    one dot product against `element_at` of a single literal
  *    centroid array. Nothing in the generated code grows with k, so
  *    large k never trips janino's 64 KB method limit. No join, no
  *    shuffle.
  *  - The update step is ONE aggregation to k rows (map-side combined
  *    per-dimension sums), collected to the driver: bounded at
  *    k·dim doubles per iteration regardless of corpus size.
  *  - Driver state: k·dim doubles. At 100 TB you train centroids on a
  *    sample (same code over `df.sample`) and run the final
  *    assignment pass over the full corpus; both passes stay
  *    projection-only.
  *
  * Determinism: init = the k smallest-id vectors (no RNG), argmin
  * tie-break by centroid id, empty clusters keep their previous
  * centroid. Every output column is integral, so the result is
  * oracle-comparable even though centroid doubles carry
  * engine-specific summation order in their last ulps.
  *
  * Null and non-finite vectors: a null vector, or one with a NaN or
  * ±Inf element, has no finite cost to any centroid and gets a null
  * cluster. [[assign]] and [[kmeans]] emit it with `cluster = null`;
  * training neither initializes from it nor averages it into a
  * centroid; [[silhouette]], [[diversitySample]] and
  * [[semanticNearDupPairs]] leave it out.
  */
object Clustering {

  /** Cluster id of `vecCol` against `cents` (cost_j = |c_j|² −
    * 2·v·c_j, lowest id on ties, null for null/non-finite vectors);
    * `runnerUp` gives the second-nearest id instead. */
  private def clusterId(vecCol: String, cents: Array[Array[Double]],
      runnerUp: Boolean = false): Column =
    pq_argmin(col(vecCol).cast("array<double>"), cents, runnerUp)

  /** cost_j = |c_j|² − 2·v·c_j for the centroid whose id is the
    * column `cid`: squared distance minus the shared |v|² term, the
    * same arithmetic the kernel ranks by. One `element_at` into one
    * literal array per operand, so its generated size does not
    * depend on k. */
  private def costTo(vecCol: String, cents: Array[Array[Double]],
      cid: Column): Column = {
    val normSqs = cents.map(c => c.map(x => x * x).sum)
    element_at(typedLit(normSqs), cid + 1) -
      Similarity.dot(col(vecCol), element_at(typedLit(cents), cid + 1)) * 2.0
  }

  /** Run `maxIter` Lloyd iterations and return the final centroids:
    * [[Similarity.pqTrain]] with one subspace. Init: the `k`
    * smallest-`idCol` finite vectors (deterministic, no RNG — the
    * verification configuration; production would sample). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int): Array[Array[Double]] =
    Similarity.pqTrain(df, idCol, vecCol, m = 1, k = k, maxIter = maxIter)(0)

  /** Projection-only (id, cluster) assignment against precomputed
    * centroids. Stateless, so it runs identically on batch and
    * STREAMING frames — the train-offline / assign-online pattern an
    * ingestion pipeline uses to route documents by topic as they
    * arrive (no watermark, no state store, exactly-once trivially).
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    require(cents.nonEmpty, "assign requires at least one centroid")
    df.select(col(idCol), clusterId(vecCol, cents).as("cluster"))
  }

  /** (id, cluster) assignment after `maxIter` Lloyd iterations —
    * the final pass is projection-only over the scan. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, k, maxIter)
    assign(df, idCol, vecCol, cents)
  }

  /** Per-cluster mean silhouette — the standard "are these clusters
    * real" readout: s = (d_next − d_own) / max(d_own, d_next) per
    * point, where d_own is the distance to the assigned centroid and
    * d_next to the nearest OTHER centroid; ~1 = compact and
    * separated, ~0 = boundary mush, negative = misassigned. The
    * kernel gives both ids (nearest and runner-up) in the same
    * projection as [[kmeans]], then one aggregate to k rows — the
    * evaluation costs what an assignment pass costs. distSq clamps
    * at 0: the |v|²−2v·c+|c|² form can go epsilon-negative under
    * cancellation and sqrt(NaN) would poison the mean.
    *
    * Determinism note (the one float caveat this file carries):
    * avg(s) sums per-row doubles, so partition/merge order can move
    * the sum's low bits run-to-run — round(…, 6) could in principle
    * flap at an exact half-boundary against the kmeans2 oracle. The
    * per-row silhouettes can't be integerized (a ratio of square
    * roots), and sorting corpus-sized rows for a deterministic fold
    * is not a bounded operation — unlike entropy's count-of-counts —
    * so the risk is accepted and documented rather than hidden; if
    * kmeans2 ever flaps, the rows-only fallback is the documented
    * remedy. */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2: $k")
    val cents = kmeansCentroids(df, idCol, vecCol, k, maxIter)
    val own = clusterId(vecCol, cents)
    val vv = Similarity.dot(col(vecCol), col(vecCol))
    def dist(cid: Column): Column =
      sqrt(greatest(vv + costTo(vecCol, cents, cid), lit(0.0)))
    val dOwn = dist(own)
    val dNext = dist(clusterId(vecCol, cents, runnerUp = true))
    val sil = when(greatest(dOwn, dNext) > 0.0,
      (dNext - dOwn) / greatest(dOwn, dNext)).otherwise(lit(0.0))
    df.select(own.as("cluster"), sil.as("__s"))
      .filter(col("cluster").isNotNull)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("__s")), 6).as("mean_silhouette"))
  }

  /** SemDeDup-style semantic near-dup pairs: k-means clusters as the
    * BLOCKING stage, exact cosine only within clusters (Abbas et al.
    * 2023, "SemDeDup" — public paper). Cost falls from |corpus|² to
    * Σ|cluster|²; pairs straddling a cluster boundary are missed by
    * construction — the standard recall trade of clustered blocking,
    * priced against the exact-pair yardstick in the spec.
    *
    * Scale shape: assignment is the same projection-only pass as
    * [[kmeans]]; the pair stage shuffles once on the cluster id and
    * never cross-joins the corpus. A skewed giant cluster re-creates
    * the quadratic locally — raise k (or cluster hierarchically) so
    * max|cluster| stays bounded; the spec pins the within-cluster
    * join shape.
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int, threshold: Double): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, k, maxIter)
    // checkpoint: the k-dot-product assignment feeds BOTH sides of
    // the self-join and would otherwise run twice per row
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      clusterId(vecCol, cents).as("cluster"),
      Similarity.l2norm(col(vecCol)).as("n"))
      .localCheckpoint()
    val a = base.select(col("cluster"), col("id").as("id_a"),
      col("v").as("v_a"), col("n").as("n_a"))
    val b = base.select(col("cluster"), col("id").as("id_b"),
      col("v").as("v_b"), col("n").as("n_b"))
    Similarity.scoreJoinedPairs(a.join(b, "cluster"), threshold)
      .select(col("id_a"), col("id_b"), col("cluster"), col("cosine"))
  }

  /** Cluster-stratified diversity sample: the `perCluster` most
    * central members of each k-means cluster (rank by distance to the
    * final centroid, ties by id) — the "cover every topic, take the
    * most representative docs" curation primitive. The rank window
    * partitions by cluster (k partitions; for huge k·perCluster use
    * the same pre-agg truncation shape as seq3).
    */
  def diversitySample(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int, perCluster: Int): DataFrame = {
    require(perCluster > 0, s"perCluster=$perCluster")
    val cents = kmeansCentroids(df, idCol, vecCol, k, maxIter)
    val own = clusterId(vecCol, cents)
    // squared distance to the assigned centroid: |v|² + cost_own
    val assigned = df.select(col(idCol), own.as("cluster"),
      (Similarity.dot(col(vecCol), col(vecCol)) + costTo(vecCol, cents, own))
        .as("__d2"))
      .filter(col("cluster").isNotNull)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__d2").asc, col(idCol).asc)
    assigned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCluster)
      .select(col("cluster"), col(idCol), col("rank"))
  }

  /** Cluster purity against external labels — the supervised
    * companion of [[silhouette]]'s geometric score: per cluster, the
    * fraction of members carrying the cluster's majority label
    * (purity = majority_n / n; corpus purity is the n-weighted mean
    * of these rows). `assignments` is any (idCol, cluster) frame —
    * [[kmeans]]'s output — and `labels` any (idCol, labelCol) frame.
    *
    * Scale shape: one id-keyed join, then two count aggregates —
    * (cluster, label) cells, then per-cluster max — both map-side
    * combined over cell cardinality, no window. The majority COUNT
    * needs no tie-break (ties share the max). */
  def clusterPurity(assignments: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val cell = assignments
      .join(labels.select(col(idCol),
        col(labelCol).cast("string").as("__lbl")), idCol)
      .groupBy("cluster", "__lbl").agg(count(lit(1)).as("__n"))
    cell.groupBy("cluster")
      .agg(sum("__n").as("n"), max("__n").as("majority_n"))
      .select(col("cluster"), col("n"), col("majority_n"),
        round(col("majority_n").cast("double") / col("n").cast("double"), 6)
          .as("purity"))
  }
}
