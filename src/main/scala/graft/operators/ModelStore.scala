package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted trained-model artifacts — the production
  * train-once / persist / score-later lifecycle for the pipeline's
  * learned components (the qf9 quality classifier), generalizing the
  * signature-store generation guard ([[Dedup.requireSigAlgo]]) and
  * the IVF-PQ index-store pattern ([[Similarity.pqIndexStore]]) to
  * model WEIGHTS. Beyond-parity: the reference replicates data and
  * trains nothing (SURVEY.md §2.9).
  *
  * Store layout: one parquet row per weight dimension, every row
  * carrying the full provenance header — algorithm tag, feature
  * spec, training config, training-data fingerprint. The provenance
  * is DATA (self-describing rows), not metastore state: the artifact
  * survives process restarts, ships with the files, and any engine
  * can audit it — exactly how the LSH signature stores travel.
  *
  * Generation guard: scoring with weights trained under a different
  * feature extractor, config, or corpus silently misclassifies
  * everything (the same hazard [[Dedup.requireSigAlgo]] closes for
  * signature stores — a probe against a store built by other hash
  * functions "works" and returns garbage). [[load]] verifies
  * algorithm tag, feature spec, training config AND data fingerprint
  * against what the scorer expects and fails loudly with the retrain
  * instruction; [[loadIfValid]] is the soft form engines use to fall
  * back to retraining.
  *
  * Scale shape: a model artifact is O(feature dims) rows — driver-
  * bounded by construction; the one corpus-sized step (the data
  * fingerprint, see [[graft.queries.Fixtures]]'s qf9 wiring) is a single
  * map-combined aggregate.
  */
object ModelStore {

  /** Algorithm tag of the linear-classifier family
    * ([[QualityFilters.trainQualityClassifier]]'s rational-squash /
    * integer-quantized-gradient trainer). BUMP when the trainer's
    * arithmetic changes: weights from an older trajectory are a
    * different model even under the same feature spec. */
  val ClassifierAlgo = "linear-classifier/fastsig-quantgrad/v1"

  /** Persist trained weights with their provenance header. Overwrite
    * semantics: a model store holds exactly one generation — history
    * belongs to the caller's path scheme, not to the artifact. */
  def save(spark: SparkSession, path: String, weights: Array[Double],
      featureSpec: String, iters: Int, lr: Double, dataHash: Long): Unit = {
    require(weights.nonEmpty, "cannot persist an empty weight vector")
    spark.createDataFrame(weights.toIndexedSeq.zipWithIndex.map {
        case (w, d) => (d, w)
      }).toDF("dim", "weight")
      .withColumn("sig_algo", lit(ClassifierAlgo))
      .withColumn("feature_spec", lit(featureSpec))
      .withColumn("train_iters", lit(iters))
      .withColumn("train_lr", lit(lr))
      .withColumn("data_hash", lit(dataHash))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted classifier, verifying every provenance field
    * against what the scorer was built for. Throws with a specific,
    * actionable message on any mismatch — a wrong-generation model
    * must never score silently. */
  def load(spark: SparkSession, path: String, featureSpec: String,
      iters: Int, lr: Double, dataHash: Long): Array[Double] = {
    val rows = spark.read.parquet(path)
      .select("dim", "weight", "sig_algo", "feature_spec",
        "train_iters", "train_lr", "data_hash")
      .collect() // O(feature dims) rows by construction
    require(rows.nonEmpty, s"model store at $path is empty - retrain and save")
    def checkAll[T](what: String, actual: Row => T, expected: T): Unit = {
      val got = rows.toSeq.map(actual).distinct
      require(got.length == 1 && got.head == expected,
        s"model store at $path was trained under a different $what " +
          s"(stored: ${got.mkString(", ")}; expected: $expected) - " +
          "scoring with it would be silently wrong; retrain and save " +
          "under the current configuration")
    }
    checkAll("algorithm", _.getString(2), ClassifierAlgo)
    checkAll("feature spec", _.getString(3), featureSpec)
    checkAll("training config (iters)", _.getInt(4), iters)
    checkAll("training config (lr)", _.getDouble(5), lr)
    checkAll("training-data fingerprint", _.getLong(6), dataHash)
    val byDim = rows.map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    require(byDim.map(_._1).sameElements(byDim.indices),
      s"model store at $path has missing/duplicate weight dims: " +
        byDim.map(_._1).mkString(", "))
    byDim.map(_._2)
  }

  private type Row = org.apache.spark.sql.Row

  /** Algorithm tag of the BPE tokenizer artifact family (lowercased
    * whitespace tokenization, in-order merge list + derived vocab).
    * BUMP when the tokenization rule or merge-application order
    * changes — ids encoded under the old rule are a different
    * vocabulary. */
  val BpeTokenizerAlgo = "bpe-tokenizer/lower-ws/merges+vocab/v1"

  /** Persist a trained BPE tokenizer — the THIRD production artifact
    * class after the IVF-PQ index store and the classifier weights:
    * the in-order merge list and the derived (token, id) vocabulary,
    * each row carrying the same provenance header (algo tag, training
    * config, corpus fingerprint). Merge ORDER is the model — ranks
    * are explicit and [[loadTokenizer]] verifies they are contiguous.
    * Applying merges from a store trained on another corpus or under
    * another config silently mis-tokenizes everything (ids shift),
    * the same hazard class every guard here exists for. */
  def saveTokenizer(spark: SparkSession, path: String,
      merges: Seq[(String, String)], vocab: Seq[(String, Long)],
      config: String, dataHash: Long): Unit = {
    require(merges.nonEmpty && vocab.nonEmpty,
      "cannot persist an empty tokenizer")
    def stamp(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("sig_algo", lit(BpeTokenizerAlgo))
      .withColumn("train_config", lit(config))
      .withColumn("data_hash", lit(dataHash))
      .coalesce(1)
    stamp(spark.createDataFrame(merges.toIndexedSeq.zipWithIndex.map {
        case ((l, r), rank) => (rank, l, r)
      }).toDF("rank", "left", "right"))
      .write.mode("overwrite").parquet(s"$path/merges")
    stamp(spark.createDataFrame(vocab.toIndexedSeq).toDF("token", "id"))
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Load a persisted tokenizer, verifying provenance on BOTH parts
    * and structural integrity (contiguous merge ranks, distinct
    * vocab ids). Returns (merges in application order, vocab). */
  def loadTokenizer(spark: SparkSession, path: String, config: String,
      dataHash: Long): (Array[(String, String)], Array[(String, Long)]) = {
    def checkAll[T](rows: Array[Row], part: String, what: String,
        actual: Row => T, expected: T): Unit = {
      val got = rows.toSeq.map(actual).distinct
      require(got.length == 1 && got.head == expected,
        s"tokenizer store at $path/$part was built under a different $what " +
          s"(stored: ${got.mkString(", ")}; expected: $expected) - " +
          "ids encoded with it would shift silently; retrain and save " +
          "under the current configuration")
    }
    def part(name: String, cols: Seq[String]): Array[Row] = {
      val rows = spark.read.parquet(s"$path/$name")
        .select((cols ++ Seq("sig_algo", "train_config", "data_hash"))
          .map(org.apache.spark.sql.functions.col): _*)
        .collect() // O(merges + vocab) rows by construction
      require(rows.nonEmpty, s"tokenizer store at $path/$name is empty")
      val n = cols.length
      checkAll(rows, name, "algorithm", _.getString(n), BpeTokenizerAlgo)
      checkAll(rows, name, "training config", _.getString(n + 1), config)
      checkAll(rows, name, "corpus fingerprint", _.getLong(n + 2), dataHash)
      rows
    }
    val m = part("merges", Seq("rank", "left", "right"))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    require(m.map(_._1).sameElements(m.indices),
      s"tokenizer store at $path/merges has missing/duplicate ranks")
    val v = part("vocab", Seq("token", "id"))
      .map(r => (r.getString(0), r.getLong(1)))
    require(v.map(_._2).distinct.length == v.length,
      s"tokenizer store at $path/vocab has duplicate ids")
    (m.map(t => (t._2, t._3)), v.sortBy(_._2))
  }

  /** Soft load: Some(weights) when the store exists and every guard
    * passes, None otherwise (absent, unreadable, schema-incompatible,
    * or any generation mismatch) — the "load or fall back to
    * retraining" form. No filesystem probe here: existence is
    * whatever [[load]]'s reader says it is, which keeps the path
    * scheme-agnostic (local, HDFS, s3a) instead of silently failing
    * every non-local store through a java.io.File check. Retraining
    * on ANY load failure is the correct degradation — a model that
    * cannot be read must never be half-trusted. */
  def loadIfValid(spark: SparkSession, path: String, featureSpec: String,
      iters: Int, lr: Double, dataHash: Long): Option[Array[Double]] =
    try Some(load(spark, path, featureSpec, iters, lr, dataHash))
    catch { case scala.util.control.NonFatal(_) => None }
}
