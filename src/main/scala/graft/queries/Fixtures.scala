package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

/** Builder-side fixtures shared by several family files: table
  * readers, synthetic inputs, staging helpers and the memoized trained
  * models (vocabularies, PQ codebooks, the qf9 gate). */
object Fixtures {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set
    * to `n`: a stream-stream join materializes one state-store
    * instance per shuffle partition per micro-batch, so a
    * fixture-sized stream pays a 32-instance setup floor unless the
    * state partitioning is sized to the load — exactly what a
    * production job does through its own conf. Join/aggregation
    * results are partitioning-invariant; the previous value is
    * restored in finally (the frames a builder RETURNS are planned
    * after restoration and keep the session default). */
  private[queries] def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Deterministic URL fixture for url1/qf3: the corpus has no URLs,
    * so append two per document — a mixed-case host (normalization
    * must lowercase it) and a host with port + query (the domain
    * parse must stop at ':'). */
  private[queries] def urlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        lit(" http://d"), (col("doc_id") % 7).cast("string"),
        lit(".example/p/"), col("doc_id").cast("string"),
        lit(" https://CDN-d"), (col("doc_id") % 4).cast("string"),
        lit(".Example:8443/x?q="), col("doc_id").cast("string")).as("text"))

  /** events.ts is TIMESTAMP(NANOS) parquet — Spark reads it as a nano
    * long (nanosAsLong); normalize to TIMESTAMP_NTZ (micros, matching
    * DuckDB's naive CAST(ts AS TIMESTAMP) truncation). NTZ, not the
    * session-tz TimestampType: the source data is wall-clock naive and
    * the oracle compares naive values — LTZ here made every ts-bearing
    * output fail the schema gate (round-1 c1/j2/m3/st1 root cause). */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ => raw
    }
  }

  /** Cast every session-tz timestamp column to TIMESTAMP_NTZ (UTC
    * session ⇒ instant-preserving). Applied at boundaries that
    * re-introduce LTZ, e.g. JDBC readback. */
  private[queries] def ntz(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        col(f.name).cast("timestamp_ntz").as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  private[queries] def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Data files of a parquet output dir (skips _SUCCESS / hidden) —
    * one definition of "data file" for the mtime-pinning sites. Fails
    * with a clear message (not an NPE) when the path is missing or not
    * a directory. */
  private[queries] def listDataFiles(dir: String): Array[java.io.File] = {
    val files = Option(new java.io.File(dir).listFiles())
    require(files.isDefined, s"not a listable directory: $dir")
    files.get
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  /** PQ codebooks for the sim9/sim10/sim11 family, memoized per sf
    * dir (training = one bounded init collect + 2 fused aggregation
    * jobs; the dominant cost is actually codegen-compiling the
    * m×k literal-centroid argmin tree, paid once here instead of
    * once per query). */
  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  private[queries] def trainedPq(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqCache.computeIfAbsent(dir, _ =>
      Similarity.pqTrain(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 8, k = 16, maxIter = 2))

  /** qf9 training fixture: every 5th doc gets deterministic junk
    * appended (digit/punct spam — shifts the density features) and
    * label 1; the classifier must learn to separate them. The junk
    * string is shared verbatim with the oracle SQL. */
  private[queries] val qf9Junk =
    " 0123456789 0123456789 !!!??!! 0123456789 ,,;;::!! 0123456789"

  private[queries] def qf9Frame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(qf9Junk)))
        .otherwise(col("text")).as("text"),
      when(col("doc_id") % 5 === 0, lit(1.0)).otherwise(lit(0.0)).as("y"))

  /** qf9 features: dyadic scalings of EXACT integer counts (token /
    * digit / punct / char counts over the proven TextAnalysis
    * regex classes) — identical doubles in any engine. */
  private[queries] def qf9Features(text: Column): Seq[Column] = Seq(
    lit(1.0),
    TextAnalysis.tokenCount(text) / lit(64.0),
    TextAnalysis.digitCount(text) / lit(256.0),
    TextAnalysis.punctCount(text) / lit(256.0),
    TextAnalysis.charCount(text) / lit(1024.0))

  /** qf9 converged training config (r7 hyperparameter grid: every
    * config with iters >= 48, lr 2.0, junk-class weight 4.0 reaches
    * accuracy 1.0 on the planted-junk fixture; the r7 default
    * 16/0.5/unweighted under-trained at 0.8). The 4x minority
    * upweight folds into the per-row error BEFORE quantization, so
    * the trajectory stays bit-reproducible and oracle-replayable. */
  private[queries] val qf9Iters = 64

  private[queries] val qf9Lr = 2.0

  private def qf9Weight: Column =
    when(col("y") === 1.0, lit(4.0)).otherwise(lit(1.0))

  /** qf9's feature-extractor identity — part of the persisted model's
    * generation guard. BUMP when [[qf9Features]]/[[qf9Frame]] change:
    * weights trained under other features must be rejected on load. */
  private[queries] val qf9FeatureSpec =
    "bias,tokens/64,digits/256,punct/256,chars/1024|junk%5,w4x|v1"

  /** Training-data fingerprint: order-free XOR of per-row hashes over
    * the raw corpus (the augmented frame/labels are deterministic
    * functions of it, captured by [[qf9FeatureSpec]]). One
    * map-combined aggregate — the cheap pass that lets a persisted
    * model refuse to score data it was not trained on. */
  private[queries] def qf9DataHash(s: SparkSession, dir: String): Long =
    t(s, dir, "documents")
      .agg(expr("bit_xor(xxhash64(doc_id, text))")).collect()(0).getLong(0)

  /** Stable per-corpus store path for the persisted qf9 model — the
    * artifact a production gate ships: train once ([[trainedQf9]]),
    * score/calibrate in any later process. */
  private[queries] def qf9ModelPath(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_qf9_model_${java.lang.Integer.toHexString(dir.hashCode)}"

  /** Trained qf9 weights — store-backed (r10): load the persisted
    * model when its generation guard passes (algo + feature spec +
    * config + data fingerprint), else train once and persist. qf9
    * (the gate), eval9 (its calibration report) and qf11 (the
    * lifecycle query) all score ONE model, exactly as a production
    * pipeline does; the in-process memo just skips re-reading the
    * store within a session. */
  private val qf9WCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private[queries] def trainedQf9(s: SparkSession, dir: String): Array[Double] =
    qf9WCache.computeIfAbsent(dir, _ => {
      val path = qf9ModelPath(dir)
      val dh = qf9DataHash(s, dir)
      ModelStore.loadIfValid(s, path, qf9FeatureSpec, qf9Iters, qf9Lr, dh)
        .getOrElse {
          val w = QualityFilters.trainQualityClassifier(
            qf9Frame(t(s, dir, "documents")), qf9Features(col("text")),
            col("y"), iters = qf9Iters, lr = qf9Lr, sampleWeight = qf9Weight)
          ModelStore.save(s, path, w, qf9FeatureSpec, qf9Iters, qf9Lr, dh)
          w
        }
    })

  /** Token frame for the KMV vocabulary sketches (pf10/pf11/st18):
    * (lang, token), the same whitespace tokenization [[Profiling.vocabulary]]
    * uses. */
  private[queries] def kmvTokens(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)

  /** dd6's deterministic pair source, shared by the cluster queries
    * (dd6/dd6b/dd12/dd26) and sp3: word-set Jaccard >= 0.5 within a
    * language, as `(id_a, id_b)` edges. Callers pass doc_id <= 100. */
  private[queries] def jaccardPairs(docs: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5)
      .select("id_a", "id_b")

  /** `frame` as a two-micro-batch file stream under `$base/in`: the
    * rows with an even `key`, then the odd ones, one file per trigger. */
  private[queries] def evenOddStream(s: SparkSession, frame: DataFrame,
      key: String, base: String): DataFrame = {
    val in = s"$base/in"
    frame.filter(col(key) % 2 === 0)
      .coalesce(1).write.mode("append").parquet(in)
    frame.filter(col(key) % 2 === 1)
      .coalesce(1).write.mode("append").parquet(in)
    s.readStream.schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
  }

  /** scd1/j6's CDC feed of customer balances: inserts for custkey
    * % 10 <= 2 at seq 0, +100 updates of the same keys at seq 1,
    * deletes of custkey % 10 == 0 at seq 2 ([[OracleCtes.cdcHistoryCtes]]
    * replays it). */
  private[queries] def customerCdcFeed(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    def v(df: DataFrame, op: String, seq: Long): DataFrame =
      df.withColumn("op", lit(op)).withColumn("seq", lit(seq))
    val base = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    v(base.filter(k % 10 <= 2), "I", 0L)
      .unionByName(v(base.filter(k % 10 <= 2)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2)), "U", 1L))
      .unionByName(v(base.filter(k % 10 === 0), "D", 2L))
  }
}
