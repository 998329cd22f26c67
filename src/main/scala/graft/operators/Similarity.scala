package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), beyond-parity (SURVEY.md §7.3#7).
  *
  * Three tiers:
  *  - `bruteForceTopK` — exact: queries x corpus cross product. Correct
  *    baseline; scales as |Q| * |C|, so only for small query sets.
  *  - `lshTopK` — random-hyperplane LSH: corpus bucketed by sign
  *    pattern, queries probe their own bucket (optionally multi-probe
  *    by flipping bits). Recall < 1, cost ~ |Q| * bucket.
  *  - `ivfTopK` — inverted-file: corpus assigned to nearest of C
  *    centroids; queries probe nProbe nearest centroid lists. This is
  *    the 100 TB path: the centroid assignment is one broadcast join
  *    (centroids are tiny), the probe is a shuffle-on-centroid join.
  *
  * All dot products use the native `DotProduct` Catalyst expression
  * (full whole-stage codegen, no per-pair allocation) — the HOF form
  * `aggregate(zip_with(...))` it replaced is CodegenFallback and was
  * the dominant per-pair cost; norms are computed once and carried as
  * columns.
  */
object Similarity {

  /** Dot product of two numeric array columns (double result) —
    * codegen kernel, see [[graft.functions.VectorExpressions.DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic random hyperplanes (seeded), as literal array
    * columns — broadcast by construction, no shuffle. */
  private[operators] def hyperplanes(dim: Int, planes: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern LSH signature (long) of a vector column. */
  def hyperplaneSignature(df: DataFrame, vecCol: String, planes: Int, seed: Long): Column = {
    val dim = firstVectorDim(df, vecCol)
    val hps = hyperplanes(dim, planes, seed)
    hps.zipWithIndex.map { case (h, i) =>
      val hCol = array(h.map(lit): _*)
      when(dot(col(vecCol), hCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Per-band sign-pattern signatures as `array<long>` — the
    * OR-amplified (banded) construction for random-hyperplane LSH:
    * `bands` independent signatures of `planesPerBand` hyperplanes
    * each, drawn from one seeded stream. Two vectors are LSH
    * candidates when they collide in ANY band, so candidate recall is
    * 1 - (1 - p^r)^b with p = 1 - angle/pi — tunable to any target,
    * unlike the single-signature AND form whose recall decays as p^r.
    * Same mechanics as MinHash banding in [[graft.operators.Dedup.minhashLshPairs]],
    * applied to the embedding modality. All hyperplanes are literal
    * array columns: broadcast by construction, full codegen, no
    * shuffle to compute. */
  def bandedHyperplaneSignatures(df: DataFrame, vecCol: String,
      bands: Int, planesPerBand: Int, seed: Long): Column = {
    require(bands >= 1 && planesPerBand >= 1 && planesPerBand <= 62,
      s"need bands >= 1 and 1 <= planesPerBand <= 62: bands=$bands r=$planesPerBand")
    val dim = firstVectorDim(df, vecCol)
    val hps = hyperplanes(dim, bands * planesPerBand, seed)
    array((0 until bands).map { b =>
      (0 until planesPerBand).map { i =>
        val hCol = array(hps(b * planesPerBand + i).map(lit): _*)
        when(dot(col(vecCol), hCol) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }: _*)
  }

  /** Pick (planesPerBand, bands) so a pair at EXACTLY `threshold`
    * cosine is found with probability >= `targetRecall` (pairs above
    * the threshold do strictly better). Per-hyperplane agreement
    * p = 1 - acos(t)/pi; banded recall = 1 - (1 - p^r)^b. Prefers the
    * LARGEST r whose band count fits the budget: more planes per band
    * means exponentially more selective buckets (cheaper verify) at
    * the cost of more bands (linear signature work). Falls back to
    * (1, maxBands) when even r=1 cannot hit the target — recall is
    * then best-effort, which only happens for thresholds near 0 where
    * "near-duplicate" is not a meaningful contract anyway. */
  private[operators] def lshParams(threshold: Double,
      targetRecall: Double = 0.95, maxBands: Int = 16,
      maxPlanes: Int = 16): (Int, Int) = {
    val t = math.max(-1.0, math.min(1.0, threshold))
    val p = 1.0 - math.acos(t) / math.Pi
    (maxPlanes to 1 by -1).view.flatMap { r =>
      val bandHit = math.pow(p, r)
      if (bandHit >= 1.0) Some((r, 1))
      else {
        val b = math.ceil(math.log1p(-targetRecall) / math.log1p(-bandHit))
        if (b <= maxBands) Some((r, b.toInt)) else None
      }
    }.headOption.getOrElse((1, maxBands))
  }

  private def firstVectorDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Score a pre-joined pair frame carrying (id_a, v_a, n_a, id_b,
    * v_b, n_b): canonical id order, zero-norm guard BEFORE the
    * division (0/0 throws under ANSI mode and would rank FIRST as
    * NaN without it), cosine, threshold. The one shared definition of
    * pair semantics — [[graft.operators.Dedup.exactCosinePairs]]
    * (cross join) and `Clustering.semanticNearDupPairs`
    * (cluster-blocked join) differ only in how pairs are generated.
    */
  private[operators] def scoreJoinedPairs(joined: DataFrame,
      threshold: Double): DataFrame =
    joined
      .filter(col("id_a") < col("id_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("cosine", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` and `corpus`: (id, vec). Excludes self-matches when ids
    * collide. Deterministic tie-break by neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      // zero-norm vectors have no direction: 0/0 throws under ANSI
      // mode (and would rank FIRST as NaN with ANSI off) — filter
      // BEFORE the division
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Late-interaction (MaxSim) chunk retrieval — the RAG ranking
    * rule for chunked corpora: a document's score for a query is the
    * MAX cosine over that document's chunk vectors (one good passage
    * makes the doc relevant; pooling to a doc centroid would dilute
    * it — the single-query-vector form of ColBERT's MaxSim). Emits
    * per query the top-`k` documents with the winning chunk:
    * (query_id, doc_id, best_chunk, rank). Ties: equal max scores
    * rank by doc id; equal-scoring chunks elect the smallest id.
    *
    * This is the EXACT form (queries x chunks, same contract as
    * [[bruteForceTopK]] — the yardstick): at corpus scale generate
    * the candidate chunk set with [[ivfTopK]]'s centroid probe
    * first, then apply the same groupBy-max ranking to candidates.
    * The doc aggregation is one map-combined partial agg; no chunk
    * text or vector survives past its cosine. */
  def maxSimTopK(queries: DataFrame, chunks: DataFrame, idCol: String,
      vecCol: String, docIdCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val c = chunks.select(col(docIdCol).as("doc_id"),
      col(idCol).as("chunk_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val scored = q.crossJoin(c)
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    maxSimRank(scored, k)
  }

  /** MaxSim aggregation/rank stage shared by [[maxSimTopK]] and
    * [[maxSimTopKIvf]]. Input: (query_id, doc_id, chunk_id, cosine).
    * Argmax chunk per (query, doc): max on (cosine, -chunk_id) keeps
    * the smallest chunk id among equal scores — one aggregate, no
    * self-join back. */
  private def maxSimRank(scored: DataFrame, k: Int): DataFrame = {
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(max(struct(col("cosine").as("c"),
        (-col("chunk_id")).as("nc"))).as("m"))
      .select(col("query_id"), col("doc_id"),
        col("m.c").as("max_cos"), (-col("m.nc")).as("best_chunk"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("max_cos").desc, col("doc_id").asc)
    perDoc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "best_chunk", "rank")
  }

  /** Candidate-probed late-interaction retrieval — [[maxSimTopK]]
    * with the queries×chunks cross product replaced by
    * [[ivfCandidatePairs]] over the CHUNK vectors (the doc id rides
    * along as a passthrough column). A doc's MaxSim score at reduced
    * probe is the max over its PROBED chunks — one strong chunk in a
    * probed list is enough to surface the doc, which is the
    * late-interaction contract. At `nProbe == nCentroids` output is
    * bit-identical to the exact yardstick (sim8's oracle re-verifies
    * it). Scale shape: broadcast assigns + one cent_id-shuffled
    * join, then the same map-combined per-doc partial agg. */
  def maxSimTopKIvf(queries: DataFrame, chunks: DataFrame, idCol: String,
      vecCol: String, docIdCol: String, k: Int,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val cand = ivfCandidatePairs(queries, chunks, idCol, vecCol,
        nCentroids, nProbe, corpusCols = Seq(docIdCol -> "doc_id"))
      .withColumnRenamed("neighbor_id", "chunk_id")
    maxSimRank(cand, k)
  }

  /** Semantic decontamination — the embedding-space cousin of the
    * gram-based [[Decontaminate]] family: flag every TRAIN vector
    * whose cosine to ANY eval vector is at least `threshold`,
    * reporting the best-matching eval id (ties → smallest id). Gram
    * overlap misses paraphrased benchmark leakage; this catches it
    * where the embedding does.
    *
    * Scale shape: an eval suite is SMALL BY DEFINITION, so the eval
    * side broadcasts (the same bounded-side call the vocab/centroid
    * collects make) and the bipartite sweep is a broadcast
    * nested-loop the TRAIN side streams through row-locally — the
    * corpus never shuffles its vectors; the only exchange carries
    * (train_id, cosine, eval_id) for rows past the threshold, which
    * is contamination-sized. For an eval side too big to broadcast,
    * block both sides by shared k-means clusters
    * ([[graft.operators.Clustering.semanticNearDupPairs]]'s shape)
    * and sweep within clusters.
    *
    * Zero-norm vectors have no direction and are never flagged
    * (filtered before the division — 0/0 throws under ANSI). */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val ev = broadcast(evalSet.select(col(idCol).as("eval_id"),
      col(vecCol).as("ev"), l2norm(col(vecCol)).as("en"))
      .filter(col("en") > 0))
    val tr = train.select(col(idCol).as("train_id"), col(vecCol).as("tv"),
      l2norm(col(vecCol)).as("tn"))
      .filter(col("tn") > 0)
    tr.crossJoin(ev)
      .withColumn("cosine", dot(col("tv"), col("ev")) / (col("tn") * col("en")))
      .filter(col("cosine") >= threshold)
      .groupBy("train_id")
      .agg(max(struct(col("cosine").as("c"), (-col("eval_id")).as("ne"))).as("m"))
      .select(col("train_id"),
        (-col("m.ne")).as("eval_id"),
        round(col("m.c"), 6).as("cosine"))
  }

  /** Banded (OR-amplified) LSH approximate top-k: the corpus is
    * bucketed in `bands` independent sign-pattern signatures of
    * `planes` hyperplanes each; a (query, neighbor) pair is a
    * candidate when it collides in ANY band — plus (multi-probe)
    * any bucket at Hamming distance 1 within a band, flipping each
    * plane bit. Candidate recall is 1 - prod over bands of
    * P(no collision), tunable via `bands` where the old
    * single-signature form's recall decayed as p^planes; exact
    * cosine then ranks the candidates, so precision of what IS
    * returned is exact.
    *
    * Scale shape: the banded join carries only (band, sig, id) —
    * corpus vectors join back by neighbor id AFTER the cross-band
    * candidate dedup, so the b-fold signature fan-out never
    * replicates vector payloads through a shuffle. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      planes: Int = 8, seed: Long = 42L,
      multiProbe: Boolean = true, bands: Int = 8): DataFrame = {
    val cSigs = corpus.select(col(idCol).as("neighbor_id"),
      posexplode(bandedHyperplaneSignatures(corpus, vecCol, bands, planes, seed))
        .as(Seq("band", "sig")))
    val qBase = queries.select(col(idCol).as("query_id"),
      posexplode(bandedHyperplaneSignatures(queries, vecCol, bands, planes, seed))
        .as(Seq("band", "sig")))
    val probes: Column =
      if (multiProbe)
        array((col("sig") +: (0 until planes).map(b =>
          col("sig").bitwiseXOR(lit(1L << b)))): _*)
      else array(col("sig"))
    val qSigs = qBase.select(col("query_id"), col("band"),
      explode(probes).as("sig"))
    val cand = qSigs.join(cSigs, Seq("band", "sig"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
      .filter(col("query_id") =!= col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val scored = cand.join(q, "query_id").join(c, "neighbor_id")
      // zero-norm vectors have no direction: 0/0 throws under ANSI
      // mode (and would rank FIRST as NaN with ANSI off) — filter
      // BEFORE the division
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Symmetric int8 quantization of a float vector column: per-vector
    * scale = max|x|/127, payload shrinks 4× — at 100 TB of embeddings
    * the shuffle/storage win usually pays for the <1% cosine error.
    * Returns (quantized array<tinyint>, scale) columns; `dequantize`
    * reconstructs approximate floats.
    */
  def quantize(vec: Column): (Column, Column) = {
    val scale = greatest(array_max(transform(vec, x => abs(x))), lit(1e-30f)) / 127.0
    // bind `scale` as a lambda variable: HOFs are CodegenFallback and
    // interpreted eval re-evaluates embedded subtrees per lambda call
    // — inline, each of the dim elements re-ran the O(dim) max scan
    // (O(dim²) per row); bound, scale computes once per row
    val q = flatten(transform(array(scale), s =>
      transform(vec, x => round(x / s).cast("tinyint"))))
    (q, scale)
  }

  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => (x.cast("double") * scale).cast("float"))

  /** Brute-force top-k over int8-quantized vectors: integer dot
    * products rescaled by the two scale factors. Ranking error is
    * bounded by quantization noise; exact ids come from re-ranking
    * the top candidates with full precision if needed. */
  def bruteForceTopKQuantized(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, idAs: String, vAs: String, sAs: String) = {
      val (q, s) = quantize(col(vecCol))
      df.select(col(idCol).as(idAs), q.as(vAs), s.as(sAs))
    }
    val q = prep(queries, "query_id", "qv", "qs")
    val c = prep(corpus, "neighbor_id", "cv", "cs")
    // int8 products accumulate exactly in the double kernel (|sum| ≪ 2^53)
    val intDot = dot(col("qv"), col("cv"))
    val qNorm = sqrt(dot(col("qv"), col("qv")))
    val cNorm = sqrt(dot(col("cv"), col("cv")))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(qNorm > 0 && cNorm > 0)
      .withColumn("cosine", intDot / (qNorm * cNorm))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  // ---- Product Quantization (PQ) ----------------------------------

  /** Train `m` per-subspace codebooks of `k` centroids each —
    * product quantization (Jégou et al. 2011), the memory tier BELOW
    * int8: a dim-64 float vector (256 B) compresses to m=8 code
    * bytes (32×), and query-time distances come from per-subspace
    * table lookups instead of full dot products.
    *
    * This is the engine's ONE Lloyd's k-means: plain k-means
    * ([[Clustering.kmeansCentroids]]) is the m = 1 case. Training is
    * deterministic Lloyd's per subspace (init = the k smallest-id
    * vectors' subvectors, argmin tie-break by centroid id, empty
    * clusters keep their previous centroid), FUSED across subspaces:
    * each iteration computes all m subspace assignments in one
    * projection, explodes to (subspace, centroid, subvector), and
    * aggregates every codebook in ONE map-combined shuffle to m·k
    * rows. Driver state: m·k·(dim/m) = k·dim doubles. At 100 TB:
    * train on a sample, encode the corpus in one projection pass.
    *
    * Null and non-finite vectors follow the kernel's rule
    * ([[graft.functions.VectorExpressions.PqArgmin]]): they get a
    * null centroid id, which the update step skips, and they are
    * never picked for init (a vector qualifies when its squared norm
    * is finite).
    *
    * Returns codebooks(sub)(centroid)(dim/m). */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, maxIter: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && k >= 1 && maxIter >= 0, s"m=$m k=$k maxIter=$maxIter")
    // Spark orders NaN above +Inf and a null comparison filters out,
    // so `< +Inf` keeps exactly the finite vectors
    val initRows = corpus
      .filter(dot(col(vecCol), col(vecCol)) < Double.PositiveInfinity)
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(initRows.length == k, s"need >= $k vectors, got ${initRows.length}")
    val dim = initRows(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => initRows.map(_.slice(s * dsub, (s + 1) * dsub)))
    var it = 0
    while (it < maxIter) {
      val subEntries = (0 until m).map { s =>
        val sv = slice(col(vecCol).cast("array<double>"), s * dsub + 1, dsub)
        struct(lit(s).as("sub"), pqArgmin(sv, books(s)).as("cid"), sv.as("sv"))
      }
      val exploded = corpus.select(explode(array(subEntries: _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.cid").as("cid"), col("e.sv").as("sv"))
        .filter(col("cid").isNotNull)
      val aggs = (0 until dsub).map(i => avg(col("sv").getItem(i)).as(s"m$i"))
      val rows = exploded.groupBy("sub", "cid")
        .agg(aggs.head, aggs.tail: _*).collect()
      val next = books.map(_.map(_.clone()))
      rows.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          Array.tabulate(dsub)(i => r.getDouble(i + 2))
      }
      books = next
      it += 1
    }
    books
  }

  /** argmin-cost codebook entry for a subvector column: cost_j =
    * |c_j|² − 2·sv·c_j (distance² minus the shared |sv|² term),
    * lowest-cid tie-break. Delegates to the compact codegen kernel
    * [[graft.functions.VectorExpressions.PqArgmin]] — the previous
    * unrolled struct/array_min literal tree grew past janino's 64 KB
    * method limit at real m×k and silently de-compiled the whole
    * stage; the kernel's generated size is m/k-independent and the
    * arithmetic (dot order, cost form, tie rule) is bit-identical. */
  private def pqArgmin(sv: Column, cents: Array[Array[Double]]): Column =
    graft.functions.VectorExpressions.pq_argmin(sv, cents)

  /** PQ-encode: each vector becomes `m` small-int codes (argmin
    * codebook entry per subspace) — one projection, codebooks ride
    * as literals, integral output. This array<int> IS the 32×-
    * compressed index payload a 100 TB ANN corpus stores/shuffles. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol).as("id"), pqCodes(col(vecCol), books).as("codes"))

  /** The m-code array for a vector column — [[pqEncode]]'s kernel as
    * a reusable Column (everything literal; pure projection). */
  private def pqCodes(v: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val dsub = books(0)(0).length
    array((0 until m).map { s =>
      pqArgmin(slice(v.cast("array<double>"), s * dsub + 1, dsub), books(s))
    }: _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the corpus side
    * carries ONLY its m code ints; per (query, neighbor) the
    * distance² is Σ_s (|c_{code_s}|² − 2·q_s·c_{code_s}) + |q|² —
    * every centroid lookup is an `element_at` into a literal
    * codebook array, fully codegen, no corpus floats touched. This
    * is the brute-force ADC baseline (queries × codes — the same
    * verification role [[bruteForceTopK]] plays); the scale path
    * routes candidates through [[ivfTopK]]'s centroid lists first
    * and ADC-scores only the probed fraction. Approximate by
    * construction: ranking error is the PQ reconstruction error. */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    // the code table IS the index artifact: materialize it once
    // (m ints per vector) instead of re-running the m×k argmin tree
    // under the query join — measured ~8x on the bench fixture; at
    // corpus scale the index is persisted, not recomputed per query
    val enc = pqEncode(corpus, idCol, vecCol, books)
      .select(col("id").as("neighbor_id"), col("codes"))
      .localCheckpoint(eager = false)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = q.crossJoin(enc)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adcDist(col("qv"), col("codes"), books))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** ADC distance² of a (double) query vector to a PQ code array:
    * Σ_s (|c_{code_s}|² − 2·q_s·c_{code_s}) + |q|², every centroid a
    * literal-array `element_at` — fully codegen. */
  private def adcDist(qv: Column, codes: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val dsub = books(0)(0).length
    (0 until m).map { s =>
      // single pre-built Literals (typedlit), NOT CreateArray trees —
      // the nested constructor form measured ~60x slower per row
      val cents = typedlit(books(s).map(_.toSeq).toSeq)
      val normSqs = typedlit(books(s).map(c => c.map(x => x * x).sum).toSeq)
      val code = codes.getItem(s)
      val sv = slice(qv, s * dsub + 1, dsub)
      element_at(normSqs, code + 1) - dot(sv, element_at(cents, code + 1)) * 2.0
    }.reduce(_ + _) + dot(qv, qv)
  }

  /** Two-stage retrieval — the serving pattern a production ANN
    * stack actually runs: a cheap approximate FIRST stage
    * ([[pqIvfTopK]]'s ADC over probed centroid lists, reading m code
    * ints per candidate) surfaces `rerankDepth` candidates per
    * query, then a full-precision cosine re-rank of JUST those
    * candidates fixes the final top-`k` order. PQ reconstruction
    * error now affects only WHICH candidates surface, not how the
    * survivors are ordered — recall@k converges to exact as
    * `rerankDepth` grows while the float vectors are touched for
    * only |Q|·rerankDepth rows instead of |Q|·|C|.
    *
    * Scale shape: stage 1 is pqIvfTopK's plan (broadcast coarse
    * assign, cent_id-shuffled code join); stage 2 joins the
    * candidate ids back to the corpus floats — candidate-sized, one
    * hash join on id — and re-scores row-locally. At `nProbe ==
    * nCentroids` and `rerankDepth >= |corpus|` the result is
    * bit-identical to [[bruteForceTopK]] (the oracle-verified
    * configuration, sim1's oracle re-verifies it); production runs
    * reduced probe + shallow depth, recall priced in the spec. */
  def pqIvfRerankTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]], k: Int, rerankDepth: Int,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4): DataFrame = {
    require(rerankDepth >= k, s"rerankDepth must be >= k: $rerankDepth < $k")
    val cand = pqIvfTopK(queries, corpus, idCol, vecCol, books,
        k = rerankDepth, nCentroids = nCentroids, nProbe = nProbe)
      .select("query_id", "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val scored = cand.join(c, "neighbor_id").join(q, "query_id")
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Per-vector PQ reconstruction residual² against the codebooks —
    * encode + asymmetric distance of the vector to its OWN codes,
    * one pure codegen projection (no joins, no state). This is THE
    * drift signal for a PQ index: codebooks trained on yesterday's
    * distribution reconstruct today's vectors worse, and the mean
    * residual rises before ANN recall visibly decays. */
  def pqResidualSq(v: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val dv = v.cast("array<double>")
    adcDist(dv, pqCodes(v, books), books)
  }

  /** Integer-quantized residual — `floor(r²·2^20 + 0.5)` as LONG:
    * per-group sums become EXACT integer sums, invariant to
    * partial-aggregation order and mergeable across partitions and
    * micro-batches (the qf9 gradient-quantization trick applied to
    * monitoring), so every drift statistic is bit-reproducible. */
  def pqResidualQ(v: Column, books: Array[Array[Array[Double]]]): Column =
    floor(pqResidualSq(v, books) * 1048576.0 + 0.5).cast("long")

  /** Training-time residual baseline: (Σ quantized residual², n)
    * over the training corpus — one bounded 1-row collect, the same
    * class as codebook training itself. Persist alongside the
    * codebooks; [[pqDriftStats]] compares every future batch to it. */
  def pqResidualBaseline(corpus: DataFrame, vecCol: String,
      books: Array[Array[Array[Double]]]): (Long, Long) = {
    val r = corpus.agg(
      sum(pqResidualQ(col(vecCol), books)).as("sq"),
      count(lit(1)).as("n")).collect()(0)
    require(r.getLong(1) > 0, "empty baseline corpus")
    (r.getLong(0), r.getLong(1))
  }

  /** Mergeable codebook-drift statistics: one row per `batchKey`
    * group — (batch_key, n_vectors, mean_resid_sq, retrain_flag),
    * where the flag fires when the group's mean quantized residual
    * exceeds `tolerance` × the training-time baseline mean. The
    * comparison multiplies integer sums cast to double (one IEEE
    * multiply each side — engine-reproducible), never divides, so
    * the flag is exactly replayable. Works identically on a batch
    * frame and inside [[graft.streaming.EventStream.pqDriftMonitor]]'s
    * per-micro-batch fold — the map-combined (sum, count) partials
    * are the only state, so a 100 TB day of ingestion folds in one
    * pass with no extra shuffle beyond the tiny per-key aggregate. */
  def pqDriftStats(df: DataFrame, vecCol: String,
      books: Array[Array[Array[Double]]], batchKey: Column,
      baselineSumQ: Long, baselineN: Long,
      tolerance: Double = 1.5): DataFrame = {
    require(baselineN > 0, "baseline count must be positive")
    df.groupBy(batchKey.as("batch_key"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(pqResidualQ(col(vecCol), books)).as("__sq"))
      .select(col("batch_key"), col("n_vectors"),
        round(col("__sq").cast("double") / col("n_vectors") / 1048576.0, 6)
          .as("mean_resid_sq"),
        (col("__sq").cast("double") * baselineN >
          lit(tolerance) * baselineSumQ.toDouble * col("n_vectors"))
          .as("retrain_flag"))
  }

  /** IVF-PQ — the composition a billion-vector index actually ships:
    * [[ivfTopK]]'s coarse centroid probe prunes the candidate lists,
    * then [[pqAdcTopK]]'s asymmetric distance scores ONLY the probed
    * fraction, reading m code ints per candidate instead of its
    * floats. The corpus-side index is (cent_id, neighbor_id, codes):
    * one projection pass to build, 32× smaller than the float corpus,
    * shuffled on cent_id only. With `nProbe == nCentroids` the
    * candidate set is the whole (nonzero-norm) corpus and the ranking
    * is identical to brute-force ADC — the oracle-verified
    * configuration (sim6's full-probe pattern). */
  def pqIvfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]], k: Int,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4): DataFrame = {
    val nCent = resolveCentroids(nCentroids, corpus)
    val cent = pqCoarseCentroids(corpus, idCol, vecCol, nCent)
    // one pass builds the whole index row — coarse assignment, then
    // codes projected AFTER the argmax (never under the centroid
    // crossJoin), materialized once: the (cent_id, codes) table IS
    // the persisted IVF-PQ index artifact ([[pqIndexStore]] is this
    // construction made durable)
    val index = pqCoarseAssign(corpus, idCol, vecCol, cent, 1)
      .select(col(idCol).as("neighbor_id"), col("cent_id"),
        pqCodes(col(vecCol), books).as("codes"))
      .localCheckpoint(eager = false)
    pqProbeRank(queries, index, cent, idCol, vecCol, books, k, nProbe, nCent)
  }

  /** The deterministic coarse-quantizer frame: `nCentroids`
    * smallest-id corpus vectors as (cent_id, cent_v, cent_n) — the
    * id keeps its NATIVE type (a blanket long cast would break
    * string-id corpora under ANSI, or null every centroid without
    * it; only [[pqIndexAppendOnline]]'s driver collect needs numeric
    * ids, and it enforces that itself). */
  private def pqCoarseCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"),
        l2norm(col(vecCol)).as("cent_n"))

  /** Coarse assignment against a broadcast centroid frame — the PQ
    * family's entry to [[centroidAssign]] (top-1 index builds plan as
    * one map-combined argmax aggregate; full probe as a pure
    * broadcast fan-out when `nCent` is known). Emits (idCol, vecCol,
    * n, cent_id) — every caller selects from that set. */
  private def pqCoarseAssign(df: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, topN: Int, nCent: Int = -1): DataFrame =
    centroidAssign(df, idCol, vecCol, cent, topN, nCent, Nil)

  /** The probe/ADC/rank stage shared by [[pqIvfTopK]] (inline index)
    * and [[pqIvfProbeIndex]] (persisted store): queries coarse-route
    * to `nProbe` lists, join the (cent_id, neighbor_id, codes) index,
    * ADC-score, top-k. */
  private def pqProbeRank(queries: DataFrame, index: DataFrame,
      cent: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]], k: Int, nProbe: Int,
      nCent: Int = -1): DataFrame = {
    val probes = pqCoarseAssign(queries, idCol, vecCol, cent, nProbe, nCent)
      .select(col(idCol).as("query_id"), col("cent_id"),
        col(vecCol).cast("array<double>").as("qv"))
    val scored = probes.join(index.select("cent_id", "neighbor_id", "codes"), "cent_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adcDist(col("qv"), col("codes"), books))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** Generation tag of a persisted IVF-PQ index: a content hash of
    * the codebook doubles (raw IEEE bits, FNV-1a folded in
    * subspace/centroid/dimension order) plus the (m, k) shape. Codes
    * are MEANINGLESS under any other codebooks — after a re-train
    * (e.g. when [[pqDriftStats]] raises its flag), the tag changes
    * and a version-blind probe of the old store is refused instead
    * of silently mis-ranking everything (the same failure mode the
    * Dedup `sig_algo` guards close for text signatures). */
  def pqIndexAlgo(books: Array[Array[Array[Double]]]): String = {
    require(books.nonEmpty && books(0).nonEmpty,
      "empty PQ codebooks — train with pqTrain before building or " +
        "probing an index store")
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    for (sub <- books; c <- sub; x <- c) mix(java.lang.Double.doubleToLongBits(x))
    f"ivfpq/v1/m${books.length}-k${books(0).length}/$h%016x"
  }

  /** Persisted IVF-PQ index — the durable form of [[pqIvfTopK]]'s
    * inline index, the vector-modality analogue of
    * [[graft.operators.Dedup.signatureStore]]: build ONCE, probe on
    * every future query batch without touching corpus floats.
    * Returns (index, centroids):
    *  - index: (cent_id, neighbor_id, codes, sig_algo) — persist
    *    with `Bucketing.writeBucketed(_, table, Seq("cent_id"), n)`
    *    so every probe join reads it EXCHANGE-FREE;
    *  - centroids: (cent_id, cent_v, cent_n, sig_algo) — the coarse
    *    router queries must use (tiny; persists alongside).
    * Both frames carry [[pqIndexAlgo]]'s codebook-generation tag;
    * [[pqIvfProbeIndex]] refuses stale or mixed stores. */
  def pqIndexStore(corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]],
      nCentroids: Int = AutoCentroids): (DataFrame, DataFrame) = {
    val tag = pqIndexAlgo(books)
    val cent = pqCoarseCentroids(corpus, idCol, vecCol,
      resolveCentroids(nCentroids, corpus))
    val index = pqCoarseAssign(corpus, idCol, vecCol, cent, 1)
      .select(col(idCol).as("neighbor_id"), col("cent_id"),
        pqCodes(col(vecCol), books).as("codes"))
      .withColumn("sig_algo", lit(tag))
    (index, cent.withColumn("sig_algo", lit(tag)))
  }

  /** Incremental maintenance of a persisted [[pqIndexStore]]: encode
    * an ingestion batch into index rows AGAINST THE STORE'S OWN
    * coarse centroids (re-deriving centroids from the batch would
    * silently split the index into incompatible routing spaces —
    * exactly the stale-generation failure, so the centroid frame's
    * tag is verified first) and append the result to the bucketed
    * index table. Union(store, appended) is bit-identical to a full
    * rebuild over the union corpus whenever the coarse centroids are
    * unchanged — the dd14 incremental contract for vectors. One
    * broadcast assign + one projection per batch: batch-sized cost,
    * corpus never rescanned; the same call runs unchanged on a
    * STREAMING frame (stateless projection + broadcast join), which
    * is where a production pipeline encodes at ingestion. */
  def pqIndexAppend(newVecs: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val tag = pqIndexAlgo(books)
    Dedup.requireSigAlgo(centroids, tag, "IVF-PQ centroid",
      "re-encode with pqIndexStore under the current codebooks")
    pqCoarseAssign(newVecs, idCol, vecCol,
        centroids.select("cent_id", "cent_v", "cent_n"), 1)
      .select(col(idCol).as("neighbor_id"), col("cent_id"),
        pqCodes(col(vecCol), books).as("codes"))
      .withColumn("sig_algo", lit(tag))
  }

  /** RTBF purge for a persisted IVF-PQ index — the deletion half of
    * the [[pqIndexStore]]/[[pqIndexAppend]] lifecycle (the m9 purge
    * applied to vector stores): drop `deletedIds`'s rows via a
    * broadcast anti join. Index rows are per-vector independent
    * (assignment and codes depend only on the vector and the frozen
    * centroids/codebooks), so purge-then-probe equals a rebuild over
    * the survivors — sim17 verifies the identity against the
    * brute-ADC oracle. Deletion lists (takedowns, GDPR requests) are
    * small by nature, hence the broadcast hint; only the purged
    * code rows rewrite, never a re-encode. */
  def pqIndexDelete(index: DataFrame, deletedIds: DataFrame): DataFrame = {
    require(deletedIds.columns.length == 1,
      s"deletedIds must be a single-id-column frame: " +
        deletedIds.columns.mkString(","))
    index.join(
      broadcast(deletedIds
        .select(col(deletedIds.columns(0)).as("neighbor_id")).distinct()),
      Seq("neighbor_id"), "left_anti")
  }

  /** Per-list occupancy of a persisted IVF index — the MERGEABLE
    * partial for skew monitoring: plain counts per cent_id, so
    * per-batch occupancy frames fold across appends/micro-batches by
    * summing. Joined against the centroid frame so lists that lost
    * every member (or never gained one) report 0 instead of
    * vanishing — an empty list is skew signal, not absence of data. */
  def ivfListOccupancy(index: DataFrame, centroids: DataFrame): DataFrame =
    centroids.select("cent_id")
      .join(index.groupBy("cent_id").agg(count(lit(1)).as("n_vectors")),
        Seq("cent_id"), "left")
      .na.fill(0L, Seq("n_vectors"))

  /** IVF list-skew report — the lifecycle monitor [[pqDriftStats]]
    * does NOT cover: codebook drift is about reconstruction error,
    * while appends that concentrate in a few coarse lists degrade
    * probe recall silently even with perfect codebooks (a probed
    * query reads nProbe lists; if 90% of the corpus sits in one
    * list, every query that doesn't route there misses 90% of the
    * candidates). One row: current vs training-baseline occupancy
    * concentration — max list share and Gini coefficient — and a
    * `recluster_flag` that fires when the max share exceeds
    * `tolerance` × the baseline's (multiplication, never division,
    * so the flag is exactly engine-replayable).
    *
    * Scale shape: both inputs are occupancy frames (≤ nCentroids
    * rows, the [[ivfListOccupancy]] partials), so the Gini self-join
    * is a bounded nCentroids² of LONGS — never touches index rows.
    * Re-clustering itself is [[pqIndexStore]] over the live corpus;
    * this monitor tells you WHEN that rebuild pays. */
  def ivfListSkewReport(occupancy: DataFrame, baselineOccupancy: DataFrame,
      tolerance: Double = 2.0): DataFrame = {
    require(tolerance > 0, s"tolerance must be positive: $tolerance")
    def stats(occ: DataFrame, msAs: String, giniAs: String): DataFrame = {
      val scalars = occ.agg(
        count(lit(1)).as("__l"),
        sum(col("n_vectors")).as("__n"),
        max(col("n_vectors")).as("__mx"))
      // both sides are ≤ nCentroids rows by construction — broadcast
      // the right side explicitly so the pairwise |ni−nj| sweep plans
      // as a bounded broadcast loop, never a shuffled CartesianProduct
      val sad = occ.select(col("n_vectors").as("__na"))
        .crossJoin(broadcast(occ.select(col("n_vectors").as("__nb"))))
        .agg(sum(abs(col("__na") - col("__nb"))).as("__sad"))
      scalars.crossJoin(sad).select(
        col("__l"), col("__n"),
        round(col("__mx").cast("double") / col("__n"), 6).as(msAs),
        round(col("__sad").cast("double") /
          (lit(2.0) * col("__l") * col("__n")), 6).as(giniAs))
    }
    val cur = stats(occupancy, "max_share", "gini")
    val base = stats(baselineOccupancy, "baseline_max_share", "baseline_gini")
      .select("baseline_max_share", "baseline_gini")
    cur.crossJoin(base).select(
      col("__l").as("n_lists"), col("__n").as("n_vectors"),
      col("max_share"), col("gini"),
      col("baseline_max_share"), col("baseline_gini"),
      (col("max_share") > lit(tolerance) * col("baseline_max_share"))
        .as("recluster_flag"))
  }

  /** Streaming-safe [[pqIndexAppend]]: the store's coarse centroids
    * are collected into LITERAL arrays (bounded by construction —
    * the same collect class as the codebooks themselves), so the
    * top-1 assignment becomes a pure row-local argmax expression
    * (array_max over (sim, −cent_id) structs — max sim, ties to the
    * smallest cent_id, exactly the batch window's order) instead of
    * a window — no shuffle, no state, and the SAME call runs
    * unchanged on a streaming ingestion frame (st17). Batch-equal by
    * construction: the sim tree is the batch form dot/(|v|·cent_n)
    * with cent_n read from the store, and zero-norm vectors are
    * dropped before the division exactly as the batch assign does.
    * Numeric ids only (the argmax literal negates them); cent_id is
    * emitted as LONG — unionByName with an int-id store widens. */
  def pqIndexAppendOnline(newVecs: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val tag = pqIndexAlgo(books)
    Dedup.requireSigAlgo(centroids, tag, "IVF-PQ centroid",
      "re-encode with pqIndexStore under the current codebooks")
    val cents = centroids.select("cent_id", "cent_v", "cent_n").collect()
      .map { r =>
        // the (sim, -cent_id) argmax literal needs a numeric id; the
        // batch [[pqIndexAppend]] window path has no such constraint
        val cid = r.get(0) match {
          case n: java.lang.Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"pqIndexAppendOnline needs a numeric id column for its " +
              s"literal argmax tie-break; got '$other' — use the batch " +
              "pqIndexAppend for non-numeric ids")
        }
        (cid,
          // exact widening only — a toString round-trip would re-parse
          // the float's shortest decimal as a DIFFERENT double
          r.getSeq[Any](1).map {
            case f: java.lang.Float => f.toDouble
            case d: java.lang.Double => d.doubleValue()
            case x: java.lang.Number => x.doubleValue()
          }.toArray,
          r.getDouble(2))
      }
      .filter(_._3 > 0)
    require(cents.nonEmpty, "centroid store has no nonzero-norm rows")
    val v = col(vecCol)
    val n = l2norm(v)
    val entries = cents.map { case (cid, cv, cn) =>
      struct((dot(v, array(cv.map(lit).toIndexedSeq: _*)) / (n * lit(cn)))
        .as("sim"), lit(-cid).as("nc"))
    }
    val centId = -array_max(array(entries.toIndexedSeq: _*)).getField("nc")
    newVecs.filter(n > 0)
      .select(col(idCol).as("neighbor_id"), centId.as("cent_id"),
        pqCodes(v, books).as("codes"))
      .withColumn("sig_algo", lit(tag))
  }

  /** Probe a persisted [[pqIndexStore]]: verifies both frames carry
    * the probing codebooks' generation tag (one bounded min/max/count
    * aggregation each — [[graft.operators.Dedup.requireSigAlgo]]),
    * then runs the shared probe/ADC/rank stage. With the store built
    * from the same corpus/books/nCentroids and `nProbe ==
    * nCentroids`, output is bit-identical to [[pqIvfTopK]] (sim10's
    * oracle re-verifies it through sim15). */
  def pqIvfProbeIndex(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]], k: Int,
      nProbe: Int = 4): DataFrame = {
    val tag = pqIndexAlgo(books)
    Dedup.requireSigAlgo(index, tag, "IVF-PQ index",
      "re-encode with pqIndexStore under the current codebooks")
    // the guard's row count IS the store's centroid count, so the
    // full-probe configuration (nProbe >= that count) plans as the
    // zero-exchange broadcast fan-out pqIvfTopK gets, instead of the
    // window shuffle
    val nCent = Dedup.requireSigAlgo(centroids, tag, "IVF-PQ centroid",
      "re-encode with pqIndexStore under the current codebooks")
    pqProbeRank(queries, index,
      centroids.select("cent_id", "cent_v", "cent_n"),
      idCol, vecCol, books, k, nProbe, nCent.toInt)
  }

  /** IVF over int8-quantized vectors — [[ivfTopK]]'s centroid probe
    * composed with [[quantize]]'s payload: the memory-bound form a
    * 100 TB ANN index actually ships (4× smaller corpus partitions,
    * 4× less probe shuffle). The per-vector symmetric scale CANCELS
    * in cosine — dot(s·q, s'·c) / (|s·q|·|s'·c|) = dot(q, c) /
    * (|q|·|c|) — so ranking needs only the int8 arrays; scales are
    * never shuffled and reconstruction stays available via
    * [[dequantize]] for a full-precision re-rank of the top
    * candidates. Integer dot products accumulate exactly in the
    * double codegen kernel (|sum| ≪ 2^53), so full-probe results are
    * bit-identical to brute force over the quantized vectors — the
    * oracle-verified configuration. Ranking differs from the
    * float-vector [[ivfTopK]] only by quantization noise.
    */
  def ivfTopKQuantized(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4): DataFrame = {
    val (qv, _) = quantize(col(vecCol))
    val q = queries.select(col(idCol), qv.as("__qvec"))
    val c = corpus.select(col(idCol), qv.as("__qvec"))
    ivfTopK(q, c, idCol, "__qvec", k, nCentroids, nProbe)
  }

  /** Recommended coarse-centroid count for an IVF stage over `n`
    * vectors: ~sqrt(n), floored at 16 (the fixture default). The cost
    * model that makes this load-bearing: a probe stage evaluates
    * `nProbe * n / nCentroids` candidates PER QUERY, so a FIXED
    * centroid count turns all-queries mining quadratic in corpus
    * size — the r12 scale probe measured exactly that (mine2 at
    * fixed c=16: fitted exponent 1.29 at 20k vectors and climbing
    * toward 2). c ≈ sqrt(n) balances the assignment term (n·c
    * distance evals) against the probe term (q·nProbe·n/c), the
    * standard IVF sizing (the published FAISS guideline is
    * sqrt(n)–4·sqrt(n)), and bounds all-pairs mining at ~n^1.5 total
    * work — the accepted ANN trade. The remaining 100 TB lever is
    * batching the query side; per-batch cost is then linear in n. */
  def ivfCentroidsFor(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Sentinel default for every IVF/PQ `nCentroids` parameter:
    * auto-size the coarse centroid count from the corpus via
    * [[ivfCentroidsFor]]. The r12 scale probe proved that any FIXED
    * default turns all-queries mining quadratic in corpus size
    * (candidate pairs ∝ n²/c), so auto-sizing is what a default
    * caller at 100× scale must get; curated queries pin explicit
    * counts so oracle results stay byte-stable. */
  val AutoCentroids: Int = -1

  /** Resolve a caller's centroid count: [[AutoCentroids]] auto-sizes
    * from the corpus row count (one count() job — callers building a
    * persisted index already pay it; interactive callers can cache
    * the corpus or pass an explicit count-derived value to amortize);
    * explicit positive values pass through unchanged. */
  private[graft] def resolveCentroids(nCentroids: Int,
      corpus: DataFrame): Int =
    if (nCentroids == AutoCentroids) ivfCentroidsFor(corpus.count())
    else nCentroids

  /** IVF approximate top-k. Centroids are the `nCentroids`
    * smallest-id corpus vectors (deterministic; at full probe the
    * verification mode). Each corpus vector is assigned to its
    * nearest centroid (broadcast join: centroids are tiny). Queries
    * probe the `nProbe` nearest centroid lists. This is the 100 TB
    * layout: one broadcast-join assignment pass, shuffle-on-centroid
    * probes.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4): DataFrame = {
    val scored = ivfCandidatePairs(queries, corpus, idCol, vecCol,
        nCentroids, nProbe)
      .filter(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Nearest-centroid assignment against a broadcast centroid frame
    * (cent_id, cent_v, cent_n) — the shared stage of every IVF/PQ
    * operator. Emits each input row's `topN` nearest centroids by
    * cosine (ties to the smallest cent_id):
    * (idCol, vecCol, n, cent_id, extra_out...).
    *
    * Plan shape by topN (guide §2/§3: same rows, less shuffle):
    *  - `topN >= nCent` (full probe): every nonzero-norm centroid is
    *    kept, so ranking is the identity — pure broadcast fan-out,
    *    ZERO exchanges (the window form shuffled and sorted all n·c
    *    candidate rows, vector payloads included, to rank candidates
    *    it then kept in full).
    *  - `topN == 1` (corpus-side assignment): argmax via one
    *    map-combined min(struct(-sim, cent_id, payload)) aggregate —
    *    the exchange carries ONE row per id instead of all c candidate
    *    copies of the vector, and there is no sort. min on (-sim,
    *    cent_id) is exactly the window's (sim DESC, cent_id ASC)
    *    order; cent_id is unique within a group, so the payload
    *    fields never participate in the comparison.
    *  - otherwise: the window rank (reduced multi-probe — query-side
    *    only, small by construction; pass nCent <= 0 when unknown).
    */
  private def centroidAssign(df: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, topN: Int, nCent: Int,
      extra: Seq[(String, String)]): DataFrame = {
    val keep = Seq(col(idCol), col(vecCol)) ++ extra.map(e => col(e._1))
    // only finite nonzero norms take part: a NaN or ±Inf element
    // makes l2norm NaN or +Inf and every sim NaN, which would rank
    // FIRST in the window branch (sim DESC, NaN greatest) but LAST in
    // the top-1 argmax (min of -sim) — the branches must see the same
    // candidate set. Spark orders NaN above +Inf, so `< +Inf` drops
    // both.
    def finiteNonZero(n: Column): Column = n > 0 && n < Double.PositiveInfinity
    val scored = df.select(keep: _*)
      .withColumn("n", l2norm(col(vecCol)))
      .filter(finiteNonZero(col("n")))
      .crossJoin(broadcast(cent))
      .filter(finiteNonZero(col("cent_n")))
      .withColumn("sim",
        dot(col(vecCol), col("cent_v")) / (col("n") * col("cent_n")))
    val out = Seq(col(idCol), col(vecCol), col("n"), col("cent_id")) ++
      extra.map { case (src, o) => col(src).as(o) }
    if (nCent > 0 && topN >= nCent) {
      scored.select(out: _*)
    } else if (topN == 1) {
      val payload =
        Seq((-col("sim")).as("__ns"), col("cent_id").as("cent_id"),
          col(vecCol).as("__v"), col("n").as("__n")) ++
          extra.zipWithIndex.map { case ((src, _), i) => col(src).as(s"__e$i") }
      scored.groupBy(col(idCol))
        .agg(min(struct(payload: _*)).as("__m"))
        .select(Seq(col(idCol), col("__m.__v").as(vecCol),
          col("__m.__n").as("n"), col("__m.cent_id").as("cent_id")) ++
          extra.zipWithIndex.map { case ((_, o), i) =>
            col(s"__m.__e$i").as(o) }: _*)
    } else {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("sim").desc, col("cent_id").asc)
      scored.withColumn("r", row_number().over(w)).filter(col("r") <= topN)
        .select(out: _*)
    }
  }

  /** IVF candidate generation — [[ivfTopK]]'s probe stage factored
    * into the reusable candidate generator the mining operators
    * compose with ([[bitextMarginPairsIvf]], [[hardNegativesIvf]],
    * [[maxSimTopKIvf]]). Corpus vectors are assigned to their nearest
    * centroid (broadcast join — centroids are tiny); each query
    * probes its `nProbe` nearest centroid lists; the probe join
    * shuffles on cent_id only. Emits one row per candidate pair:
    * (query_id, neighbor_id, cosine) plus any passthrough columns
    * requested via `queryCols` / `corpusCols` (source-name →
    * output-name, so both sides can carry a same-named column).
    *
    * Pairs are unique without a dedup pass: a corpus vector lives in
    * exactly ONE centroid list, so even an `nProbe`-way query fan-out
    * never produces the same (query, neighbor) twice. Zero-norm
    * vectors are dropped before any division (0/0 throws under ANSI
    * mode and would rank FIRST as NaN with ANSI off). Self-pairs are
    * NOT excluded here — exclusion policy belongs to the consumer
    * (top-k drops self-id, hard negatives drops same-label, bitext
    * keeps everything).
    *
    * At `nProbe == nCentroids` the candidate set is the full
    * bipartite product of nonzero-norm rows — each composed operator
    * at full probe is bit-identical to its exact yardstick (the sim2/
    * sim6/sim11 verification pattern); reduced probe is the scale
    * path, recall priced in PERF.md. */
  def ivfCandidatePairs(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4,
      queryCols: Seq[(String, String)] = Nil,
      corpusCols: Seq[(String, String)] = Nil): DataFrame = {
    val nCent = resolveCentroids(nCentroids, corpus)
    require(nCent >= 1 && nProbe >= 1 && nProbe <= nCent,
      s"need 1 <= nProbe <= nCentroids: nProbe=$nProbe nCentroids=$nCent")
    // the PQ family's coarse frame: one definition keeps the "same
    // coarse quantizer" equivalence between IVF and PQ operators
    val cent = pqCoarseCentroids(corpus, idCol, vecCol, nCent)

    def assign(df: DataFrame, topN: Int,
        extra: Seq[(String, String)]): DataFrame =
      centroidAssign(df, idCol, vecCol, cent, topN, nCent, extra)

    val corpusAssigned = assign(corpus, 1, corpusCols)
      .withColumnsRenamed(Map(idCol -> "neighbor_id", vecCol -> "cv", "n" -> "cn"))
    val queryProbes = assign(queries, nProbe, queryCols)
      .withColumnsRenamed(Map(idCol -> "query_id", vecCol -> "qv", "n" -> "qn"))

    queryProbes.join(corpusAssigned, "cent_id")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(Seq(col("query_id"), col("neighbor_id"), col("cosine")) ++
        queryCols.map(e => col(e._2)) ++ corpusCols.map(e => col(e._2)): _*)
  }

  /** Margin-based bitext mining (the ratio-margin rule of
    * Artetxe & Schwenk 2019) — the operator that extracts parallel
    * translation pairs from two monolingual embedding spaces, the
    * data source behind large multilingual training corpora. Raw
    * cosine is a poor mining signal (hubness: some vectors are close
    * to everything), so each candidate is scored by its cosine
    * RELATIVE to both endpoints' neighborhoods:
    *
    *   margin(x, y) = 2·cos(x, y) / (kavg(x) + kavg(y))
    *
    * with kavg = mean cosine of the endpoint's k nearest cross-side
    * neighbors. Emitted pairs are MUTUAL best matches (y is x's
    * best target and x is y's best source — the deterministic
    * argmax, ties by id) with margin >= `marginThreshold`.
    *
    * This is the exact/yardstick form (full cross scoring, like
    * [[bruteForceTopK]]); at corpus scale generate candidates with
    * [[ivfTopK]]'s centroid probe per side and apply the same
    * margin/mutual logic to the probed pairs. The k-NN means fold
    * rank-ordered cosine lists (sort_array of (rank, cos) structs),
    * so the double tree is reproducible and SQL-mirrorable — the
    * same ordered-fold discipline the entropy/PCA oracles use. */
  def bitextMarginPairs(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int = 4,
      marginThreshold: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("sv"),
      l2norm(col(vecCol)).as("sn")).filter(col("sn") > 0)
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("tv"),
      l2norm(col(vecCol)).as("tn")).filter(col("tn") > 0)
    val scored = s.crossJoin(t)
      .withColumn("cos", dot(col("sv"), col("tv")) / (col("sn") * col("tn")))
      .select("src_id", "tgt_id", "cos")
    marginMutualBest(scored, k, marginThreshold)
  }

  /** The margin/mutual-best stage shared by [[bitextMarginPairs]]
    * (exact pair set) and [[bitextMarginPairsIvf]] (probed pair set):
    * bidirectional ranks, rank-ordered-fold k-NN means, ratio margin
    * on mutual argmax pairs. Input: (src_id, tgt_id, cos). */
  private def marginMutualBest(scored: DataFrame, k: Int,
      marginThreshold: Double): DataFrame = {
    val wf = Window.partitionBy("src_id").orderBy(col("cos").desc, col("tgt_id").asc)
    val wb = Window.partitionBy("tgt_id").orderBy(col("cos").desc, col("src_id").asc)
    // `ranked` feeds THREE consumers (two kavg aggregates + the
    // mutual-best filter); without materialization each consumer
    // re-runs the full candidate scoring and both rank windows — 3×
    // the dominant cost (mine2's r14 before-plan: 90 Exchanges, the
    // IVF probe stage appearing 6×). localCheckpoint is bounded by
    // the candidate frame, which each window shuffle already
    // materializes in full anyway.
    val ranked = scored
      .withColumn("rf", row_number().over(wf))
      .withColumn("rb", row_number().over(wb))
      // lazy: building the plan (explain/PlanDump) must not execute
      // the candidate scoring; the first action materializes it once
      // and all three consumers reuse it (r15, advisor note)
      .localCheckpoint(eager = false)
    // rank-ordered fold: sum the top-k cosines smallest-rank-first,
    // so the accumulation order is pinned on both engines
    def kavg(keyCol: String, rankCol: String) = ranked
      .filter(col(rankCol) <= k)
      .groupBy(keyCol)
      .agg(sort_array(collect_list(struct(col(rankCol).as("r"), col("cos").as("c"))))
        .as("top"))
      .select(col(keyCol),
        (aggregate(col("top"), lit(0.0), (a, x) => a + x.getField("c"))
          / size(col("top"))).as(s"kavg_$keyCol"))
    val mutualBest = ranked.filter(col("rf") === 1 && col("rb") === 1)
    mutualBest
      .join(kavg("src_id", "rf"), "src_id")
      .join(kavg("tgt_id", "rb"), "tgt_id")
      .withColumn("margin",
        col("cos") * 2.0 / (col("kavg_src_id") + col("kavg_tgt_id")))
      .filter(col("margin") >= marginThreshold)
      .select(col("src_id"), col("tgt_id"),
        round(col("cos"), 6).as("cosine"), round(col("margin"), 6).as("margin"))
  }

  /** Candidate-probed bitext mining — [[bitextMarginPairs]] with the
    * full cross scoring replaced by [[ivfCandidatePairs]] probes run
    * in BOTH directions (src queries tgt's centroid lists AND tgt
    * queries src's — the backward probe is what gives tgt-side ranks
    * and k-NN means their own neighborhoods at reduced probe, exactly
    * as Artetxe & Schwenk mine over approximate bidirectional k-NN).
    * The union is deduped with a per-pair max — the two directions
    * compute bit-identical cosines (the dot kernel folds positions in
    * array order and IEEE multiplication commutes), so max is just
    * dedup, not a choice. Downstream margin/mutual-best logic is the
    * shared [[marginMutualBest]], so at `nProbe == nCentroids` the
    * output is bit-identical to the exact yardstick (mine1's oracle
    * re-verifies it); at reduced probe only candidate generation —
    * two broadcast assigns + two cent_id-shuffled joins, never a
    * cross product — touches the corpora. This is the 100 TB mining
    * path. */
  def bitextMarginPairsIvf(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, marginThreshold: Double = 1.0,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val fwd = ivfCandidatePairs(src, tgt, idCol, vecCol, nCentroids, nProbe)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cosine").as("cos"))
    val bwd = ivfCandidatePairs(tgt, src, idCol, vecCol, nCentroids, nProbe)
      .select(col("neighbor_id").as("src_id"), col("query_id").as("tgt_id"),
        col("cosine").as("cos"))
    val cand = fwd.unionByName(bwd)
      .groupBy("src_id", "tgt_id").agg(max(col("cos")).as("cos"))
    marginMutualBest(cand, k, marginThreshold)
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the k most-similar corpus vectors with a DIFFERENT
    * label — the near-misses that actually move a metric-learning
    * loss (random negatives are trivially separated after epoch
    * one). Exhaustive scoring with the label exclusion applied
    * before ranking, so a query whose entire neighborhood shares
    * its label still gets k true negatives rather than an empty
    * set. This is the exact/yardstick form (like
    * [[bruteForceTopK]]); at corpus scale swap the candidate stage
    * for [[ivfTopK]]'s probe join with `nProbe` raised enough to
    * survive the label filter, same downstream shape. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("q_label"), l2norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("n_label"), l2norm(col(vecCol)).as("cn"))
    val scored = q.crossJoin(c)
      .filter(col("q_label") =!= col("n_label"))
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    hardNegativeRank(scored, k)
  }

  /** Rank stage shared by [[hardNegatives]] and [[hardNegativesIvf]]:
    * per-query top-k by cosine over already-label-filtered pairs.
    * Input: (query_id, neighbor_id, n_label, cosine). */
  private def hardNegativeRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "n_label", "rank")
  }

  /** Candidate-probed hard-negative mining — [[hardNegatives]] with
    * the exhaustive scoring replaced by [[ivfCandidatePairs]]; the
    * label exclusion applies to the PROBED pairs before ranking.
    * At `nProbe == nCentroids` output is bit-identical to the exact
    * yardstick (sim7's oracle re-verifies it). At reduced probe,
    * raise `nProbe` enough to survive the label filter: a query
    * whose probed centroid lists are label-homogeneous yields fewer
    * than k negatives where the exact form would fill from farther
    * lists — recall vs probe fraction is priced in PERF.md. This is
    * the corpus-scale mining path: two broadcast assigns plus one
    * cent_id-shuffled join, no cross product. */
  def hardNegativesIvf(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      nCentroids: Int = AutoCentroids, nProbe: Int = 4): DataFrame = {
    val cand = ivfCandidatePairs(queries, corpus, idCol, vecCol,
      nCentroids, nProbe,
      queryCols = Seq(labelCol -> "q_label"),
      corpusCols = Seq(labelCol -> "n_label"))
    hardNegativeRank(cand.filter(col("q_label") =!= col("n_label")), k)
  }

  /** Element-wise mean pooling per group — chunk embeddings back to
    * a document vector, member embeddings to a class centroid.
    * Output is (group, pos, mean_val) rows: posexplode turns each
    * vector into (position, value) pairs and ONE map-combined
    * aggregate averages them — group count is unbounded, no row ever
    * holds a whole group (the collect_list-then-fold alternative
    * does, and dies on the one viral group). Rounded to keep the
    * float-sum engine-comparable. */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos").cast("long").as("pos"))
      .agg(round(avg("v"), 4).as("mean_val"))

  /** PCA projection of an embedding column onto its top-`k` principal
    * components — the dimensionality reduction SemDeDup-style
    * pipelines run before clustering, and the 2-D map every embedding
    * dashboard draws.
    *
    * Scale shape, stage by stage:
    *  1. second moments: vectors quantize to integers (`quantScale`)
    *     and one `treeAggregate` folds (n, Σq, Σqqᵀ upper triangle)
    *     into a single fixed-size Long array — exact integer sums,
    *     order-independent, d(d+3)/2 + 1 counters regardless of row
    *     count (d ≤ 512 enforced: the accumulator is d², the reason
    *     for the bound).
    *  2. eigensolve: deflated power iteration on the d×d covariance,
    *     ON THE DRIVER — the matrix is d², data-size-independent, the
    *     same bounded-driver-state rule as the ≤`buckets` collects
    *     elsewhere. Deterministic: fixed uniform init, fixed iteration
    *     count, sign fixed by the largest-|loading| entry.
    *  3. projection: components broadcast as literals, each output
    *     coordinate is one codegen `DotProduct` minus the precomputed
    *     mean offset — row-local, shuffle-free.
    *
    * Returns (idCol, pc1..pck) in ORIGINAL units (quantization only
    * disciplines the sums; means/covariance are rescaled back).
    * Probabilistic-free but not SQL-replayable (the eigensolve) →
    * rows-only oracle; the spec pins variance/orthonormality
    * properties instead. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, k: Int = 2,
      quantScale: Double = 1024.0, powerIters: Int = 200): DataFrame = {
    val (mean, comps, _) = pcaModel(df, vecCol, k, quantScale, powerIters)
    val dim = mean.length
    val projCols = (0 until k).map { c =>
      val comp = typedLit(comps(c).toSeq)
      val meanDot = (0 until dim).map(i => mean(i) * comps(c)(i)).sum
      (graft.functions.VectorExpressions.dot_product(col(vecCol), comp)
        - lit(meanDot)).as(s"pc${c + 1}")
    }
    df.select(col(idCol) +: projCols: _*)
  }

  /** The fitted model behind [[pcaProject]]: (mean, components,
    * eigenvalues) — exposed for composition and spec-level variance
    * accounting. */
  private[graft] def pcaModel(df: DataFrame, vecCol: String, k: Int,
      quantScale: Double = 1024.0, powerIters: Int = 200)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    val dim = firstVectorDim(df, vecCol)
    require(dim >= 1 && dim <= 512, s"pcaProject supports dim <= 512: $dim")
    require(k >= 1 && k <= dim, s"k must be in [1, $dim]: $k")
    val nPairs = dim * (dim + 1) / 2
    val qdf = df.select(
      transform(col(vecCol), x => round(x * quantScale).cast("long")).as("q"))
    // [n, s_0..s_{d-1}, upper-triangle products row-major]
    val zero = new Array[Long](1 + dim + nPairs)
    val acc = qdf.rdd.treeAggregate(zero)(
      seqOp = (a, row) => {
        val q = row.getSeq[Long](0)
        // loud validation: a null or ragged embedding would otherwise
        // surface as a bare executor NPE/IndexOutOfBounds
        require(q != null, "pcaProject: null embedding row")
        require(q.length == dim,
          s"pcaProject: ragged embedding (dim ${q.length}, expected $dim)")
        a(0) += 1L
        var i = 0; var off = 1 + dim
        while (i < dim) {
          val qi = q(i)
          a(1 + i) += qi
          var j = i
          while (j < dim) { a(off) += qi * q(j); off += 1; j += 1 }
          i += 1
        }
        a
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    val n = acc(0).toDouble
    require(n >= 2, "pcaProject needs at least two vectors")
    val s2 = quantScale * quantScale
    val mean = Array.tabulate(dim)(i => acc(1 + i) / n / quantScale)
    val cov = Array.ofDim[Double](dim, dim)
    var off = 1 + dim
    for (i <- 0 until dim; j <- i until dim) {
      val c = (acc(off) - acc(1 + i).toDouble * acc(1 + j) / n) / n / s2
      cov(i)(j) = c; cov(j)(i) = c; off += 1
    }
    // deflated power iteration, deterministic
    def eig(m: Array[Array[Double]]): (Double, Array[Double]) = {
      // deterministic PSEUDO-RANDOM init (Knuth LCG), not uniform: a
      // symmetric/uniform start can be exactly orthogonal to an
      // eigenvector, and power iteration never recovers a component
      // it starts with zero overlap on
      var v = Array.tabulate(dim)(i =>
        ((i + 1) * 2654435761L % 4294967296L) / 4294967296.0 - 0.5)
      val n0 = math.sqrt(v.map(x => x * x).sum)
      v = v.map(_ / n0)
      for (_ <- 1 to powerIters) {
        val w = Array.tabulate(dim)(i => {
          var s = 0.0; var j = 0
          while (j < dim) { s += m(i)(j) * v(j); j += 1 }; s
        })
        val nrm = math.sqrt(w.map(x => x * x).sum)
        if (nrm > 0) v = w.map(_ / nrm)
      }
      val lambda = (0 until dim).map(i =>
        v(i) * (0 until dim).map(j => m(i)(j) * v(j)).sum).sum
      // sign convention: the largest-|loading| coordinate is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val sgn = if (v(pivot) < 0) -1.0 else 1.0
      (lambda, v.map(_ * sgn))
    }
    val comps = new Array[Array[Double]](k)
    val lambdas = new Array[Double](k)
    var m = cov.map(_.clone())
    for (c <- 0 until k) {
      val (l, v) = eig(m)
      comps(c) = v; lambdas(c) = l
      m = Array.tabulate(dim, dim)((i, j) => m(i)(j) - l * v(i) * v(j))
    }
    (mean, comps, lambdas)
  }

  // ------------------------------------------------ binary (sign) quantization

  /** Sign-bit binary quantization of a vector column: bit `j` of
    * word `w` is set iff coordinate `32*w + j` is strictly positive,
    * packed into `ceil(dim/32)` longs (32 bits per word keeps every
    * word non-negative — no two's-complement edge to reason about on
    * any engine). A 64-dim float vector (256 bytes) compresses to 2
    * longs (16 bytes): 16x less scan and shuffle for the filter
    * stage of [[binarySignTopK]].
    *
    * Unlike the hyperplane signatures ([[bandedHyperplaneSignatures]])
    * there is NO arithmetic here — each bit is one float comparison
    * against zero — so the packed words are bit-reproducible on any
    * engine that reads the same floats, and distances computed from
    * them are exactly verifiable (the dd3 simhash property, applied
    * to embeddings). The price is fixed directions: sign-of-coordinate
    * is the standard "binary quantization" of vector stores, good when
    * coordinates are roughly centered; hyperplanes adapt to any
    * distribution but cost a replayable-in-SQL guarantee. */
  def binarySign(vec: Column, dim: Int): Column = {
    require(dim >= 1, s"need dim >= 1: $dim")
    array((0 until (dim + 31) / 32).map { w =>
      (0 until math.min(32, dim - w * 32)).map { j =>
        when(element_at(vec, w * 32 + j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }: _*)
  }

  /** Hamming distance between two packed sign-bit signatures
    * (`array<long>` of equal length): sum of `bit_count(xor)` per
    * word. Pure integer codegen. */
  def packedHamming(a: Column, b: Column, words: Int): Column =
    (0 until words).map(i =>
      bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1))))
      .reduce(_ + _)

  /** Two-stage ANN with binary prefilter: Hamming top-`candidates`
    * over sign-bit signatures, then exact-cosine rerank to top-`k` —
    * (query_id, neighbor_id, hamming, rank). Ties break by neighbor
    * id at both stages; zero-norm corpus rows are droppable only at
    * rerank (a signature always exists), mirroring [[bruteForceTopK]]'s
    * ANSI-safe guard.
    *
    * Scale shape: stage 1 touches ONLY the 16-byte signature
    * projection of the corpus — the float vectors never scan, never
    * shuffle — against a broadcast of the query signatures; Spark
    * ranks it with a per-partition group limit (WindowGroupLimit), so
    * each map task forwards at most `candidates` rows per query.
    * Stage 2 rejoins the |Q| x `candidates` survivors (corpus-size-
    * free) to their full vectors for the exact rerank. At 100 TB the
    * corpus pass is the 16x-smaller signature scan; everything
    * downstream is proportional to the candidate set. */
  def binarySignTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"need candidates >= k: $candidates < $k")
    val dim = firstVectorDim(corpus, vecCol)
    val words = (dim + 31) / 32
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2norm(col(vecCol)).as("qn"), binarySign(col(vecCol), dim).as("qsig"))
    val csig = corpus.select(col(idCol).as("neighbor_id"),
      binarySign(col(vecCol), dim).as("csig"))
    val wH = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val cand = broadcast(q.select("query_id", "qsig")).crossJoin(csig)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", packedHamming(col("qsig"), col("csig"), words))
      .withColumn("h_rank", row_number().over(wH))
      .filter(col("h_rank") <= candidates)
      .select("query_id", "neighbor_id", "hamming")
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2norm(col(vecCol)).as("cn"))
    val wC = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.join(cv, Seq("neighbor_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "hamming", "rank")
  }

  /** Per-dimension z-score standardization of an embedding column —
    * the feature-preprocessing step before distance-based ops when
    * dimensions carry different scales. Inputs quantize to integers
    * (round(v·quantScale)) so the per-dimension moment sums are
    * EXACT longs (order-independent); mean and population std derive
    * from those scalars in a fixed double tree and each output value
    * is (q − mean)/std — engine-replayable like [[jlProject]].
    * Constant dimensions (std = 0) emit NULL rather than an ANSI
    * divide fault. Output long-format: (idCol, dim, z).
    *
    * Scale shape: one posexplode + ONE map-side-combined aggregate
    * to `dim` counter rows, broadcast back over the exploded frame —
    * no window, no driver math beyond none. */
  def standardize(df: DataFrame, idCol: String, vecCol: String,
      quantScale: Long = 10000L): DataFrame = {
    require(quantScale >= 1, s"quantScale: $quantScale")
    val q = df.select(col(idCol),
      posexplode(transform(col(vecCol),
        v => round(v.cast("double") * quantScale).cast("long")))
        .as(Seq("dim", "__q")))
    val stats = q.groupBy("dim").agg(
      count(lit(1)).as("__n"),
      sum("__q").as("__s"),
      sum(col("__q") * col("__q")).as("__ss"))
    val mean = col("__s").cast("double") / col("__n").cast("double")
    val variance = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") /
        col("__n").cast("double")) / col("__n").cast("double")
    q.join(broadcast(stats), "dim")
      .select(col(idCol), col("dim"),
        when(variance > 0.0,
          round((col("__q").cast("double") - mean) / sqrt(variance), 6))
          .as("z"))
  }

  /** Recall@k evaluation of an approximate neighbor frame against an
    * exact one — the harness every ANN probe in PERF.md computes ad
    * hoc, as a first-class operator. Both inputs are the
    * (query_id, neighbor_id, rank) shape every top-k operator here
    * emits; per query: |approx ∩ exact| over the two rank ≤ k
    * prefixes, divided by |exact| (the denominator an approximate
    * index must recover). Queries the approx frame missed entirely
    * score 0 — the left join keeps them; queries absent from EXACT
    * are undefined and absent.
    *
    * Scale shape: two rank filters, one (query, neighbor)-keyed
    * equi-join, one groupBy — all over RESULT frames (|Q|·k rows),
    * never the corpus. */
  def annRecall(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val ex = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val ap = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall"))
  }

  /** Johnson–Lindenstrauss sign-random projection `inDim` → `outDim`
    * (Achlioptas ±1 variant): out_j = Σ_i sign(j,i)·v_i / √outDim,
    * the standard dimensionality-reduction pre-stage for ANN — JL
    * guarantees pairwise distances distort by at most (1 ± ε) for
    * outDim = O(ln n / ε²), independent of inDim.
    *
    * Determinism/portability contract: the sign matrix is a pure
    * function of (seed, j, i) — parity of the first hex char of
    * md5("seed:j:i") — computed ON THE DRIVER (it is data-independent)
    * and embedded as literal arrays, so any engine can regenerate it;
    * inputs are quantized to integers (round(v · quantScale)), each
    * out_j is then an EXACT integer sum (order-independent), and the
    * only float ops are the final divide by quantScale·√outDim and a
    * round(,6) — both fixed single IEEE ops, so the sf oracle replays
    * the projection bit-for-bit.
    *
    * Scale shape: one shuffle-free codegen projection — outDim native
    * [[graft.functions.VectorExpressions.DotProduct]] kernels against
    * broadcast-free literal sign rows; O(inDim · outDim) work per row,
    * no row blowup (the (row × i × j) explode formulation would
    * multiply the corpus 1024×).
    *
    * Output: (idCol, dim, value) long-format — one row per projected
    * coordinate. */
  def jlProject(df: DataFrame, idCol: String, vecCol: String, inDim: Int,
      outDim: Int = 16, seed: String = "graft",
      quantScale: Long = 10000L): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"dims: $inDim -> $outDim")
    require(quantScale >= 1, s"quantScale: $quantScale")
    val signs: Array[Array[Double]] = Array.tabulate(outDim, inDim) { (j, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
    val q = transform(col(vecCol), v =>
      round(v.cast("double") * quantScale))
    val divisor = quantScale.toDouble * math.sqrt(outDim.toDouble)
    val proj = signs.map { row =>
      graft.functions.VectorExpressions.dot_product(q, typedlit(row.toSeq))
    }
    df.select(col(idCol), posexplode(array(proj.toIndexedSeq: _*)))
      .select(col(idCol), col("pos").as("dim"),
        round(col("col") / divisor, 6).as("value"))
  }
}
