package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

import Fixtures._
import OracleCtes._

/** Queries: beyond-parity: similarity search. */
object SimilarityQ extends Family {

  // late-interaction retrieval: vectors grouped into pseudo-docs of
  // 10 chunks; doc score = max chunk cosine, winning chunk emitted
  val sim8 = Q("sim8_maxsim_topk", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.maxSimTopK(e.filter("vec_id < 5"),
      e.withColumn("doc_id", expr("vec_id DIV 10")),
      "vec_id", "embedding", "doc_id", 5)
  },
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i] * embedding[i]))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id // 10 AS doc_id,
      |         c.vec_id AS chunk_id,
      |         list_sum(list_transform(range(1, 65), i -> q.embedding[i] * c.embedding[i]))
      |           / (q.nrm * c.nrm) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 5),
      |agg AS (
      |  SELECT query_id, doc_id, max(cosine) AS mc FROM scored GROUP BY 1, 2),
      |best AS (
      |  SELECT s.query_id, s.doc_id, a.mc, min(s.chunk_id) AS best_chunk
      |  FROM scored s JOIN agg a
      |    ON s.query_id = a.query_id AND s.doc_id = a.doc_id
      |   AND s.cosine = a.mc
      |  GROUP BY s.query_id, s.doc_id, a.mc),
      |ranked AS (
      |  SELECT query_id, doc_id, best_chunk,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY mc DESC, doc_id ASC) AS rank
      |  FROM best)
      |SELECT query_id, doc_id, best_chunk, rank FROM ranked
      |WHERE rank <= 5""".stripMargin)

  // embedding-space decontamination: train vectors too close to ANY
  // eval vector flagged with their best eval match — catches the
  // paraphrased benchmark leakage gram overlap (dd8/dd10) misses
  Q("dd24_semantic_decontamination", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.semanticDecontaminate(
      e.filter(col("vec_id") >= 50), e.filter(col("vec_id") < 50),
      "vec_id", "embedding", threshold = 0.35)
  },
    // the bipartite max-cosine sweep replayed exactly: same norm and
    // dot folds as sim7, argmax by (cosine DESC, eval_id ASC)
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, 65),
      |           i -> embedding[i] * embedding[i]))) AS nrm
      |  FROM embeddings),
      |sc AS (
      |  SELECT t.vec_id AS train_id, q.vec_id AS eval_id,
      |         list_sum(list_transform(range(1, 65),
      |           i -> t.embedding[i] * q.embedding[i]))
      |           / (t.nrm * q.nrm) AS cosine
      |  FROM e t JOIN e q ON t.vec_id >= 50 AND q.vec_id < 50
      |  WHERE t.nrm > 0 AND q.nrm > 0),
      |f AS (SELECT train_id, eval_id, cosine,
      |             row_number() OVER (PARTITION BY train_id
      |               ORDER BY cosine DESC, eval_id ASC) AS rn
      |      FROM sc WHERE cosine >= 0.35)
      |SELECT train_id, eval_id, round(cosine, 6) AS cosine
      |FROM f WHERE rn = 1""".stripMargin)

  val sim1 = Q("sim1_bruteforce_topk", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e.filter("vec_id < 10"), e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
  },
    exactCosineCtes + """
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin)

  // contrastive hard negatives: per query, the 5 most-similar
  // vectors with a DIFFERENT label — label exclusion before
  // ranking, so heavily same-label neighborhoods still yield k
  // true negatives
  val sim7 = Q("sim7_hard_negatives", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.hardNegatives(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", "label", 5)
      .select("query_id", "neighbor_id", "n_label", "rank")
  },
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |         sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i] * embedding[i]))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         c.label AS n_label,
      |         list_sum(list_transform(range(1, 65), i -> q.embedding[i] * c.embedding[i]))
      |           / (q.nrm * c.nrm) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 10 AND q.label <> c.label
      |  WHERE q.nrm > 0 AND c.nrm > 0),
      |ranked AS (
      |  SELECT query_id, neighbor_id, n_label,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, n_label, rank
      |FROM ranked WHERE rank <= 5""".stripMargin)

  // per-label centroid via element-wise mean pooling (chunk->doc /
  // member->class aggregation), one map-combined pass
  Q("emb1_label_centroids", (s, dir) =>
    Similarity.meanPool(t(s, dir, "embeddings"), "label", "embedding"),
    """SELECT label, t.i - 1 AS pos, round(avg(embedding[t.i]), 4) AS mean_val
      |FROM embeddings, unnest(range(1, 65)) AS t(i)
      |GROUP BY 1, 2""".stripMargin)

  Q("sim2_ivf_topk", (s, dir) => {
    // full-probe IVF == exhaustive: verifiable against the
    // brute-force oracle while exercising the IVF plan
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(e.filter("vec_id < 10"), e, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "rank")
  }, sim1.oracle)

  // hyperplane-LSH bucketed top-k (multi-probe). r9: moved from
  // rows-only to MATCH the dd2/dd5 way — the query pins an explicit
  // wide banding (16 bands x 2 planes, Hamming-1 multi-probe) under
  // which a true neighbor at angle θ misses ALL bands with prob
  // (θ/π)^32 (per band both planes must split the pair, miss
  // (θ/π)^2, 16 independent bands): <= 3e-12 even at cosine 0.2,
  // far below any fixture neighbor — so candidate recall is 1 and
  // the exact-cosine rank stage makes the output identical to the
  // brute-force sweep (oracle = sim1's SQL; verified pair-for-pair
  // at sf0.01 AND sf0.1). Production banding (8x8) keeps its
  // probabilistic recall spec in SimilaritySpec — this pin is the
  // verification yardstick, the banding stays the scale knob.
  Q("sim3_lsh_topk", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(e.filter("vec_id < 10"), e, "vec_id", "embedding", 5,
      planes = 2, bands = 16)
      .select("query_id", "neighbor_id", "rank")
  },
    // recall-1 adjudication at the pinned 16x2 multi-probe banding:
    // candidate generation provably covers every true neighbor (miss
    // <= (θ/π)^32), so the exact-cosine rank stage reproduces the
    // brute-force sweep — the oracle IS sim1's exhaustive top-k
    sim1.oracle)

  // int8 quantization exact-recovery check: quantized values are
  // integers (sum_q/max_abs_q hash-compare exactly) and the
  // dequantization error bound |dequant - x| <= scale/2 is a
  // deterministic property of round-half-away — a MATCH oracle for
  // the 4x-smaller embedding representation sim pipelines shuffle
  Q("sim4_quantize", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val (qv, scale) = Similarity.quantize(col("embedding"))
    e.select(col("vec_id"), col("embedding"), qv.as("qv"), scale.as("scale"))
      .select(
        col("vec_id"),
        size(col("qv")).as("n_dims"),
        array_max(transform(col("qv"), x => abs(x))).cast("int").as("max_abs_q"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x.cast("long")).as("sum_q"),
        (array_max(zip_with(
          Similarity.dequantize(col("qv"), col("scale")), col("embedding"),
          (d, x) => abs(d.cast("double") - x.cast("double"))))
          <= col("scale") * 0.5000001).as("err_within_bound"))
  },
    // quantize/dequantize mirrored element-for-element: same scale
    // (max|x|/127), same round-half-away-from-zero, same float cast in
    // dequantize — integer outputs (max_abs_q, sum_q) hash-compare
    // exactly; the error bound is slack enough (x1.0000002) that both
    // engines' identical-IEEE doubles agree
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |         greatest(list_max(list_transform(embedding, x -> abs(x))),
      |                  CAST(1e-30 AS FLOAT)) / 127.0 AS scale
      |  FROM embeddings),
      |qq AS (
      |  SELECT vec_id, embedding, scale,
      |         list_transform(embedding, x -> CAST(round(x / scale) AS TINYINT)) AS qv
      |  FROM q)
      |SELECT vec_id, len(qv) AS n_dims,
      |       CAST(list_max(list_transform(qv, x -> abs(x))) AS INT) AS max_abs_q,
      |       CAST(list_sum(qv) AS BIGINT) AS sum_q,
      |       list_max(list_transform(range(1, 65), i ->
      |         abs(CAST(CAST(qv[i] * scale AS FLOAT) AS DOUBLE)
      |             - CAST(embedding[i] AS DOUBLE)))) <= scale * 0.5000001
      |         AS err_within_bound
      |FROM qq""".stripMargin)

  // quantized IVF (sim2's probe + sim4's int8 payload) at full
  // probe: integer dot products are exact in double, so the ranks
  // hash-match brute force over the quantized vectors
  Q("sim6_ivf_quantized", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopKQuantized(e.filter("vec_id < 10"), e,
        "vec_id", "embedding", 5, nCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "rank")
  },
    // brute force over int8-quantized vectors (same scale formula and
    // rounding as sim4); full-probe IVF must reproduce these ranks
    // exactly — integer products make every cosine value exact in
    // double, independent of accumulation order
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |         greatest(list_max(list_transform(embedding, x -> abs(x))),
      |                  CAST(1e-30 AS FLOAT)) / 127.0 AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(x / scale) AS TINYINT)) AS qv
      |  FROM s),
      |e AS (
      |  SELECT vec_id, qv,
      |         sqrt(list_sum(list_transform(range(1, 65),
      |           i -> CAST(qv[i] AS DOUBLE) * qv[i]))) AS nrm
      |  FROM q),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         list_sum(list_transform(range(1, 65),
      |           i -> CAST(a.qv[i] AS DOUBLE) * b.qv[i])) / (a.nrm * b.nrm) AS cosine
      |  FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
      |  WHERE a.nrm > 0 AND b.nrm > 0),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin)

  // Cohen's kappa between the lang column and a perturbed second
  // rater (every 7th doc forced to 'en'): chance-corrected
  // agreement from exact marginal counts
  Q("ab5_cohens_kappa", (s, dir) => {
    val d = t(s, dir, "documents")
    Stats.cohensKappa(d, col("lang"),
      when(col("doc_id") % 7 === 0, lit("en")).otherwise(col("lang")))
  },
    // exact marginal counts, three divides, NULL kappa when pe = 1
    """WITH b AS (
      |  SELECT lang AS r1,
      |         CASE WHEN doc_id % 7 = 0 THEN 'en' ELSE lang END AS r2
      |  FROM documents WHERE lang IS NOT NULL),
      |t AS (SELECT count(*) AS n,
      |             sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS n_agree
      |      FROM b),
      |m1 AS (SELECT r1 AS cat, count(*) AS n1 FROM b GROUP BY 1),
      |m2 AS (SELECT r2 AS cat, count(*) AS n2 FROM b GROUP BY 1),
      |p AS (SELECT coalesce(sum(n1 * n2), 0) AS pe_num
      |      FROM m1 JOIN m2 USING (cat))
      |SELECT CAST(n AS BIGINT) AS n, CAST(n_agree AS BIGINT) AS n_agree,
      |       round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |         AS p_observed,
      |       round(CAST(pe_num AS DOUBLE)
      |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_expected,
      |       CASE WHEN CAST(pe_num AS DOUBLE)
      |                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
      |            THEN round((CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
      |                        - CAST(pe_num AS DOUBLE)
      |                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
      |                       / (1.0 - CAST(pe_num AS DOUBLE)
      |                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
      |       END AS kappa
      |FROM t, p""".stripMargin)

  // per-cluster purity of the deterministic k-means assignment
  // against the embeddings' true labels — the supervised clustering
  // scorecard; the oracle replays the full k-means trajectory then
  // the two count aggregates
  Q("eval2_cluster_purity", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val assign = Clustering.kmeans(e, "vec_id", "embedding",
      k = 8, maxIter = 2)
    Clustering.clusterPurity(assign, e, "vec_id", "label")
  },
    // the full k-means replay, then per-cluster majority-label counts
    (kmeansOracleCtes(8, 2, 64) + """,
      |lab AS (SELECT af.cluster, CAST(e.label AS VARCHAR) AS l
      |        FROM af JOIN embeddings e USING (vec_id)),
      |cell AS (SELECT cluster, l, count(*) AS n FROM lab GROUP BY 1, 2),
      |g AS (SELECT cluster, sum(n) AS n, max(n) AS maj FROM cell GROUP BY cluster)
      |SELECT cluster, CAST(n AS BIGINT) AS n, CAST(maj AS BIGINT) AS majority_n,
      |       round(CAST(maj AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity
      |FROM g""".stripMargin))

  // MRR + nDCG@5 of the exact cosine ranking against same-label
  // relevance — retrieval ORDER quality (eval1 measures overlap)
  // generated-text eval metrics (r9): BLEU-4 over deterministic
  // candidate/reference pairs — doc d vs doc d+100 (partial vocab
  // overlap exercises clipping) plus 50 self-pairs (exact 1.0).
  // The oracle replays the clipped n-gram counts, brevity penalty,
  // and the ln/exp geometric mean (round-4, ta4's parity envelope)
  Q("eval4_bleu", (s, dir) => {
    Scoring.bleuPairs(evalPairs(s, dir), "pair_id", "cand", "ref")
  },
    // full BLEU replay: clipped n-gram counts via a per-gram
    // full-outer count join, brevity penalty, ln/exp geometric mean
    // at round-4 (ta4's log-parity envelope); zero when any pn is 0
    evalPairTokCtes + """
      |cg AS (SELECT pair_id, n, array_to_string(ct[i:i+n-1], ' ') AS gram
      |       FROM tok, unnest([1,2,3,4]) AS ns(n),
      |            unnest(generate_series(1, len(ct) - n + 1)) AS ix(i)),
      |rg AS (SELECT pair_id, n, array_to_string(rt[i:i+n-1], ' ') AS gram
      |       FROM tok, unnest([1,2,3,4]) AS ns(n),
      |            unnest(generate_series(1, len(rt) - n + 1)) AS ix(i)),
      |""".stripMargin + clippedNgramCountCtes + """
      |      GROUP BY 1, 2),
      |st AS (SELECT b.pair_id, b.n,
      |         coalesce(m, 0) AS m, coalesce(tc, 0) AS tc, coalesce(tr, 0) AS tr
      |       FROM (SELECT pair_id, n FROM pr, unnest([1,2,3,4]) AS ns(n)) b
      |       LEFT JOIN j USING (pair_id, n)),
      |wide AS (SELECT pair_id,
      |    sum(CASE WHEN n = 1 THEN m END) AS m1, sum(CASE WHEN n = 1 THEN tc END) AS t1,
      |    sum(CASE WHEN n = 2 THEN m END) AS m2, sum(CASE WHEN n = 2 THEN tc END) AS t2,
      |    sum(CASE WHEN n = 3 THEN m END) AS m3, sum(CASE WHEN n = 3 THEN tc END) AS t3,
      |    sum(CASE WHEN n = 4 THEN m END) AS m4, sum(CASE WHEN n = 4 THEN tc END) AS t4,
      |    sum(CASE WHEN n = 1 THEN tc END) AS c_len,
      |    sum(CASE WHEN n = 1 THEN tr END) AS r_len
      |  FROM st GROUP BY 1)
      |SELECT pair_id,
      |  CAST(c_len AS BIGINT) AS c_len, CAST(r_len AS BIGINT) AS r_len,
      |  CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2,
      |  CAST(m3 AS BIGINT) AS m3, CAST(m4 AS BIGINT) AS m4,
      |  CASE WHEN c_len = 0 OR m1 = 0 OR t1 = 0 OR m2 = 0 OR t2 = 0
      |            OR m3 = 0 OR t3 = 0 OR m4 = 0 OR t4 = 0 THEN 0.0
      |       ELSE round(
      |         (CASE WHEN c_len >= r_len THEN 1.0
      |               ELSE exp(1.0 - CAST(r_len AS DOUBLE) / c_len) END)
      |         * exp((ln(CAST(m1 AS DOUBLE) / t1) + ln(CAST(m2 AS DOUBLE) / t2)
      |              + ln(CAST(m3 AS DOUBLE) / t3) + ln(CAST(m4 AS DOUBLE) / t4)) / 4), 4)
      |  END AS bleu
      |FROM wide""".stripMargin)

  // unbiased pass@5 (the Codex estimator) over synthetic per-task
  // sample outcomes (n = 10 + doc_id % 6 samples, c = doc_id % 11
  // correct, capped at n) — exact integer telescoped binomial
  // ratio, one division, bit-identical across engines; exercises
  // the 1.0 short-circuit (n - c < k) and the k > n null
  Q("eval8_pass_at_k", (s, dir) => {
    val tasks = t(s, dir, "documents").select(
      col("doc_id").as("task_id"),
      (lit(10) + col("doc_id") % 6).as("n"),
      least(col("doc_id") % 11, lit(10) + col("doc_id") % 6).as("c"))
    Scoring.passAtK(tasks, "task_id", "n", "c", k = 5)
  },
    // exact-integer telescoped binomial ratio, one double division
    """WITH tasks AS (
      |  SELECT doc_id AS task_id,
      |         CAST(10 + doc_id % 6 AS BIGINT) AS n,
      |         CAST(least(doc_id % 11, 10 + doc_id % 6) AS BIGINT) AS c
      |  FROM documents),
      |p AS (
      |  SELECT task_id, n AS n_samples, c AS n_correct,
      |         (n - c - 0) * (n - c - 1) * (n - c - 2) * (n - c - 3) * (n - c - 4) AS num,
      |         (n - 0) * (n - 1) * (n - 2) * (n - 3) * (n - 4) AS den
      |  FROM tasks)
      |SELECT task_id, n_samples, n_correct,
      |  CASE WHEN n_correct > n_samples OR n_samples < 5 THEN NULL
      |       WHEN n_samples - n_correct < 5 THEN 1.0
      |       ELSE round(1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
      |  END AS pass_at_5
      |FROM p""".stripMargin)

  // chrF over the same pairing (+ self-pairs pinning 1.0): char
  // 1..6-gram clipped overlap, effective-order P/R means, F-beta=2
  Q("eval7_chrf", (s, dir) => {
    Scoring.chrF(evalPairs(s, dir), "pair_id", "cand", "ref")
  },
    // chrF replay: char 1..6-grams over whitespace-stripped text,
    // clipped counts, effective-order averaged P/R, F-beta=2
    """WITH pr AS (
      |  SELECT a.doc_id AS pair_id, b.text AS cand, a.text AS ref
      |  FROM documents a JOIN documents b ON a.doc_id + 100 = b.doc_id
      |  UNION ALL
      |  SELECT doc_id + 100000, text, text FROM documents WHERE doc_id < 50),
      |tok AS (
      |  SELECT pair_id,
      |         string_split(regexp_replace(lower(cand), '\s+', '', 'g'), '') AS ct,
      |         string_split(regexp_replace(lower(ref),  '\s+', '', 'g'), '') AS rt
      |  FROM pr),
      |cg AS (SELECT pair_id, n, array_to_string(ct[i:i+n-1], '') AS gram
      |       FROM tok, unnest([1,2,3,4,5,6]) AS ns(n),
      |            unnest(generate_series(1, len(ct) - n + 1)) AS ix(i)),
      |rg AS (SELECT pair_id, n, array_to_string(rt[i:i+n-1], '') AS gram
      |       FROM tok, unnest([1,2,3,4,5,6]) AS ns(n),
      |            unnest(generate_series(1, len(rt) - n + 1)) AS ix(i)),
      |""".stripMargin + clippedNgramCountCtes + """
      |      GROUP BY 1, 2),
      |st AS (SELECT b.pair_id, b.n,
      |         coalesce(m, 0) AS m, coalesce(tc, 0) AS tc, coalesce(tr, 0) AS tr
      |       FROM (SELECT pair_id, n FROM pr, unnest([1,2,3,4,5,6]) AS ns(n)) b
      |       LEFT JOIN j USING (pair_id, n)),
      |wide AS (SELECT pair_id,
      |    coalesce(avg(CASE WHEN tc > 0 THEN CAST(m AS DOUBLE) / tc END), 0.0) AS p,
      |    coalesce(avg(CASE WHEN tr > 0 THEN CAST(m AS DOUBLE) / tr END), 0.0) AS r,
      |    CAST(sum(m) AS BIGINT) AS total_matches,
      |    CAST(sum(tc) AS BIGINT) AS cand_grams,
      |    CAST(sum(tr) AS BIGINT) AS ref_grams
      |  FROM st GROUP BY 1)
      |SELECT pair_id, total_matches, cand_grams, ref_grams,
      |  round(p, 6) AS chr_precision, round(r, 6) AS chr_recall,
      |  round(CASE WHEN p + r > 0 THEN 5.0 * p * r / (4.0 * p + r)
      |        ELSE 0.0 END, 6) AS chrf
      |FROM wide""".stripMargin)

  // word error rate over the same pairing: token-level edit
  // distance built from char-level levenshtein via a per-pair
  // token→CJK-codepoint encoding (both engines replay the identical
  // encoding, so the integer distances hash-match); self-pairs pin
  // the zero-distance row
  Q("eval6_wer", (s, dir) => {
    Scoring.werPairs(evalPairs(s, dir), "pair_id", "cand", "ref")
  },
    // token-level levenshtein replay. Levenshtein is invariant under
    // any injective token relabeling, so the oracle uses its OWN
    // single-byte ASCII labels (chr(32+pos)) — DuckDB's levenshtein
    // counts BYTES, so the Spark side's CJK labels would triple
    // insert/delete costs here; single-byte labels make byte == char.
    // Valid while every pair's dictionary fits the 94 printable
    // labels — guarded LOUDLY (error(), the bpeCte rsguard pattern;
    // fixture max is 31), never silently divergent
    evalPairTokCtes + """
      |d AS (SELECT pair_id, ct, rt, list_distinct(list_concat(ct, rt)) AS dict
      |      FROM tok),
      |guard AS (SELECT CASE WHEN count(*) > 0
      |         THEN error('pair dictionary exceeds 94 single-byte labels: oracle replay invalid')
      |         ELSE 0 END AS ok
      |       FROM d WHERE len(dict) > 94),
      |e AS (SELECT pair_id, len(ct) AS cand_len, len(rt) AS ref_len,
      |        levenshtein(
      |          array_to_string(list_transform(ct, t -> chr(32 + list_position(dict, t))), ''),
      |          array_to_string(list_transform(rt, t -> chr(32 + list_position(dict, t))), ''))
      |          AS distance
      |      FROM d CROSS JOIN guard WHERE guard.ok = 0)
      |SELECT pair_id,
      |  CAST(cand_len AS INT) AS cand_len, CAST(ref_len AS INT) AS ref_len,
      |  CAST(distance AS INT) AS distance,
      |  CASE WHEN ref_len > 0
      |       THEN round(CAST(distance AS DOUBLE) / ref_len, 6) END AS wer
      |FROM e""".stripMargin)

  // ROUGE-1/2 over the same pairing: clipped-match recall/
  // precision/F1, long-form per (pair, n) — all integer ratios
  Q("eval5_rouge_n", (s, dir) => {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val shifted = d.toDF("b_id", "cand_text")
    val pairs = d.join(shifted, col("doc_id") + 100 === col("b_id"))
      .select(col("doc_id").as("pair_id"),
        col("cand_text").as("cand"), col("text").as("ref"))
    Scoring.rougeN(pairs, "pair_id", "cand", "ref", ns = Seq(1, 2))
  },
    """WITH pr AS (
      |  SELECT a.doc_id AS pair_id, b.text AS cand, a.text AS ref
      |  FROM documents a JOIN documents b ON a.doc_id + 100 = b.doc_id),
      |tok AS (
      |  SELECT pair_id,
      |         list_filter(string_split_regex(lower(trim(cand)), '\s+'), x -> x <> '') AS ct,
      |         list_filter(string_split_regex(lower(trim(ref)),  '\s+'), x -> x <> '') AS rt
      |  FROM pr),
      |cg AS (SELECT pair_id, n, array_to_string(ct[i:i+n-1], ' ') AS gram
      |       FROM tok, unnest([1,2]) AS ns(n),
      |            unnest(generate_series(1, len(ct) - n + 1)) AS ix(i)),
      |rg AS (SELECT pair_id, n, array_to_string(rt[i:i+n-1], ' ') AS gram
      |       FROM tok, unnest([1,2]) AS ns(n),
      |            unnest(generate_series(1, len(rt) - n + 1)) AS ix(i)),
      |""".stripMargin + clippedNgramCountCtes + """
      |      GROUP BY 1, 2),
      |st AS (SELECT b.pair_id, b.n,
      |         coalesce(m, 0) AS m, coalesce(tc, 0) AS tc, coalesce(tr, 0) AS tr
      |       FROM (SELECT pair_id, n FROM pr, unnest([1,2]) AS ns(n)) b
      |       LEFT JOIN j USING (pair_id, n))
      |SELECT pair_id, n,
      |  CAST(m AS BIGINT) AS matches,
      |  CAST(tc AS BIGINT) AS cand_total, CAST(tr AS BIGINT) AS ref_total,
      |  round(CASE WHEN tc > 0 THEN CAST(m AS DOUBLE) / tc ELSE 0.0 END, 6) AS precision,
      |  round(CASE WHEN tr > 0 THEN CAST(m AS DOUBLE) / tr ELSE 0.0 END, 6) AS recall,
      |  round(CASE WHEN (CASE WHEN tc > 0 THEN CAST(m AS DOUBLE) / tc ELSE 0.0 END)
      |           + (CASE WHEN tr > 0 THEN CAST(m AS DOUBLE) / tr ELSE 0.0 END) > 0
      |        THEN 2.0 * (CASE WHEN tc > 0 THEN CAST(m AS DOUBLE) / tc ELSE 0.0 END)
      |             * (CASE WHEN tr > 0 THEN CAST(m AS DOUBLE) / tr ELSE 0.0 END)
      |             / ((CASE WHEN tc > 0 THEN CAST(m AS DOUBLE) / tc ELSE 0.0 END)
      |              + (CASE WHEN tr > 0 THEN CAST(m AS DOUBLE) / tr ELSE 0.0 END))
      |        ELSE 0.0 END, 6) AS f1
      |FROM st""".stripMargin)

  Q("eval3_ranking_metrics", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val ranking = Similarity.bruteForceTopK(
      e.filter("vec_id < 10"), e, "vec_id", "embedding", 5)
    val rel = e.filter("vec_id < 10")
      .select(col("vec_id").as("query_id"), col("label").as("__ql"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("label").as("__nl")),
        col("__ql") === col("__nl") &&
          col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    Retrieval.rankingMetrics(ranking, rel, k = 5)
  },
    // sim1's exact CTEs, same-label relevance, the identical log
    // tree (ln(x)/ln(2)) and in-order ideal fold
    exactCosineCtes + """
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM scored),
      |topk AS (SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5),
      |rel AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      |        FROM embeddings a JOIN embeddings b
      |          ON a.vec_id < 10 AND a.vec_id <> b.vec_id
      |         AND a.label = b.label),
      |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
      |h AS (SELECT t.query_id, t.rank,
      |             CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      |      FROM topk t LEFT JOIN rel r USING (query_id, neighbor_id)),
      |m AS (SELECT query_id,
      |             min(CASE WHEN hit = 1 THEN rank END) AS fr,
      |             sum(CASE WHEN hit = 1 THEN 1.0 / (ln(rank + 1) / ln(2))
      |                      ELSE 0.0 END) AS dcg
      |      FROM h GROUP BY query_id)
      |SELECT m.query_id, CAST(n.n_rel AS BIGINT) AS n_rel,
      |       CAST(fr AS BIGINT) AS first_rel_rank,
      |       round(coalesce(1.0 / fr, 0.0), 6) AS mrr,
      |       round(dcg / list_aggregate(list_transform(
      |               range(1, least(5, n.n_rel) + 1),
      |               i -> 1.0 / (ln(i + 1) / ln(2))), 'sum'), 6) AS ndcg
      |FROM m JOIN nrel n USING (query_id)""".stripMargin)

  // recall@5 of the int8-quantized ranking vs full-precision brute
  // force — the ANN evaluation harness as a first-class operator;
  // the oracle replays BOTH ranking pipelines and the join
  Q("eval1_ann_recall", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val exact = Similarity.bruteForceTopK(
      e.filter("vec_id < 10"), e, "vec_id", "embedding", 5)
    val approx = Similarity.ivfTopKQuantized(
      e.filter("vec_id < 10"), e, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 8)
    Similarity.annRecall(approx, exact, k = 5)
  },
    // sim1's exact CTEs + sim6's quantized CTEs, then the recall
    // join: per query, hits over the exact top-5
    exactCosineCtes + """
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |           row_number() OVER (PARTITION BY query_id
      |                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |    FROM scored) WHERE rank <= 5),
      |s AS (
      |  SELECT vec_id, embedding,
      |         greatest(list_max(list_transform(embedding, x -> abs(x))),
      |                  CAST(1e-30 AS FLOAT)) / 127.0 AS scale
      |  FROM embeddings),
      |qz AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(x / scale) AS TINYINT)) AS qv
      |  FROM s),
      |eq AS (
      |  SELECT vec_id, qv,
      |         sqrt(list_sum(list_transform(range(1, 65),
      |           i -> CAST(qv[i] AS DOUBLE) * qv[i]))) AS nrm
      |  FROM qz),
      |qscored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         list_sum(list_transform(range(1, 65),
      |           i -> CAST(a.qv[i] AS DOUBLE) * b.qv[i])) / (a.nrm * b.nrm) AS cosine
      |  FROM eq a JOIN eq b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
      |  WHERE a.nrm > 0 AND b.nrm > 0),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |           row_number() OVER (PARTITION BY query_id
      |                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |    FROM qscored) WHERE rank <= 5)
      |SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_exact,
      |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_hit,
      |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |                  AS DOUBLE) / count(*), 6) AS recall
      |FROM exact x LEFT JOIN approx a USING (query_id, neighbor_id)
      |GROUP BY x.query_id""".stripMargin)

  // r7: product quantization — the 32x-compressed ANN payload tier.
  // Deterministic fused Lloyd's per subspace (kmeans1's contract:
  // smallest-id init, (cost, cid) tie-break, empty clusters keep
  // their centroid); codes are INTEGRAL so the full training replay
  // hash-matches despite engine-specific avg ulps in the centroid
  // doubles (the kmeans1 adjudication)
  val sim9 = Q("sim9_pq_codes", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.pqEncode(e, "vec_id", "embedding", trainedPq(s, dir))
      .select(col("id").as("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
  },
    // full PQ training replay (fused Lloyd's, 2 iterations) — codes
    // are integral, the kmeans1 ulp adjudication
    s"""$pqCte
       |SELECT vec_id, CAST(s AS INT) AS sub, CAST(cid AS INT) AS code
       |FROM a3""".stripMargin)

  // ADC top-k over the PQ codes: per-neighbor distance is m literal
  // codebook lookups — corpus floats never touched after encoding.
  // Brute-force ADC (the verification shape, like sim1); the scale
  // path probes IVF lists first. Both engines train their own
  // codebooks and sum the per-subspace terms in the same order, so
  // ranks hash-match on this fixture
  val sim10 = Q("sim10_pq_adc_topk", (s, dir) => {
    val e = t(s, dir, "embeddings")
    // rank-only output (sim6's pattern — r7 advisory): adc_dist is
    // a double built directly on engine-averaged centroid values,
    // so a 6-dp rounding of it is the one place an engine ulp
    // could flip a hash; the RANKS built on the integral codes are
    // the robust contract
    Similarity.pqAdcTopK(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", trainedPq(s, dir), 5)
      .select("query_id", "neighbor_id", "rank")
  }, sim10Oracle)

  // r7: margin-based bitext mining — mutual-best cross-side pairs
  // scored by ratio margin over k-NN neighborhood means (the
  // parallel-corpus extraction rule). label parity splits the
  // fixture into the two "languages"; the ordered-fold k-NN means
  // make every double SQL-replayable
  val mine1 = Q("mine1_bitext_margin", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.bitextMarginPairs(
      e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
      "vec_id", "embedding", k = 4, marginThreshold = 1.0)
  },
    // same double trees as the Spark plan: sim5's cosine form, k-NN
    // means as rank-ordered list_sum folds divided by list length,
    // ratio margin mirrored multiply-then-divide
    """WITH s AS (SELECT vec_id AS src_id, embedding AS sv
      |           FROM embeddings WHERE label % 2 = 0),
      |t AS (SELECT vec_id AS tgt_id, embedding AS tv
      |      FROM embeddings WHERE label % 2 = 1),
      |sc AS (
      |  SELECT s.src_id, t.tgt_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(sv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, 65),
      |        i -> CAST(sv[i] AS DOUBLE) * CAST(sv[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, 65),
      |        i -> CAST(tv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE))))) AS cos
      |  FROM s CROSS JOIN t
      |  WHERE sqrt(list_sum(list_transform(range(1, 65),
      |          i -> CAST(sv[i] AS DOUBLE) * CAST(sv[i] AS DOUBLE)))) > 0
      |    AND sqrt(list_sum(list_transform(range(1, 65),
      |          i -> CAST(tv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE)))) > 0),
      |rk AS (SELECT src_id, tgt_id, cos,
      |         row_number() OVER (PARTITION BY src_id
      |           ORDER BY cos DESC, tgt_id ASC) AS rf,
      |         row_number() OVER (PARTITION BY tgt_id
      |           ORDER BY cos DESC, src_id ASC) AS rb
      |       FROM sc),
      |ks AS (SELECT src_id, list_sum(list(cos ORDER BY rf)) / count(*) AS ka
      |       FROM rk WHERE rf <= 4 GROUP BY src_id),
      |kt AS (SELECT tgt_id, list_sum(list(cos ORDER BY rb)) / count(*) AS kb
      |       FROM rk WHERE rb <= 4 GROUP BY tgt_id)
      |SELECT r.src_id, r.tgt_id, round(r.cos, 6) AS cosine,
      |       round(r.cos * 2 / (ks.ka + kt.kb), 6) AS margin
      |FROM rk r JOIN ks USING (src_id) JOIN kt USING (tgt_id)
      |WHERE r.rf = 1 AND r.rb = 1
      |  AND r.cos * 2 / (ks.ka + kt.kb) >= 1.0""".stripMargin)

  // IVF-PQ composition at FULL PROBE (nProbe == nCentroids): the
  // candidate set is the whole corpus, so ranks equal brute-force
  // ADC — sim6's full-probe oracle pattern, sharing sim10's replay
  val sim11 = Q("sim11_ivfpq_topk", (s, dir) => {
    val e = t(s, dir, "embeddings")
    // rank-only like sim10 (same advisory, same shared oracle)
    Similarity.pqIvfTopK(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", trainedPq(s, dir), 5,
      nCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id", "rank")
  },
    // full probe == brute ADC (zero-norm-free fixture), same replay
    sim10.oracle)

  // r8: the IVF-PQ index made durable — build the (cent_id, codes)
  // store once (bucketed on cent_id: every probe reads it
  // exchange-free, the dd14 pattern for vectors), persist the
  // coarse centroids beside it, probe through the codebook-
  // generation guard. Full probe == the inline sim11 plan, so
  // sim10's oracle re-verifies the whole store round-trip
  Q("sim15_ivfpq_index_store", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val suffix = java.lang.Integer.toHexString(dir.hashCode)
    val idxTable = s"sim15_idx_$suffix"
    val (index, cents) = Similarity.pqIndexStore(e, "vec_id", "embedding",
      books, nCentroids = 16)
    graft.sources.Bucketing.writeBucketed(index, idxTable, Seq("cent_id"), 4)
    val centPath = tmpDir("graft_sim15") + "/cents"
    cents.write.mode("overwrite").parquet(centPath)
    Similarity.pqIvfProbeIndex(e.filter("vec_id < 10"),
      graft.sources.Bucketing.readBucketed(s, idxTable),
      s.read.parquet(centPath),
      "vec_id", "embedding", books, 5, nProbe = 16)
      .select("query_id", "neighbor_id", "rank")
  },
    // store round-trip at full probe == the inline IVF-PQ plan
    sim11.oracle)

  // r8: reciprocal-rank fusion — the hybrid-retrieval combiner,
  // fusing the full-precision dense ranking with the 32x-compressed
  // ADC ranking over the same queries (rank positions, not raw
  // scores, so the heterogeneous scorers need no calibration)
  Q("fuse1_rrf", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(
      e.filter("vec_id < 10"), e, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id", "rank")
    val adc = Similarity.pqAdcTopK(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", trainedPq(s, dir), 10)
      .select("query_id", "neighbor_id", "rank")
    Retrieval.rrfFuse(Seq(dense, adc), k0 = 60, topK = 5)
  }, fuse1Oracle)

  // r8: ONLINE index maintenance — the ingestion half of sim16 as
  // a real two-micro-batch stream: each arriving vector gets its
  // full index row (coarse cent_id via the literal-centroid argmax
  // + PQ codes) before landing, the streaming completion of the
  // st15 encode / st16 drift / sim15 store lifecycle. The oracle
  // replays both the codebook training (codes) and the cosine
  // coarse assignment on raw vectors (exact IEEE trees)
  Q("st17_stream_index_append", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val (_, cents) = Similarity.pqIndexStore(
      e.filter(col("vec_id") <= 250), "vec_id", "embedding",
      books, nCentroids = 16)
    val base = tmpDir("graft_st17")
    val in = s"$base/in"
    e.filter(col("vec_id") > 250 && col("vec_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(in)
    e.filter(col("vec_id") > 250 && col("vec_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(in)
    val schema = s.read.parquet(in).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val rows = Similarity.pqIndexAppendOnline(stream, cents,
      "vec_id", "embedding", books)
    val q = graft.streaming.EventStream.writeFileStream(
      rows, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
      .select(col("neighbor_id").as("vec_id"), col("cent_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
  }, st17Oracle)

  // r8: streaming KMV — the distinct-vocabulary sketch maintained
  // at ingestion, two real micro-batches folding into a persisted
  // groups×k store; the final store must equal the batch sketch of
  // the whole corpus (pf10's oracle re-verifies the fold)
  Q("st18_stream_kmv", (s, dir) => {
    val base = tmpDir("graft_st18")
    val stream = evenOddStream(s, t(s, dir, "documents"), "doc_id", base)
    val q = graft.streaming.EventStream.streamingKmv(
      kmvTokens(stream), "lang", col("token"), 128,
      s"$base/store", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/store")
  },
    s"""$kmvSketchCte
      |SELECT lang, rank, hs AS h FROM sk""".stripMargin)

  // r8: incremental index maintenance — the second half of the
  // corpus is encoded AGAINST THE STORE'S centroids and appended;
  // union(store, appended) == a full rebuild (the dd14 incremental
  // contract for vectors), so the full-probe result again MATCHes
  // the inline IVF-PQ oracle
  Q("sim16_ivfpq_index_append", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val (index0, cents) = Similarity.pqIndexStore(
      e.filter(col("vec_id") <= 250), "vec_id", "embedding",
      books, nCentroids = 16)
    val appended = Similarity.pqIndexAppend(
      e.filter(col("vec_id") > 250), cents, "vec_id", "embedding", books)
    // materialize the unioned store once: the generation-tag guard
    // is an action and the probe a second consumer — without this
    // the whole encode pipeline runs twice (a persisted store, as
    // in sim15, is materialized by definition)
    Similarity.pqIvfProbeIndex(e.filter("vec_id < 10"),
      index0.unionByName(appended).localCheckpoint(eager = false), cents,
      "vec_id", "embedding", books, 5, nProbe = 16)
      .select("query_id", "neighbor_id", "rank")
  },
    // split-build + append == full rebuild (same coarse centroids)
    sim11.oracle)

  // r9: sim19's occupancy monitor AT INGESTION — the skew-planted
  // append streamed in two real micro-batches, per-list counts
  // folded into a persisted occupancy table (counts are the
  // mergeable partial, so stream-fold == batch recount exactly and
  // the report shares sim19's oracle)
  Q("st23_stream_ivf_occupancy", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val (index0, cents) = Similarity.pqIndexStore(
      e.filter(col("vec_id") <= 250), "vec_id", "embedding",
      books, nCentroids = 16)
    val base = tmpDir("graft_st23")
    val occPath = s"$base/occ"
    val occ0 = Similarity.ivfListOccupancy(index0, cents)
      .localCheckpoint(true)
    graft.streaming.EventStream.seedIvfOccupancy(occ0, occPath)
    val planted = e.filter(col("vec_id") === 1)
      .select(col("embedding").as("planted"))
    val batch = e.filter(col("vec_id") > 250).select("vec_id")
      .crossJoin(broadcast(planted))
      .select(col("vec_id"), col("planted").as("embedding"))
      .localCheckpoint(true)
    val stream = evenOddStream(s, batch, "vec_id", base)
    val q = graft.streaming.EventStream.streamingIvfOccupancy(
      stream, cents, "vec_id", "embedding", books,
      occPath, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    Similarity.ivfListSkewReport(
      graft.streaming.EventStream.ivfOccupancyTable(s, occPath), occ0)
  },
    // occupancy counts fold exactly (integer partials), so the
    // streamed skew report equals the batch monitor's replay
    sim19.oracle)

  // r10: mem1's audit AT GENERATION-INGESTION TIME — the corpus
  // reference (distinct gram set + Bloom) is built once, the
  // generations arrive as two real micro-batches, each batch's
  // audit rows land in a replay-safe batch_id partition; the union
  // of the partials must equal the batch audit exactly (every audit
  // column is per-generation-independent), so st24 shares mem1's
  // oracle verbatim
  Q("st24_stream_memorization", (s, dir) => {
    val docs = t(s, dir, "documents")
    val (cg, bloom) = Decontaminate.corpusReference(
      docs.filter(col("doc_id") >= 100), "text", gramSize = 3)
    val gens = docs.filter(col("doc_id") < 100)
      .select("doc_id", "text").localCheckpoint(true)
    val base = tmpDir("graft_st24")
    val stream = evenOddStream(s, gens, "doc_id", base)
    val q = graft.streaming.EventStream.streamingMemorizationAudit(
      stream, "doc_id", "text", 3, cg, bloom, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out").select("gen_id", "n_grams",
      "n_memorized_grams", "novelty", "max_memorized_words")
  },
    // per-batch ingestion audit folds to exactly the batch audit
    DedupQ.mem1.oracle)

  // r10: the PERSISTED model at stream-ingestion time — the quality
  // gate a production pipeline runs on arriving docs: weights load
  // once from the generation-guarded store (training never sits in
  // the ingestion path), scoring is a stateless codegen projection
  // per micro-batch, partials land replay-safe in batch_id
  // partitions; the streamed gate must equal qf9's oracle exactly
  Q("st25_stream_quality_gate", (s, dir) => {
    trainedQf9(s, dir) // ensure the artifact exists
    val w = ModelStore.load(s, qf9ModelPath(dir), qf9FeatureSpec,
      qf9Iters, qf9Lr, qf9DataHash(s, dir))
    val aug = qf9Frame(t(s, dir, "documents")).localCheckpoint(true)
    val base = tmpDir("graft_st25")
    val stream = evenOddStream(s, aug, "doc_id", base)
    val feats = qf9Features(col("text"))
    val scored = stream.select(col("doc_id"),
      round(QualityFilters.classifierScore(feats, w), 6).as("score"),
      (QualityFilters.classifierScore(feats, w) >= 0.5).as("flagged"),
      (col("doc_id") % 5 === 0).as("is_junk"))
    val q = scored.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          b.write.mode("overwrite").parquet(s"$base/out/batch_id=$batchId")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
      .select("doc_id", "score", "flagged", "is_junk")
  },
    // the persisted model scores a stream exactly as it scores a batch
    TextQ.qf9.oracle)

  // r8: index deletion — RTBF purge of the odd back-half ids, then
  // a full probe of the purged store; must equal brute ADC over
  // exactly the survivors (per-vector-independent index rows)
  Q("sim17_ivfpq_index_delete", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val (index, cents) = Similarity.pqIndexStore(e, "vec_id",
      "embedding", books, nCentroids = 16)
    val purged = Similarity.pqIndexDelete(index,
      e.filter(col("vec_id") > 250 && col("vec_id") % 2 === 1)
        .select("vec_id"))
      // materialize the purged store once: the generation-tag guard
      // is an action and the probe a second consumer (sim16's note)
      .localCheckpoint(eager = false)
    Similarity.pqIvfProbeIndex(e.filter("vec_id < 10"), purged, cents,
      "vec_id", "embedding", books, 5, nProbe = 16)
      .select("query_id", "neighbor_id", "rank")
  }, sim10OracleOver("NOT (vec_id > 250 AND vec_id % 2 = 1)"))

  // r9: list-occupancy skew monitor — the lifecycle signal sim16's
  // appends and st16's codebook-drift guard both miss: appends that
  // concentrate in a few coarse lists silently degrade probe recall
  // with perfect codebooks. The fixture plants the skew (every
  // appended id carries centroid 1's vector, so the whole batch
  // routes to one list) and the report's max-share/Gini vs the
  // training-time baseline must flip recluster_flag; the oracle
  // replays coarse routing, occupancy (zero lists included), and
  // both concentration stats in SQL
  val sim19 = Q("sim19_ivf_list_skew", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val (index0, cents) = Similarity.pqIndexStore(
      e.filter(col("vec_id") <= 250), "vec_id", "embedding",
      books, nCentroids = 16)
    val planted = e.filter(col("vec_id") === 1)
      .select(col("embedding").as("planted"))
    val batch = e.filter(col("vec_id") > 250).select("vec_id")
      .crossJoin(broadcast(planted))
      .select(col("vec_id"), col("planted").as("embedding"))
    val appended = Similarity.pqIndexAppend(
      batch, cents, "vec_id", "embedding", books)
    Similarity.ivfListSkewReport(
      Similarity.ivfListOccupancy(index0.unionByName(appended), cents),
      Similarity.ivfListOccupancy(index0, cents))
  },
    // full replay of the skew monitor: coarse routing (argmax cosine
    // to the 16 smallest-id centroids, ties to the smaller cent_id),
    // per-list occupancy with empty lists kept as 0, max-share + Gini
    // for the skew-planted current store and the training baseline
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, 65),
      |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cv, nrm AS cn
      |  FROM e ORDER BY vec_id LIMIT 16),
      |vin AS (
      |  SELECT 'cur' AS src, vec_id, embedding, nrm FROM e WHERE vec_id <= 250
      |  UNION ALL
      |  SELECT 'cur', b.vec_id, p.embedding, p.nrm
      |  FROM e b, (SELECT embedding, nrm FROM e WHERE vec_id = 1) p
      |  WHERE b.vec_id > 250
      |  UNION ALL
      |  SELECT 'base', vec_id, embedding, nrm FROM e WHERE vec_id <= 250),
      |assigned AS (
      |  SELECT src, vec_id, cent_id FROM (
      |    SELECT v.src, v.vec_id, c.cent_id,
      |           row_number() OVER (PARTITION BY v.src, v.vec_id ORDER BY
      |             list_sum(list_transform(range(1, 65),
      |               i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)))
      |               / (v.nrm * c.cn) DESC, c.cent_id ASC) AS r
      |    FROM vin v CROSS JOIN cents c
      |    WHERE v.nrm > 0 AND c.cn > 0)
      |  WHERE r = 1),
      |occ AS (
      |  SELECT s.src, c.cent_id, count(a.vec_id) AS n
      |  FROM (SELECT DISTINCT src FROM assigned) s
      |  CROSS JOIN cents c
      |  LEFT JOIN assigned a ON a.src = s.src AND a.cent_id = c.cent_id
      |  GROUP BY 1, 2),
      |sad AS (
      |  SELECT o1.src, CAST(sum(abs(o1.n - o2.n)) AS BIGINT) AS sad
      |  FROM occ o1 JOIN occ o2 ON o1.src = o2.src GROUP BY 1),
      |st AS (
      |  SELECT o.src, count(*) AS l, CAST(sum(o.n) AS BIGINT) AS nv,
      |         max(o.n) AS mx, any_value(s.sad) AS sad
      |  FROM occ o JOIN sad s ON o.src = s.src GROUP BY 1)
      |SELECT c.l AS n_lists, c.nv AS n_vectors,
      |       round(CAST(c.mx AS DOUBLE) / c.nv, 6) AS max_share,
      |       round(CAST(c.sad AS DOUBLE) / (2.0 * c.l * c.nv), 6) AS gini,
      |       round(CAST(b.mx AS DOUBLE) / b.nv, 6) AS baseline_max_share,
      |       round(CAST(b.sad AS DOUBLE) / (2.0 * b.l * b.nv), 6) AS baseline_gini,
      |       round(CAST(c.mx AS DOUBLE) / c.nv, 6)
      |         > 2.0 * round(CAST(b.mx AS DOUBLE) / b.nv, 6) AS recluster_flag
      |FROM st c JOIN st b ON c.src = 'cur' AND b.src = 'base'""".stripMargin)

  // r8: two-stage retrieval — IVF-PQ ADC candidates, then a
  // full-precision cosine re-rank of just those candidates (the
  // production serving pattern). Verified config: full probe +
  // depth >= corpus makes it bit-identical to brute force, so
  // sim1's oracle re-verifies the whole composition; production
  // recall at reduced probe/depth is priced in SimilaritySpec
  Q("sim14_ivfpq_rerank", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.pqIvfRerankTopK(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", trainedPq(s, dir), 5,
      rerankDepth = 1000000, nCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id", "rank")
  },
    // full probe + depth >= corpus: the re-ranked output IS brute force
    sim1.oracle)

  // r8: binary (sign-bit) quantization ANN — Hamming prefilter over
  // 16-byte packed signatures, exact-cosine rerank of the top-64
  // candidates. Unlike PQ/hyperplane paths the signature has zero
  // arithmetic (one float-vs-zero comparison per bit), so the
  // ORACLE REPLAYS THE WHOLE TWO-STAGE PIPELINE bit-for-bit —
  // candidate truncation included — not just a full-probe
  // degenerate form
  Q("sim18_binary_hamming", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.binarySignTopK(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", k = 5, candidates = 64)
  },
    // sign-bit quantization has NO arithmetic (one float-vs-zero
    // comparison per bit), so this oracle replays the full two-stage
    // pipeline — packed words, Hamming prefilter WITH its candidate
    // truncation, exact rerank — not a degenerate full-probe form
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i] * embedding[i]))) AS nrm,
      |    CAST(list_sum([CASE WHEN embedding[i] > 0
      |                        THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END
      |                   for i in range(1, 33)]) AS BIGINT) AS w0,
      |    CAST(list_sum([CASE WHEN embedding[i] > 0
      |                        THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END
      |                   for i in range(33, 65)]) AS BIGINT) AS w1
      |  FROM embeddings),
      |cand AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hamming
      |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |topc AS (
      |  SELECT query_id, neighbor_id, hamming,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY hamming ASC, neighbor_id ASC) AS h_rank
      |  FROM cand),
      |rr AS (
      |  SELECT t.query_id, t.neighbor_id, t.hamming,
      |         list_sum(list_transform(range(1, 65), i -> q.embedding[i] * c.embedding[i]))
      |           / (q.nrm * c.nrm) AS cosine
      |  FROM topc t
      |  JOIN e q ON q.vec_id = t.query_id
      |  JOIN e c ON c.vec_id = t.neighbor_id
      |  WHERE t.h_rank <= 64 AND q.nrm > 0 AND c.nrm > 0),
      |ranked AS (
      |  SELECT query_id, neighbor_id, hamming,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM rr)
      |SELECT query_id, neighbor_id, CAST(hamming AS INT) AS hamming, rank
      |FROM ranked WHERE rank <= 5""".stripMargin)

  // r8: the composed candidate-probed mining operators, verified at
  // FULL PROBE against their exact yardsticks' oracles (the sim11
  // pattern) — reduced-probe recall is priced in PERF.md
  Q("mine2_bitext_ivf", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.bitextMarginPairsIvf(
      e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
      "vec_id", "embedding", k = 4, marginThreshold = 1.0,
      nCentroids = 16, nProbe = 16)
  }, mine1.oracle)

  Q("sim12_hard_negatives_ivf", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.hardNegativesIvf(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", "label", 5, nCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "n_label", "rank")
  }, sim7.oracle)

  Q("sim13_maxsim_ivf", (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.maxSimTopKIvf(e.filter("vec_id < 5"),
      e.withColumn("doc_id", expr("vec_id DIV 10")),
      "vec_id", "embedding", "doc_id", 5, nCentroids = 8, nProbe = 8)
  }, sim8.oracle)

  // exact cosine pair enumeration (the brute-force baseline dd5's
  // LSH recall is measured against) — oracle-checkable because the
  // codegen dot product accumulates double left-to-right, exactly
  // like the SQL mirror
  val sim5 = Q("sim5_exact_cosine_pairs", (s, dir) =>
    Dedup.exactCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35)
      .select(col("id_a"), col("id_b"),
        round(col("cosine"), 6).as("cos_sim")),
    // double-identical to the Spark plan: the codegen dot product
    // accumulates CAST-to-double products left-to-right, as does
    // list_sum over the transformed list
    """WITH p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, 65),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, 65),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(cos, 6) AS cos_sim FROM p
      |WHERE cos >= 0.35 AND isfinite(cos)""".stripMargin)

  // deterministic Lloyd's k-means: projection-only assignment
  // against literal centroids, k-row mean aggregation per
  // iteration; integral output so the oracle replay (same init,
  // same iterations, unrolled CTEs) hash-matches despite
  // engine-specific summation ulps in the centroid doubles
  val kmeans1 = Q("kmeans1_embedding_clusters", (s, dir) =>
    Clustering.kmeans(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 8, maxIter = 2),
    (kmeansOracleCtes(8, 2, 64) + "\nSELECT vec_id, cluster FROM af"))

  // haversine distance to a reference point over the deterministic
  // coordinate fixture — lon stays off the antimeridian, matching the grid join's contract (stable-libm formula, rounded to meters)
  Q("geo1_haversine", (s, dir) =>
    t(s, dir, "customer").select(col("c_custkey"),
      ((col("c_custkey") * 7) % 1200 / 10.0 - 60).as("lat"),
      ((col("c_custkey") * 13) % 3400 / 10.0 - 170).as("lon"))
      .select(col("c_custkey"), col("lat"), col("lon"),
        round(Geo.haversineKm(col("lat"), col("lon"),
          lit(0.0), lit(0.0)), 3).as("dist_km")),
    """WITH p AS (
      |  SELECT c_custkey, (c_custkey * 7) % 1200 / 10.0 - 60 AS lat,
      |         (c_custkey * 13) % 3400 / 10.0 - 170 AS lon
      |  FROM customer)
      |SELECT c_custkey, lat, lon,
      |       round(2 * 6371.0088 * asin(sqrt(
      |         sin(radians(0.0 - lat) / 2) * sin(radians(0.0 - lat) / 2)
      |         + cos(radians(lat)) * cos(radians(0.0))
      |           * sin(radians(0.0 - lon) / 2) * sin(radians(0.0 - lon) / 2))),
      |         3) AS dist_km
      |FROM p""".stripMargin)

  // spatial self-join: all customer pairs within 120 km via 2.5°
  // grid cells + 3x3 neighborhood — equals the all-pairs answer the
  // oracle computes the quadratic way, without the cross join
  Q("geo2_pairs_within", (s, dir) =>
    Geo.pairsWithinKm(
      t(s, dir, "customer").select(col("c_custkey").as("id"),
        ((col("c_custkey") * 7) % 1200 / 10.0 - 60).as("lat"),
        ((col("c_custkey") * 13) % 3400 / 10.0 - 170).as("lon")),
      "id", "lat", "lon", radiusKm = 120.0, cellDeg = 2.5),
    """WITH p AS (
      |  SELECT c_custkey AS id, (c_custkey * 7) % 1200 / 10.0 - 60 AS lat,
      |         (c_custkey * 13) % 3400 / 10.0 - 170 AS lon
      |  FROM customer),
      |d AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         round(2 * 6371.0088 * asin(sqrt(
      |           sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
      |           + cos(radians(a.lat)) * cos(radians(b.lat))
      |             * sin(radians(b.lon - a.lon) / 2)
      |             * sin(radians(b.lon - a.lon) / 2))), 3) AS dist_km
      |  FROM p a JOIN p b ON a.id < b.id)
      |SELECT id_a, id_b, dist_km FROM d WHERE dist_km <= 120.0""".stripMargin)

  // cluster-quality readout over the kmeans1 fit: per-cluster mean
  // silhouette — costs one assignment-shaped pass
  Q("kmeans2_silhouette", (s, dir) =>
    Clustering.silhouette(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 8, maxIter = 2),
    // silhouette over the same replayed fit: af carries own-assignment
    // and d_own; the runner-up distance re-ranks against the final
    // centroid table
    (kmeansOracleCtes(8, 2, 64) + """,
      |dall AS (
      |  SELECT e.vec_id, c.cid,
      |         list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS d
      |  FROM embeddings e CROSS JOIN c2 c),
      |nxt AS (
      |  SELECT d.vec_id, min(d.d) AS d_next
      |  FROM dall d JOIN af a ON a.vec_id = d.vec_id AND d.cid <> a.cluster
      |  GROUP BY 1),
      |s AS (
      |  SELECT a.cluster,
      |         CASE WHEN greatest(a.dist, n.d_next) > 0
      |              THEN (n.d_next - a.dist) / greatest(a.dist, n.d_next)
      |              ELSE 0.0 END AS sil
      |  FROM af a JOIN nxt n USING (vec_id))
      |SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
      |       round(avg(sil), 6) AS mean_silhouette
      |FROM s GROUP BY 1""".stripMargin))

  // cluster-stratified diversity sample: the 3 most central docs
  // per semantic cluster — "cover every topic, keep the most
  // representative" curation
  Q("div1_diversity_sample", (s, dir) =>
    Clustering.diversitySample(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 8, maxIter = 2, perCluster = 3),
    (kmeansOracleCtes(8, 2, 64) + """
      |SELECT cluster, vec_id, rank FROM (
      |  SELECT cluster, vec_id,
      |         row_number() OVER (PARTITION BY cluster
      |           ORDER BY dist ASC, vec_id ASC) AS rank
      |  FROM af) WHERE rank <= 3""".stripMargin))

  // SemDeDup end-to-end: semantic pairs -> connected components ->
  // keep the min-id member per cluster; unpaired vectors survive
  Q("dd17_semantic_survivors", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val pairs = Clustering.semanticNearDupPairs(e, "vec_id", "embedding",
      k = 8, maxIter = 2, threshold = 0.35)
    val dropped = Dedup.clusters(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("cluster"))
    e.join(dropped.select(col("id").as("vec_id")), Seq("vec_id"), "left_anti")
      .select("vec_id")
  },
    // the kmeans CTE chain + within-cluster pairs + recursive
    // connected components; survivors = min-id per component plus
    // every unpaired vector
    (kmeansOracleCtes(8, 2, 64).replaceFirst("WITH ", "WITH RECURSIVE ") +
      ",\n" + semanticPairCte + """,
      |pf AS (SELECT id_a, id_b FROM p
      |       WHERE cos >= 0.35 AND isfinite(cos)),
      |e AS (SELECT id_a AS s, id_b AS d FROM pf
      |      UNION SELECT id_b AS s, id_a AS d FROM pf),
      |reach AS (
      |  SELECT s AS id, s AS label FROM e
      |  UNION
      |  SELECT e.s AS id, r.label AS label FROM e JOIN reach r ON e.d = r.id),
      |cc AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id NOT IN (SELECT id FROM cc WHERE id <> cluster)""".stripMargin))

  // equal-frequency binning on an integer column: exact decile
  // cutoffs ride back as literals, binning is row-local — the
  // length-curriculum / balanced-batching primitive
  Q("pf7_percentile_bins", (s, dir) =>
    Profiling.percentileBins(t(s, dir, "documents"), "doc_id",
      "n_chars", nBins = 10),
    """WITH c AS (
      |  SELECT quantile_cont(n_chars,
      |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
      |  FROM documents)
      |SELECT doc_id, n_chars,
      |       (n_chars > q[1])::INT + (n_chars > q[2])::INT
      |     + (n_chars > q[3])::INT + (n_chars > q[4])::INT
      |     + (n_chars > q[5])::INT + (n_chars > q[6])::INT
      |     + (n_chars > q[7])::INT + (n_chars > q[8])::INT
      |     + (n_chars > q[9])::INT AS bin
      |FROM documents, c""".stripMargin)

  // DSIR importance weights: every doc scored by how much more
  // likely its tokens are under the French-subset unigram model
  // than the corpus's own (add-one smoothing on the joint vocab)
  Q("dsir1_importance_weights", (s, dir) => {
    val docs = t(s, dir, "documents")
    Scoring.importanceWeights(docs, docs.filter(col("lang") === "fr"),
      "doc_id", "text")
  }, dsirOracle(""))

  // domain-targeted selection: the 50 most French-like docs
  Q("dsir2_domain_select", (s, dir) => {
    val docs = t(s, dir, "documents")
    Scoring.selectByImportance(docs, docs.filter(col("lang") === "fr"),
      "doc_id", "text", topN = 50)
  },
    dsirOracle(
    "ORDER BY avg_log_ratio DESC, doc_id ASC LIMIT 50"))

  // SemDeDup: k-means clusters as blocking, exact cosine within —
  // |corpus|^2 falls to sum(|cluster|^2); the missed cross-cluster
  // pairs are the documented recall trade (spec prices it against
  // the exact yardstick)
  Q("dd16_semantic_pairs", (s, dir) =>
    Clustering.semanticNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, maxIter = 2, threshold = 0.35)
      .select(col("id_a"), col("id_b"), col("cluster"),
        round(col("cosine"), 6).as("cos_sim")),
    (kmeansOracleCtes(8, 2, 64) + ",\n" + semanticPairCte + """
      |SELECT id_a, id_b, cluster, round(cos, 6) AS cos_sim FROM p
      |WHERE cos >= 0.35 AND isfinite(cos)""".stripMargin))

  // reproducible per-epoch training order: fresh deterministic
  // permutation per epoch, dealt into shards (window parallelism =
  // epochs x shards, never a global sort)
  Q("shuf1_epoch_shuffle", (s, dir) =>
    Sampling.epochShuffle(t(s, dir, "documents"), "doc_id",
      epochs = 3, shards = 4),
    // replay idHash(doc_id * epochs + epoch) and the (epoch, shard)
    // deal; ids here stay far below the 16-bit-limb overflow guard
    """WITH e AS (
      |  SELECT doc_id, CAST(ep.epoch AS INT) AS epoch
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS epoch) ep),
      |k AS (
      |  SELECT doc_id, epoch,
      |         ((doc_id * 3 + epoch) * 2654435761) % 4294967296 AS key
      |  FROM e)
      |SELECT epoch, CAST(key % 4 AS INT) AS shard,
      |       row_number() OVER (PARTITION BY epoch, key % 4
      |         ORDER BY key ASC, doc_id ASC) AS position,
      |       doc_id
      |FROM k""".stripMargin)

  // bandwidth throttling changes TIMING, not content: the throttled
  // scan must hash-match the plain scan's oracle (sink-protection
  // parity operator, rate generous enough to finish promptly)
  Q("u1_throttled_scan", (s, dir) =>
    Throttle.byRows(t(s, dir, "supplier"), rowsPerSecond = 500000),
    "SELECT * FROM supplier")

  /** dsir1/dsir2 oracle: replays the importance-weight formula — the
    * French-subset unigram model vs the corpus model, add-one
    * smoothed over the joint vocabulary; dsir2 appends the rounded
    * ordered cutoff (id tie-break makes it engine-stable). */
  private def dsirOracle(suffix: String): String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tc0 AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks
      |  WHERE term <> '' GROUP BY doc_id, term),
      |cm AS (SELECT term, sum(tf) AS cc FROM tc0 GROUP BY term),
      |tt AS (
      |  SELECT term, count(*) AS tcnt FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |    FROM documents WHERE lang = 'fr')
      |  WHERE term <> '' GROUP BY term),
      |vocab AS (
      |  SELECT term, coalesce(cc, 0) AS cc, coalesce(tcnt, 0) AS tc
      |  FROM cm FULL OUTER JOIN tt USING (term)),
      |tot AS (SELECT sum(cc) AS nc, sum(tc) AS nt,
      |               CAST(count(*) AS DOUBLE) AS v FROM vocab),
      |w AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |         round(sum(tf * (ln((tc + 1) * 1.0 / (nt + v))
      |                       - ln((cc + 1) * 1.0 / (nc + v)))) / sum(tf), 4)
      |           AS avg_log_ratio
      |  FROM tc0 JOIN vocab USING (term), tot
      |  GROUP BY doc_id)
      |SELECT * FROM w
      |""".stripMargin + suffix

  /** Within-cluster cosine pair CTE over the kmeans chain's `af`
    * (shared by dd16/dd17): replays the ordered-double dot kernel. */
  private val semanticPairCte: String =
    """p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, 65),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, 65),
      |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      |  FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)""".stripMargin

  /** sim10: ADC distance replay — per-subspace term in the Spark
    * plan's exact double form, terms summed in ascending-subspace
    * order (list_sum over an ORDER BY s list = the Scala reduce's
    * left fold), plus |q|² accumulated left-to-right. Rank-only
    * output (r7 advisory): the adc doubles ORDER the rows on both
    * engines, but a 6-dp rounding of them would expose centroid-avg
    * ulps to the hash — ranks, built on the integral codes, do not. */
  private def sim10Oracle: String = sim10OracleOver("TRUE")

  /** sim10's replay restricted to the neighbor rows satisfying
    * `candPred` — the purge oracle (sim17): a full probe of a
    * partially-deleted index is brute ADC over exactly the
    * surviving candidates. */
  private def sim10OracleOver(candPred: String): String =
    s"""$pqCte,
       |codes AS (SELECT vec_id AS neighbor_id, s, cid FROM a3
       |          WHERE $candPred),
       |""".stripMargin + adcSumCtes + s"""
       |q2 AS (SELECT query_id,
       |         list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS qq
       |       FROM qv),
       |scored AS (SELECT a.query_id, a.neighbor_id, a.dsum + q2.qq AS adc,
       |             row_number() OVER (PARTITION BY a.query_id
       |               ORDER BY a.dsum + q2.qq ASC, a.neighbor_id ASC) AS rk
       |           FROM acc a JOIN q2 USING (query_id))
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank
       |FROM scored WHERE rk <= 5""".stripMargin

  /** st17 oracle: codes from the full PQ training replay (a3, as
    * sim9), coarse cent_id from a cosine argmax over the store's 16
    * smallest-id centroids — all on RAW vectors (exact IEEE trees on
    * both engines, no trained doubles in the assignment), ties to
    * the smallest cent_id like the batch window and the online
    * argmax struct. Only vec_id > 250 rows stream. */
  private def st17Oracle: String =
    s"""$pqCte,
       |cset AS (SELECT vec_id AS cent_id, e AS ce
       |         FROM v WHERE vec_id <= 250 ORDER BY vec_id LIMIT 16),
       |cn AS (SELECT cent_id, ce,
       |         sqrt(list_sum(list_transform(range(1, 65), i -> ce[i] * ce[i]))) AS cn
       |       FROM cset),
       |newv AS (SELECT vec_id, e,
       |           sqrt(list_sum(list_transform(range(1, 65), i -> e[i] * e[i]))) AS vn
       |         FROM v WHERE vec_id > 250),
       |cass AS (SELECT vec_id, cent_id FROM (
       |    SELECT nv.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY nv.vec_id ORDER BY
       |        list_sum(list_transform(range(1, 65), i -> nv.e[i] * c.ce[i]))
       |          / (nv.vn * c.cn) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM newv nv CROSS JOIN cn c
       |    WHERE nv.vn > 0 AND c.cn > 0)
       |  WHERE rn = 1)
       |SELECT a.vec_id, ca.cent_id, CAST(a.s AS INT) AS sub,
       |       CAST(a.cid AS INT) AS code
       |FROM a3 a JOIN cass ca USING (vec_id)""".stripMargin

  /** fuse1 oracle: both rankings replayed at k=10 — brute-force
    * cosine (sim1's tree over the double-cast vectors) and ADC
    * (sim10's tree over the replayed codebooks) — then the fusion
    * itself: per-pair `1.0/(rank + 60)` terms folded in
    * retriever-index order (list_sum over ORDER BY ridx = the Spark
    * ordered-struct fold), final rank by (score DESC, id ASC). */
  private def fuse1Oracle: String =
    s"""$pqCte,
       |codes AS (SELECT vec_id AS neighbor_id, s, cid FROM a3),
       |""".stripMargin + adcSumCtes + s"""
       |qq2 AS (SELECT query_id,
       |          list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS qq
       |        FROM qv),
       |adc AS (SELECT query_id, neighbor_id, rk AS rank FROM (
       |          SELECT a.query_id, a.neighbor_id,
       |            row_number() OVER (PARTITION BY a.query_id
       |              ORDER BY a.dsum + q.qq ASC, a.neighbor_id ASC) AS rk
       |          FROM acc a JOIN qq2 q USING (query_id))
       |        WHERE rk <= 10),
       |en AS (SELECT vec_id, e,
       |         sqrt(list_sum(list_transform(range(1, 65), i -> e[i] * e[i]))) AS nrm
       |       FROM v),
       |bf AS (SELECT query_id, neighbor_id, rank FROM (
       |         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i]))
       |               / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rank
       |         FROM en q JOIN en c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |       WHERE rank <= 10),
       |u AS (SELECT query_id, neighbor_id, rank, 0 AS ridx FROM bf
       |      UNION ALL SELECT query_id, neighbor_id, rank, 1 AS ridx FROM adc),
       |sc AS (SELECT query_id, neighbor_id,
       |         list_sum(list(1.0 / (rank + 60) ORDER BY ridx)) AS score
       |       FROM u GROUP BY 1, 2),
       |fin AS (SELECT query_id, neighbor_id, score,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, neighbor_id ASC) AS rank
       |        FROM sc)
       |SELECT query_id, neighbor_id, round(score, 6) AS rrf_score,
       |       CAST(rank AS INT) AS rank
       |FROM fin WHERE rank <= 5""".stripMargin

  /** sim1's exact scoring: per-vector norms `e` and the cosine of each
    * of the first 10 vectors against every other one, `scored`. */
  private def exactCosineCtes: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, 65), i -> embedding[i] * embedding[i]))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         list_sum(list_transform(range(1, 65), i -> q.embedding[i] * c.embedding[i]))
      |           / (q.nrm * c.nrm) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),""".stripMargin

  /** The generation-eval fixture: `pr(pair_id, cand, ref)` pairs each
    * doc with doc + 100 plus 50 identity pairs, `tok` their word lists. */
  private def evalPairTokCtes: String =
    """WITH pr AS (
      |  SELECT a.doc_id AS pair_id, b.text AS cand, a.text AS ref
      |  FROM documents a JOIN documents b ON a.doc_id + 100 = b.doc_id
      |  UNION ALL
      |  SELECT doc_id + 100000, text, text FROM documents WHERE doc_id < 50),
      |tok AS (
      |  SELECT pair_id,
      |         list_filter(string_split_regex(lower(trim(cand)), '\s+'), x -> x <> '') AS ct,
      |         list_filter(string_split_regex(lower(trim(ref)),  '\s+'), x -> x <> '') AS rt
      |  FROM pr),""".stripMargin

  /** Clipped n-gram matches per (pair, n) from the candidate/reference
    * grams `cg`/`rg`: `j(pair_id, n, m, tc, tr)`. */
  private def clippedNgramCountCtes: String =
    """ccnt AS (SELECT pair_id, n, gram, count(*) AS cc FROM cg GROUP BY 1, 2, 3),
      |rcnt AS (SELECT pair_id, n, gram, count(*) AS rc FROM rg GROUP BY 1, 2, 3),
      |j AS (SELECT pair_id, n,
      |        sum(least(coalesce(cc, 0), coalesce(rc, 0))) AS m,
      |        sum(coalesce(cc, 0)) AS tc, sum(coalesce(rc, 0)) AS tr
      |      FROM ccnt FULL OUTER JOIN rcnt USING (pair_id, n, gram)""".stripMargin

  /** Brute ADC over `codes(neighbor_id, s, cid)` for the first 10
    * query vectors: per-subspace distance terms against the replayed
    * codebooks `c2`, summed per (query, neighbor) in subspace order as
    * `acc(query_id, neighbor_id, dsum)`. */
  private def adcSumCtes: String =
    """qv AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10),
      |terms AS (
      |  SELECT q.query_id, c.neighbor_id, c.s,
      |    list_sum(list_transform(range(1, 9), i -> ct.cent[i] * ct.cent[i]))
      |    - list_sum(list_transform(range(1, 9), i -> q.qv[c.s*8+i] * ct.cent[i])) * 2 AS term
      |  FROM qv q CROSS JOIN codes c
      |  JOIN c2 ct ON ct.s = c.s AND ct.cid = c.cid
      |  WHERE c.neighbor_id <> q.query_id),
      |acc AS (SELECT query_id, neighbor_id,
      |          list_sum(list(term ORDER BY s)) AS dsum
      |        FROM terms GROUP BY 1, 2),""".stripMargin

  /** The generation-eval pairs ([[evalPairTokCtes]]'s `pr`): each doc
    * as the reference for doc + 100's text, plus 50 identity pairs. */
  private def evalPairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val shifted = d.toDF("b_id", "cand_text")
    d.join(shifted, col("doc_id") + 100 === col("b_id"))
      .select(col("doc_id").as("pair_id"),
        col("cand_text").as("cand"), col("text").as("ref"))
      .unionByName(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("pair_id"),
          col("text").as("cand"), col("text").as("ref")))
  }
}
