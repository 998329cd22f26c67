package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.TextExpressions
import graft.operators._
import graft.sources.FileConnector

import Fixtures._
import OracleCtes._

/** Queries: experiment statistics (beyond-parity). */
object ExperimentsQ extends Family {

  // Welch t-test per metric slice: arms by user-id parity, the
  // metric scaled to exact cents so both engines aggregate exact
  // integers and replay identical double algebra (Stats scaladoc)
  Q("ab1_welch_ttest", (s, dir) =>
    Stats.welchTTest(
      events(s, dir).select(col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("v_cents")),
      Seq("event_type"), col("user_id") % 2, col("v_cents"),
      scale = 100.0),
    // exact-integer cent sums, then the identical double expression
    // tree as Stats.welchTTest (squares via explicit multiply — no
    // libm pow); the replay is bit-reproducible, round(6) is a guard
    """WITH base AS (
      |  SELECT event_type, user_id % 2 AS arm,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |agg AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(sum(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN arm = 0 THEN v ELSE 0 END) AS BIGINT) AS s0,
      |    CAST(sum(CASE WHEN arm <> 0 THEN v ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN arm = 0 THEN v * v ELSE 0 END) AS BIGINT) AS q0,
      |    CAST(sum(CASE WHEN arm <> 0 THEN v * v ELSE 0 END) AS BIGINT) AS q1
      |  FROM base GROUP BY 1),
      |d AS (
      |  SELECT event_type, n0, n1,
      |         CAST(n0 AS DOUBLE) AS n0d, CAST(n1 AS DOUBLE) AS n1d,
      |         CAST(s0 AS DOUBLE) AS s0d, CAST(s1 AS DOUBLE) AS s1d,
      |         CAST(q0 AS DOUBLE) AS q0d, CAST(q1 AS DOUBLE) AS q1d
      |  FROM agg),
      |st AS (
      |  SELECT event_type, n0, n1,
      |         s0d / n0d / 100.0 AS m0, s1d / n1d / 100.0 AS m1,
      |         (q0d - s0d * s0d / n0d) / (n0d - 1.0) / (100.0 * 100.0) / n0d AS se0,
      |         (q1d - s1d * s1d / n1d) / (n1d - 1.0) / (100.0 * 100.0) / n1d AS se1,
      |         n0d, n1d
      |  FROM d)
      |SELECT event_type, n0 AS n_a, n1 AS n_b,
      |       round(m0, 6) AS mean_a, round(m1, 6) AS mean_b,
      |       round((m0 - m1) / sqrt(se0 + se1), 6) AS t_stat,
      |       round((se0 + se1) * (se0 + se1) /
      |             (se0 * se0 / (n0d - 1.0) + se1 * se1 / (n1d - 1.0)), 6)
      |         AS df_welch
      |FROM st""".stripMargin)

  // 2x2 independence: does the arm change the share of HEAVY
  // purchasers? outcome collapsed per user first (the unit of
  // randomization; "ever purchased" is degenerate on this data —
  // every user has), then one counter row per arm x outcome
  Q("ab2_conversion_chisq", (s, dir) => {
    val perUser = events(s, dir)
      .groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= 14L).cast("int").as("converted"))
    Stats.chiSquare2x2(perUser, Seq.empty,
      col("user_id") % 2, col("converted"))
  },
    // unit of randomization = user: collapse to per-user conversion
    // first, then the four exact cell counts and the 2x2 chi-square
    """WITH pu AS (
      |  SELECT user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
      |              THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY 1),
      |agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN user_id % 2 = 0 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM pu),
      |dd AS (SELECT a, b, c, d,
      |              CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
      |              CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd_
      |       FROM agg)
      |SELECT a AS conv_a, b AS noconv_a, c AS conv_b, d AS noconv_b,
      |       round((ad + bd + cd + dd_) * (ad * dd_ - bd * cd)
      |               * (ad * dd_ - bd * cd) /
      |             ((ad + bd) * (cd + dd_) * (ad + cd) * (bd + dd_)), 6)
      |         AS chi2
      |FROM dd""".stripMargin)

  // curriculum training order: 4 length-difficulty bands walked
  // easiest-first, Knuth-hash shuffled within band, GLOBAL rank via
  // the bucketed prefix sum (no single-partition window anywhere)
  Q("mix4_curriculum", (s, dir) =>
    Sampling.curriculumOrder(t(s, dir, "documents"),
      "doc_id", least(expr("n_chars div 150"), lit(3))),
    // the composite key replayed (idHash limb arithmetic included),
    // rank as one global row_number over it
    """WITH b AS (
      |  SELECT doc_id, least(n_chars // 150, 3) AS band FROM documents),
      |h AS (
      |  SELECT doc_id, band,
      |         ((doc_id % 4294967296) // 65536 * 2654435761 % 4294967296
      |          * 65536 + (doc_id % 65536) * 2654435761) % 4294967296 AS hh
      |  FROM b),
      |k AS (
      |  SELECT doc_id, band,
      |         band * 4503599627370496 + (hh % 67108864) * 67108864
      |           + doc_id AS key
      |  FROM h)
      |SELECT doc_id, CAST(band AS BIGINT) AS band,
      |       CAST(row_number() OVER (ORDER BY key) AS BIGINT) AS rank
      |FROM k""".stripMargin)

  // EWMA (alpha = 1/2) over each user's last 16 events: integer
  // cents + dyadic weights make the running-sum unrolling exact, so
  // the smoother is hash-MATCHable, not approximately-equal
  Q("ts4_ewma", (s, dir) =>
    TimeSeries.ewmaHalf(
      events(s, dir).select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("v_cents")),
      Seq("user_id"), Seq("ts", "event_id"), col("v_cents"),
      lastN = 16, scale = 100.0),
    // the dyadic running-sum unrolling replayed with << weights; the
    // HUGEINT window sum casts to DOUBLE on the same exact integers
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |rdesc AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |                      ORDER BY ts DESC, event_id DESC) AS rd FROM e),
      |r AS (SELECT user_id, event_id, ts, v,
      |             row_number() OVER (PARTITION BY user_id
      |               ORDER BY ts ASC, event_id ASC) AS n
      |      FROM rdesc WHERE rd <= 16),
      |wx AS (SELECT *, CASE WHEN n = 1 THEN v * 4
      |                      ELSE v * (CAST(1 AS BIGINT) << n) END AS w
      |       FROM r),
      |s AS (SELECT *, sum(w) OVER (PARTITION BY user_id ORDER BY n
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sw
      |      FROM wx)
      |SELECT user_id, event_id, ts, CAST(n AS INT) AS n,
      |       CAST(sw AS DOUBLE)
      |         / CAST(CAST(1 AS BIGINT) << (n + 1) AS DOUBLE)
      |         / 100.0 AS ewma
      |FROM s""".stripMargin)

  // intra-document repetition hygiene: cut every repeat of a token
  // after its first occurrence — one O(n) row-local codegen kernel,
  // no shuffle (the HOF array_position form is O(n²) + fallback)
  Q("rep2_intra_doc_dedup", (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
      TextExpressions.dedup_tokens_in_doc(col("text")).as("d"))
      .select(col("doc_id"), col("d.clean_text").as("clean_text"),
        col("d.n_tokens").as("n_tokens"),
        col("d.n_removed").as("n_removed")),
    // first-occurrence replay: min position per token, reassembled in
    // that order — the kernel's LinkedHashSet semantics in SQL
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |           FROM documents),
      |pos AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM d),
      |tk AS (SELECT doc_id, i, l[CAST(i AS INT)] AS w FROM pos),
      |firsts AS (SELECT doc_id, w, min(i) AS fi FROM tk GROUP BY 1, 2),
      |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY fi) AS clean_text,
      |               CAST(count(*) AS BIGINT) AS n_kept
      |        FROM firsts GROUP BY 1)
      |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |       CAST(len(d.l) AS BIGINT) AS n_tokens,
      |       CAST(len(d.l) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
      |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin)

  // DPO pair construction: 4 candidate "responses" per prompt
  // group, reward = vocabulary richness (distinct-word count — an
  // integer both engines compute identically); strict-margin pairs
  // only, deterministic tiebreaks
  Q("sft2_preference_pairs", (s, dir) =>
    ChatFormat.preferencePairs(
      t(s, dir, "documents").select(col("doc_id"),
        expr("doc_id div 4").as("prompt_id"),
        size(array_distinct(split(lower(trim(col("text"))), "\\s+")))
          .cast("long").as("score")),
      "prompt_id", "doc_id", col("score")),
    // window replay of the max_by/min_by tiebreaks: chosen = score
    // DESC id ASC, rejected = score ASC id DESC; margin-0 groups out
    """WITH c AS (
      |  SELECT doc_id, doc_id // 4 AS prompt_id,
      |         CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+')))
      |              AS BIGINT) AS score
      |  FROM documents),
      |best AS (SELECT prompt_id, doc_id, score,
      |                row_number() OVER (PARTITION BY prompt_id
      |                                   ORDER BY score DESC, doc_id ASC) AS rn
      |         FROM c),
      |worst AS (SELECT prompt_id, doc_id, score,
      |                 row_number() OVER (PARTITION BY prompt_id
      |                                    ORDER BY score ASC, doc_id DESC) AS rn
      |          FROM c)
      |SELECT b.prompt_id, b.doc_id AS chosen_id, b.score AS chosen_score,
      |       w.doc_id AS rejected_id, w.score AS rejected_score,
      |       b.score - w.score AS margin
      |FROM best b JOIN worst w USING (prompt_id)
      |WHERE b.rn = 1 AND w.rn = 1 AND b.score > w.score""".stripMargin)

  // PCA to 2-D over the embedding corpus: exact integer moment
  // sums (one treeAggregate into d(d+3)/2+1 counters), driver
  // eigensolve on the 64x64 covariance, codegen dot projection.
  // r6: the eigensolve IS SQL-replayable after all (VERDICT r5 #7)
  // — every driver loop is an ascending sequential fold, so a
  // recursive CTE carrying (v, deflated m) through the same 200
  // fixed iterations reproduces the projection BIT-EXACTLY; the
  // PCA property specs (variance ordering, orthonormality,
  // invariance) stay as defense in depth
  Q("emb2_pca_project", (s, dir) =>
    Similarity.pcaProject(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 2),
    """|WITH RECURSIVE
      |q AS (SELECT list_transform(embedding,
      |        x -> CAST(round(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS q
      |      FROM embeddings),
      |idx AS (SELECT unnest(range(1, 65)) AS i),
      |nrow AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM q),
      |s AS (SELECT i, CAST(sum(q[i]) AS BIGINT) AS si FROM q, idx GROUP BY i),
      |p AS (SELECT ii.i AS i, jj.i AS j, CAST(sum(q.q[ii.i] * q.q[jj.i]) AS BIGINT) AS pij
      |      FROM q, idx ii, idx jj GROUP BY 1, 2),
      |cov AS (SELECT p.i, p.j,
      |        (CAST(p.pij AS DOUBLE)
      |         - (CAST(si.si AS DOUBLE) * CAST(sj.si AS DOUBLE)) / nr.n)
      |          / nr.n / 1048576.0 AS c
      |        FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j, nrow nr),
      |covrows AS (SELECT i, list(c ORDER BY j) AS mrow FROM cov GROUP BY i),
      |covm AS (SELECT list(mrow ORDER BY i) AS m FROM covrows),
      |v0 AS (SELECT list_transform(range(1, 65),
      |         i -> CAST((i * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 - 0.5) AS v),
      |v0n AS (SELECT list_transform(v, x -> x / n0) AS v
      |        FROM (SELECT v, sqrt(list_aggregate(list_transform(v, y -> y * y), 'sum')) AS n0
      |              FROM v0)),
      |st AS (
      |  SELECT 0 AS c, 0 AS it, (SELECT v FROM v0n) AS v, (SELECT m FROM covm) AS m,
      |         CAST([] AS DOUBLE[][]) AS comps, CAST([] AS DOUBLE[]) AS lambdas
      |  UNION ALL
      |  SELECT
      |    CASE WHEN it < 200 THEN c ELSE c + 1 END,
      |    CASE WHEN it < 200 THEN it + 1 ELSE 0 END,
      |    CASE WHEN it < 200 THEN
      |        CASE WHEN nrm > 0 THEN list_transform(w, x -> x / nrm) ELSE v END
      |      ELSE (SELECT v FROM v0n) END,
      |    CASE WHEN it < 200 THEN m
      |      ELSE [list_transform(range(1, 65), j -> m[i][j] - lam * vs[i] * vs[j])
      |            for i in range(1, 65)] END,
      |    CASE WHEN it < 200 THEN comps ELSE list_append(comps, vs) END,
      |    CASE WHEN it < 200 THEN lambdas ELSE list_append(lambdas, lam) END
      |  FROM (
      |    SELECT s2.*,
      |      CASE WHEN it < 200 THEN
      |        sqrt(list_aggregate(list_transform(w, x -> x * x), 'sum')) END AS nrm,
      |      CASE WHEN it >= 200 THEN
      |        list_transform(v, x -> x * (CASE WHEN v[list_position(
      |          list_transform(v, y -> abs(y)),
      |          list_aggregate(list_transform(v, y -> abs(y)), 'max'))] < 0
      |          THEN -1.0 ELSE 1.0 END)) END AS vs
      |    FROM (
      |      SELECT st.*,
      |        CASE WHEN it < 200 THEN
      |          list_transform(range(1, 65), i ->
      |            list_aggregate(list_transform(range(1, 65), j -> m[i][j] * v[j]), 'sum'))
      |        END AS w,
      |        CASE WHEN it >= 200 THEN
      |          list_aggregate(list_transform(range(1, 65), i ->
      |            v[i] * list_aggregate(
      |              list_transform(range(1, 65), j -> m[i][j] * v[j]), 'sum')), 'sum')
      |        END AS lam
      |      FROM st WHERE c < 2
      |    ) s2
      |  ) s3),
      |fin AS (SELECT comps, lambdas FROM st WHERE c = 2),
      |meanrow AS (SELECT list(CAST(si AS DOUBLE) / nr.n / 1024.0 ORDER BY i) AS mean
      |            FROM s, nrow nr),
      |md AS (SELECT
      |    list_aggregate(list_transform(range(1, 65),
      |      i -> mean[i] * f.comps[1][i]), 'sum') AS md1,
      |    list_aggregate(list_transform(range(1, 65),
      |      i -> mean[i] * f.comps[2][i]), 'sum') AS md2
      |  FROM meanrow, fin f)
      |SELECT e.vec_id,
      |  list_aggregate(list_transform(range(1, 65),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * f.comps[1][i]), 'sum') - md.md1 AS pc1,
      |  list_aggregate(list_transform(range(1, 65),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * f.comps[2][i]), 'sum') - md.md2 AS pc2
      |FROM embeddings e, fin f, md""".stripMargin)

  // Johnson–Lindenstrauss ±1 projection 64 -> 16: md5-seeded
  // literal sign matrix, quantized exact integer sums, one final
  // divide — the oracle regenerates the signs and replays the
  // arithmetic bit-for-bit
  Q("emb3_jl_project", (s, dir) =>
    Similarity.jlProject(t(s, dir, "embeddings"), "vec_id",
      "embedding", inDim = 64, outDim = 16),
    // emb2: the FULL PCA pipeline replayed in SQL — exact integer
    // moments, then a recursive CTE runs the driver's deflated power
    // iteration verbatim (fixed LCG init, 200 iterations, ascending
    // sequential folds everywhere the driver loops ascending, sign
    // fixed at the first-largest-|loading| index, deflation between
    // components), then the same dot-minus-meanDot projection.
    // Bit-equal because both engines do the identical IEEE ops in the
    // identical order; list_aggregate(..., 'sum') is a sequential
    // in-order fold like the driver's while-loops
    // sign(j,i) = parity of md5("graft:j:i")'s first hex char — the
    // driver-side matrix regenerated in SQL; quantized sums are exact
    // integers so only the final divide + round are float ops
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      |  FROM embeddings),
      |idx AS (SELECT unnest(range(1, 65)) AS i),
      |e AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i0, q[i] AS qv
      |      FROM q, idx),
      |d AS (SELECT unnest(range(0, 16)) AS j),
      |ii AS (SELECT unnest(range(0, 64)) AS i0),
      |s AS (SELECT d.j, ii.i0,
      |         CASE WHEN CAST(concat('0x', substr(md5(
      |                'graft:' || d.j || ':' || ii.i0), 1, 1)) AS INTEGER) % 2 = 0
      |              THEN 1 ELSE -1 END AS sg
      |      FROM d, ii)
      |SELECT e.vec_id, CAST(s.j AS INTEGER) AS dim,
      |       round(CAST(sum(e.qv * s.sg) AS DOUBLE)
      |             / (10000.0 * sqrt(CAST(16 AS DOUBLE))), 6) AS value
      |FROM e JOIN s ON e.i0 = s.i0
      |GROUP BY 1, 2""".stripMargin)

  // per-dimension z-score standardization: exact quantized moments,
  // fixed mean/variance tree, NULL for constant dimensions
  Q("emb4_standardize", (s, dir) =>
    Similarity.standardize(t(s, dir, "embeddings"), "vec_id",
      "embedding"),
    // the same quantized-moment replay: mean = s/n, variance =
    // (ss - s*s/n)/n, z = (q - mean)/sqrt(variance)
    """WITH qv AS (
      |  SELECT vec_id, list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      |  FROM embeddings),
      |idx AS (SELECT unnest(range(1, 65)) AS i),
      |e AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim, q[i] AS qval
      |      FROM qv, idx),
      |st AS (SELECT dim, count(*) AS n, CAST(sum(qval) AS BIGINT) AS s,
      |              CAST(sum(qval * qval) AS BIGINT) AS ss
      |       FROM e GROUP BY dim),
      |d AS (SELECT dim, CAST(n AS DOUBLE) AS nd, CAST(s AS DOUBLE) AS sd,
      |             CAST(ss AS DOUBLE) AS ssd
      |      FROM st)
      |SELECT e.vec_id, e.dim,
      |       CASE WHEN (ssd - sd * sd / nd) / nd > 0.0
      |            THEN round((CAST(e.qval AS DOUBLE) - sd / nd)
      |                       / sqrt((ssd - sd * sd / nd) / nd), 6)
      |       END AS z
      |FROM e JOIN d USING (dim)""".stripMargin)

  // vocabulary-diversity quality signals: type-token ratio + hapax
  // fraction per doc, the rep1 aggregation shape
  Q("ta10_lexical_richness", (s, dir) =>
    TextAnalysis.lexicalRichness(t(s, dir, "documents"), "doc_id",
      "text"),
    // per-(doc, word) counts then one per-doc reduce
    """WITH tw AS (
      |  SELECT doc_id, w, count(*) AS n FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY doc_id, w)
      |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_types,
      |       round(CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS ttr,
      |       round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE), 6) AS hapax_frac
      |FROM tw GROUP BY doc_id""".stripMargin)

  // linear gap-fill over a sparse hourly grid (high-value events
  // only, so real gaps exist): interior nulls interpolate between
  // nearest non-null hours, edges stay null
  Q("ts5_interpolate", (s, dir) =>
    TimeSeries.interpolateLinear(
      TimeSeries.resampleHourly(
        events(s, dir).filter(col("value") >= 300),
        "ts", "value").drop("sum_value_ffill"),
      "h", "sum_value"),
    // neighbor carry via IGNORE NULLS windows, micros ratio, raw
    // doubles (identical inputs -> identical bits; see ts4)
    """WITH e AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
      |  FROM events WHERE value >= 300),
      |agg AS (
      |  SELECT h, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |  FROM e GROUP BY h),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |          FROM b),
      |g AS (SELECT s.h, coalesce(a.n_events, 0) AS n_events, a.sum_value
      |      FROM spine s LEFT JOIN agg a USING (h)),
      |n AS (SELECT h, n_events, sum_value,
      |  last_value(sum_value IGNORE NULLS) OVER (ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
      |  last_value(CASE WHEN sum_value IS NOT NULL THEN h END IGNORE NULLS)
      |    OVER (ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
      |  first_value(sum_value IGNORE NULLS) OVER (ORDER BY h
      |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
      |  first_value(CASE WHEN sum_value IS NOT NULL THEN h END IGNORE NULLS)
      |    OVER (ORDER BY h
      |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      |  FROM g)
      |SELECT h, n_events, sum_value,
      |       CASE WHEN sum_value IS NOT NULL THEN sum_value
      |            ELSE pv + (nv - pv)
      |                 * (CAST(epoch_us(h) - epoch_us(pt) AS DOUBLE)
      |                    / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
      |       END AS sum_value_interp
      |FROM n""".stripMargin)

  // embargoed temporal split: train < Jan 20, 2-day gap dropped,
  // test >= Jan 22 — autocorrelation can't leak across the cutoff
  Q("sp5_temporal_split", (s, dir) =>
    Sampling.temporalSplit(
      events(s, dir).select("event_id", "user_id", "ts"),
      "ts", lit("2024-01-20").cast("timestamp_ntz"),
      expr("INTERVAL 2 DAYS")),
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |       CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'train'
      |            ELSE 'test' END AS split
      |FROM events
      |WHERE ts < TIMESTAMP '2024-01-20'
      |   OR ts >= TIMESTAMP '2024-01-22'""".stripMargin)

  // leave-last-out: each user's 2 most recent events are the test
  // set — "predict what this user did NEXT"
  Q("sp6_leave_last_out", (s, dir) =>
    Sampling.leaveLastOut(
      events(s, dir).select("event_id", "user_id", "ts"),
      Seq("user_id"), Seq("ts", "event_id"), lastN = 2),
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |       CASE WHEN rn <= 2 THEN 'test' ELSE 'train' END AS split
      |FROM (SELECT event_id, user_id, ts,
      |             row_number() OVER (PARTITION BY user_id
      |               ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)""".stripMargin)

  // lenient JSONL ingestion: two planted garbage lines quarantine
  // as (is_corrupt, corrupt_raw) with NULL data columns while every
  // good line parses — FAILFAST would abort the load, DROPMALFORMED
  // would lie about volume
  Q("c3_corrupt_records", (s, dir) => {
    val base = tmpDir("graft_c3") + "/in"
    t(s, dir, "documents")
      .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
        .as("value"))
      .unionByName(s.range(1, 2).select(lit("{\"oops").as("value")))
      .unionByName(s.range(1, 2).select(lit("not json at all").as("value")))
      .coalesce(1).write.mode("overwrite").text(base)
    FileConnector.readJsonAudited(s, base,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType))))
  },
    // the good lines round-trip to the source rows; the two corrupt
    // constants quarantine with NULL data
    """SELECT doc_id, lang, n_chars, false AS is_corrupt,
      |       CAST(NULL AS VARCHAR) AS corrupt_raw
      |FROM documents
      |UNION ALL
      |SELECT CAST(NULL AS BIGINT), NULL, CAST(NULL AS BIGINT), true, '{"oops'
      |UNION ALL
      |SELECT CAST(NULL AS BIGINT), NULL, CAST(NULL AS BIGINT), true,
      |       'not json at all'""".stripMargin)

  // Flesch reading ease from portable proxies (terminal-punct
  // sentences, vowel-group syllables) — exact counts, one formula
  Q("ta8_readability", (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.readability(col("text")).as("flesch")),
    """SELECT doc_id,
      |       round(206.835
      |             - 1.015 * CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
      |               / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE)
      |             - 84.6 * CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
      |               / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE),
      |             4) AS flesch
      |FROM documents""".stripMargin)

  // quantity-weighted median price per return flag: half the UNITS
  // sold sit at or below this price (row median is wrong whenever
  // weights vary); exact integer cumulative-weight comparison
  Q("pct2_weighted_median", (s, dir) =>
    Stats.weightedMedian(t(s, dir, "lineitem"), Seq("l_returnflag"),
      "l_extendedprice", round(col("l_quantity"))),
    """WITH a AS (
      |  SELECT l_returnflag, l_extendedprice,
      |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, l_extendedprice, w,
      |         CAST(sum(w) OVER (PARTITION BY l_returnflag
      |           ORDER BY l_extendedprice
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cum,
      |         CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
      |  FROM a)
      |SELECT l_returnflag, min(l_extendedprice) AS weighted_median,
      |       max(tot) AS total_weight
      |FROM c WHERE cum * 2 >= tot GROUP BY 1""".stripMargin)

  // cohort LTV: cumulative cents per acquisition week x weeks-since
  // (the revenue companion to coh1's retention triangle)
  Q("coh2_ltv", (s, dir) =>
    Funnel.ltvCurve(events(s, dir), "user_id", "ts",
      round(col("value") * 100)),
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |firstw AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM e GROUP BY 1),
      |weekly AS (
      |  SELECT f.cohort_week,
      |         CAST(datediff('day', f.cohort_week,
      |              date_trunc('week', e.ts)) // 7 AS BIGINT) AS weeks_since,
      |         CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
      |         CAST(sum(e.v) AS BIGINT) AS week_value
      |  FROM e JOIN firstw f USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT cohort_week, weeks_since, n_active, week_value,
      |       CAST(sum(week_value) OVER (PARTITION BY cohort_week
      |         ORDER BY weeks_since
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cum_value
      |FROM weekly""".stripMargin)

  // right-to-be-forgotten: purge every 29th user from events; the
  // query returns the MANIFEST (per-key purge counts incl. the
  // planted never-present key = 0) — the auditable half; the purged
  // frame itself is the m1-shape complement
  Q("m9_forget", (s, dir) => {
    val ev = events(s, dir)
    val forget = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 29 === 0)
      .unionByName(s.range(1, 2) // planted never-present key -> 0
        .select((col("id") + 900000000L).as("user_id")))
    val (purged, manifest) = Modes.purgeKeys(ev, "user_id", forget)
    // audit the erasure: manifest counts + survivor count must tile
    // the table exactly (n_remaining rides in as a broadcast 1-row)
    manifest.crossJoin(
      broadcast(purged.agg(count(lit(1)).as("n_remaining"))))
  },
    """WITH forget AS (
      |  SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 0
      |  UNION ALL SELECT 900000001),
      |counts AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY 1),
      |remaining AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_remaining FROM events
      |  WHERE user_id NOT IN (SELECT user_id FROM forget))
      |SELECT f.user_id, coalesce(c.n, 0) AS n_purged, r.n_remaining
      |FROM forget f LEFT JOIN counts c USING (user_id)
      |CROSS JOIN remaining r""".stripMargin)

  // ratio-to-report: each priority's revenue share within its order
  // status — window partitioned by status (never global), exact
  // cent sums, one division
  Q("w6_share_of_total", (s, dir) => {
    val a = t(s, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("revenue_cents"))
    val w = Window.partitionBy("o_orderstatus")
    a.withColumn("share",
      round(col("revenue_cents").cast("double") /
        sum("revenue_cents").over(w).cast("double"), 6))
  },
    """WITH a AS (
      |  SELECT o_orderstatus, o_orderpriority,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS revenue_cents
      |  FROM orders GROUP BY 1, 2),
      |t AS (SELECT o_orderstatus, CAST(sum(revenue_cents) AS BIGINT) AS tot
      |      FROM a GROUP BY 1)
      |SELECT a.o_orderstatus, a.o_orderpriority, a.revenue_cents,
      |       round(CAST(a.revenue_cents AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
      |         AS share
      |FROM a JOIN t USING (o_orderstatus)""".stripMargin)

  // long-form unpivot of the four lineitem measures (the melt every
  // metric store ingests); values pass through untouched
  Q("pv2_unpivot", (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity").as("qty"),
          col("l_extendedprice").as("price"),
          col("l_discount").as("disc"), col("l_tax").as("tax")),
        "measure", "value"),
    """SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS value
      |FROM lineitem WHERE l_orderkey < 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
      |FROM lineitem WHERE l_orderkey < 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'disc', l_discount
      |FROM lineitem WHERE l_orderkey < 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'tax', l_tax
      |FROM lineitem WHERE l_orderkey < 1000""".stripMargin)

  // canonical-URL dedup keys: lowercase host, tracking params out,
  // default port and fragment stripped — the "same page?" identity
  // raw strings lie about
  Q("url2_canonical", (s, dir) => {
    val docs = urlFixture(t(s, dir, "documents"))
      .select(col("doc_id"), concat(col("text"),
        lit(" http://Track-d"), (col("doc_id") % 5).cast("string"),
        lit(".Example:80/p/"), col("doc_id").cast("string"),
        lit("?utm_source=feed&q="), col("doc_id").cast("string"),
        lit("&fbclid=abc#frag")).as("text"))
    QualityFilters.extractUrls(docs, "doc_id", "text")
      .withColumn("canonical", QualityFilters.canonicalUrl(col("url")))
  },
    // the same regex chain (DuckDB needs explicit 'g' where Spark is
    // global by default)
    """WITH fx AS (
      |  SELECT doc_id,
      |         text || ' http://d' || (doc_id % 7)::VARCHAR ||
      |         '.example/p/' || doc_id::VARCHAR ||
      |         ' https://CDN-d' || (doc_id % 4)::VARCHAR ||
      |         '.Example:8443/x?q=' || doc_id::VARCHAR ||
      |         ' http://Track-d' || (doc_id % 5)::VARCHAR ||
      |         '.Example:80/p/' || doc_id::VARCHAR ||
      |         '?utm_source=feed&q=' || doc_id::VARCHAR ||
      |         '&fbclid=abc#frag' AS text
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, regexp_replace(u, '[.,;:!?)\]''"]+$', '') AS url,
      |         lower(regexp_extract(regexp_replace(u, '[.,;:!?)\]''"]+$', ''),
      |                              '^https?://([^/:?#\s]+)', 1)) AS domain
      |  FROM fx, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS t(u)),
      |lo AS (
      |  SELECT doc_id, url, domain,
      |         lower(regexp_extract(url, '^[^/]*//[^/]*', 0))
      |           || url[len(regexp_extract(url, '^[^/]*//[^/]*', 0)) + 1:]
      |           AS c
      |  FROM ex),
      |steps AS (
      |  SELECT doc_id, url, domain,
      |""".stripMargin + canonicalUrlSql + """
      |SELECT doc_id, url, domain, canonical FROM steps""".stripMargin)

  // period-over-period: weekly revenue with absolute and relative
  // deltas vs the PREVIOUS OBSERVED week (lag over the week grid —
  // bounded by calendar weeks, never by events); exact cent sums,
  // pct change one division, NULL on the first week
  Q("ts6_period_over_period", (s, dir) => {
    val weekly = events(s, dir)
      .groupBy(date_trunc("week", col("ts")).as("week"))
      .agg(sum(round(col("value") * 100).cast("long")).as("rev_cents"))
    val w = Window.orderBy("week")
    weekly
      .withColumn("prev_cents", lag("rev_cents", 1).over(w))
      .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
      .withColumn("pct_change",
        round(col("delta_cents").cast("double") /
          col("prev_cents").cast("double"), 6))
  },
    """WITH w AS (
      |  SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |           AS rev_cents
      |  FROM events GROUP BY 1)
      |SELECT week, rev_cents,
      |       lag(rev_cents) OVER (ORDER BY week) AS prev_cents,
      |       rev_cents - lag(rev_cents) OVER (ORDER BY week) AS delta_cents,
      |       round(CAST(rev_cents - lag(rev_cents) OVER (ORDER BY week)
      |                  AS DOUBLE)
      |             / CAST(lag(rev_cents) OVER (ORDER BY week) AS DOUBLE), 6)
      |         AS pct_change
      |FROM w""".stripMargin)

  // exact largest-remainder allocation: every order's total cents
  // split across its lines by quantity with zero residue — naive
  // rounding leaves or mints cents
  Q("fin1_allocate", (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), round(col("l_quantity")).cast("long").as("qty"))
    val o = t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("total_cents"))
    Stats.allocateProportional(li.join(o, "l_orderkey"),
      Seq("l_orderkey"), "l_linenumber", col("qty"), col("total_cents"))
  },
    """WITH j AS (
      |  SELECT l.l_orderkey, l.l_linenumber,
      |         CAST(round(l.l_quantity) AS BIGINT) AS w,
      |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS t
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |s AS (SELECT *, CAST(sum(w) OVER (PARTITION BY l_orderkey) AS BIGINT)
      |               AS sw,
      |             t * w AS prod FROM j),
      |b AS (SELECT *, prod // sw AS base, prod % sw AS rem FROM s),
      |sh AS (SELECT *,
      |         t - CAST(sum(base) OVER (PARTITION BY l_orderkey) AS BIGINT)
      |           AS short,
      |         row_number() OVER (PARTITION BY l_orderkey
      |           ORDER BY rem DESC, l_linenumber ASC) AS rk
      |       FROM b)
      |SELECT l_orderkey, l_linenumber, w AS weight,
      |       CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
      |         AS allocated
      |FROM sh""".stripMargin)

  // source-pair vocabulary Jaccard: which sources mirror each
  // other, answered before document-level dedup pays for it
  Q("pf9_source_overlap", (s, dir) =>
    Profiling.sourceOverlap(t(s, dir, "documents"), "source", "text"),
    """WITH v AS (
      |  SELECT DISTINCT source AS src,
      |         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |f AS (SELECT src, w FROM v WHERE length(w) > 0),
      |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1),
      |i AS (SELECT a.src AS src_a, b.src AS src_b,
      |             CAST(count(*) AS BIGINT) AS n_shared
      |      FROM f a JOIN f b ON a.w = b.w AND a.src < b.src
      |      GROUP BY 1, 2)
      |SELECT i.src_a, i.src_b, i.n_shared, sa.n AS n_a, sb.n AS n_b,
      |       round(CAST(i.n_shared AS DOUBLE)
      |             / CAST(sa.n + sb.n - i.n_shared AS DOUBLE), 6) AS jaccard
      |FROM i JOIN sz sa ON sa.src = i.src_a
      |       JOIN sz sb ON sb.src = i.src_b""".stripMargin)

  // the loop url2 exists for: dedup citations BY canonical URL —
  // tracking-param and case variants collapse to one page
  Q("dd22_url_dedup", (s, dir) => {
    val docs = urlFixture(t(s, dir, "documents"))
      .select(col("doc_id"), concat(col("text"),
        lit(" http://Track-d"), (col("doc_id") % 5).cast("string"),
        lit(".Example:80/p/"), (col("doc_id") % 25).cast("string"),
        lit("?utm_source=feed&fbclid=abc")).as("text"))
    QualityFilters.extractUrls(docs, "doc_id", "text")
      .withColumn("canonical", QualityFilters.canonicalUrl(col("url")))
      .groupBy("canonical")
      .agg(min("doc_id").as("first_doc"),
        count(lit(1)).as("n_citations"),
        count_distinct(col("url")).as("n_raw_variants"))
  },
    """WITH fx AS (
      |  SELECT doc_id,
      |         text || ' http://d' || (doc_id % 7)::VARCHAR ||
      |         '.example/p/' || doc_id::VARCHAR ||
      |         ' https://CDN-d' || (doc_id % 4)::VARCHAR ||
      |         '.Example:8443/x?q=' || doc_id::VARCHAR ||
      |         ' http://Track-d' || (doc_id % 5)::VARCHAR ||
      |         '.Example:80/p/' || (doc_id % 25)::VARCHAR ||
      |         '?utm_source=feed&fbclid=abc' AS text
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, regexp_replace(u, '[.,;:!?)\]''"]+$', '') AS url
      |  FROM fx, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS t(u)),
      |lo AS (
      |  SELECT doc_id, url,
      |         lower(regexp_extract(url, '^[^/]*//[^/]*', 0))
      |           || url[len(regexp_extract(url, '^[^/]*//[^/]*', 0)) + 1:]
      |           AS c
      |  FROM ex),
      |canon AS (
      |  SELECT doc_id, url,
      |""".stripMargin + canonicalUrlSql + """
      |SELECT canonical, min(doc_id) AS first_doc,
      |       CAST(count(*) AS BIGINT) AS n_citations,
      |       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants
      |FROM canon GROUP BY 1""".stripMargin)

  // quantile mapping: every source's length-score distribution
  // rewritten onto src0's via rank lookup — the full-distribution
  // harmonization qf7's single threshold is a special case of
  Q("qf8_quantile_map", (s, dir) =>
    QualityFilters.quantileMap(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      "doc_id", "source", col("n_chars"), referenceSource = "src0"),
    // same windows, same floor-index lookup against src0's sorted
    // values
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |         percent_rank() OVER (PARTITION BY source
      |           ORDER BY n_chars ASC, doc_id ASC) AS pr
      |  FROM documents),
      |ref AS (
      |  SELECT n_chars AS ref_score,
      |         CAST(row_number() OVER (ORDER BY n_chars ASC, doc_id ASC)
      |              AS BIGINT) AS idx
      |  FROM documents WHERE source = 'src0'),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM ref)
      |SELECT r.doc_id, r.source, r.n_chars AS score,
      |       ref.ref_score AS mapped_score
      |FROM r CROSS JOIN n
      |JOIN ref ON ref.idx = CAST(floor(r.pr * CAST(n.nn - 1 AS DOUBLE))
      |                           AS BIGINT) + 1""".stripMargin)

  // cross-source score calibration: per-source empirical-CDF rank
  // replaces the raw score, so one threshold keeps the best 80% of
  // EVERY source instead of silently emptying the weak ones
  Q("qf7_calibrated_gate", (s, dir) =>
    QualityFilters.calibratedGate(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(array_distinct(split(lower(trim(col("text"))), "\\s+")))
          .cast("long").as("score")),
      "doc_id", "source", col("score"), keepFrac = 0.8),
    """WITH sc AS (
      |  SELECT doc_id, source,
      |         CAST(len(list_distinct(string_split_regex(lower(trim(text)),
      |              '\s+'))) AS BIGINT) AS score
      |  FROM documents)
      |SELECT doc_id, source, score,
      |       round(percent_rank() OVER (PARTITION BY source
      |             ORDER BY score ASC, doc_id ASC), 6) AS calibrated,
      |       round(percent_rank() OVER (PARTITION BY source
      |             ORDER BY score ASC, doc_id ASC), 6) >= 0.2 AS keep
      |FROM sc""".stripMargin)

  // top user journeys: each user's first five event types as a
  // path string, ranked by frequency (the Sankey feed) — ties
  // broken by path text so the cut is engine-stable
  Q("seq6_top_paths", (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val paths = events(s, dir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 5)
      .groupBy("user_id")
      .agg(concat_ws(">", array_sort(collect_list(
        struct(col("__rn"), col("event_type")))).getField("event_type"))
        .as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(20)
  },
    """WITH r AS (
      |  SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS rn
      |  FROM events),
      |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM r WHERE rn <= 5 GROUP BY 1),
      |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users
      |      FROM p GROUP BY 1)
      |SELECT path, n_users FROM c
      |ORDER BY n_users DESC, path ASC LIMIT 20""".stripMargin)

  // Wilson 95% score interval on per-type heavy-purchaser rates —
  // the CI an experimentation readout actually ships (normal
  // approximation misbehaves near 0/1); exact counts, fixed tree
  Q("ab4_wilson_interval", (s, dir) => {
    val perUser = events(s, dir)
      .groupBy("user_id", "event_type")
      .agg((count(lit(1)) >= 14L).cast("int").as("hit"))
    val agg = perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("hit").as("k"))
    val n = col("n").cast("double"); val k = col("k").cast("double")
    val z = lit(1.96)
    val p = k / n
    val denom = lit(1.0) + z * z / n
    val center = (p + z * z / (lit(2.0) * n)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / n
      + z * z / (lit(4.0) * n * n)) / denom
    agg.select(col("event_type"), col("n"), col("k"),
      round(p, 6).as("rate"),
      round(center - half, 6).as("ci_lo"),
      round(center + half, 6).as("ci_hi"))
  },
    """WITH pu AS (
      |  SELECT user_id, event_type,
      |         CASE WHEN count(*) >= 14 THEN 1 ELSE 0 END AS hit
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(hit) AS BIGINT) AS k
      |      FROM pu GROUP BY 1),
      |d AS (SELECT event_type, n, k,
      |             CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
      |      FROM a)
      |SELECT event_type, n, k,
      |       round(kd / nd, 6) AS rate,
      |       round((kd / nd + 1.96 * 1.96 / (2.0 * nd))
      |               / (1.0 + 1.96 * 1.96 / nd)
      |             - 1.96 * sqrt((kd / nd) * (1.0 - kd / nd) / nd
      |                           + 1.96 * 1.96 / (4.0 * nd * nd))
      |               / (1.0 + 1.96 * 1.96 / nd), 6) AS ci_lo,
      |       round((kd / nd + 1.96 * 1.96 / (2.0 * nd))
      |               / (1.0 + 1.96 * 1.96 / nd)
      |             + 1.96 * sqrt((kd / nd) * (1.0 - kd / nd) / nd
      |                           + 1.96 * 1.96 / (4.0 * nd * nd))
      |               / (1.0 + 1.96 * 1.96 / nd), 6) AS ci_hi
      |FROM d""".stripMargin)

  // first-order Markov transitions between event types per user —
  // the journey matrix; counts exact, P(to|from) one division
  Q("seq5_transitions", (s, dir) =>
    Sequences.transitions(events(s, dir), "user_id",
      Seq("ts", "event_id"), "event_type"),
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS mm FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |       round(CAST(c.n AS DOUBLE) / CAST(m.mm AS DOUBLE), 6) AS prob
      |FROM c JOIN m USING (from_type)""".stripMargin)

  // Gopher line-level repetition: 4-line fixture with the third
  // line duplicating the first on every doc_id % 3 == 0 — both the
  // line fraction and the char-weighted fraction are row-local
  // array algebra, no explode
  val rep3 = Q("rep3_line_repetition", (s, dir) =>
    QualityFilters.gopherRepetition(
      linedFixture(t(s, dir, "documents")), "doc_id", "text"),
    // identical line fixture; list_distinct + two length folds —
    // fractions are single integer divides
    rep3OracleSql)

  // the same gate at INGESTION: rep3's row-local projection runs
  // unchanged on a real two-micro-batch file stream (stateless, no
  // watermark) — stream == batch, so it shares rep3's oracle
  Q("st21_stream_line_repetition", (s, dir) => {
    val fixture = linedFixture(t(s, dir, "documents"))
    val base = tmpDir("graft_st21")
    val stream = evenOddStream(s, fixture, "doc_id", base)
    val gated = QualityFilters.gopherRepetition(stream, "doc_id", "text")
    val q = graft.streaming.EventStream.writeFileStream(
      gated, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
  },
    // stream == batch for the stateless gate
    rep3.oracle)

  // growth curve: first-seen day per user (one min aggregate),
  // new-per-day counts, cumulative uniques via the range-bucketed
  // prefix sum — never a per-day DISTINCT rescan
  Q("growth1_cumulative_uniques", (s, dir) =>
    TimeSeries.cumulativeUniques(events(s, dir), "user_id", "ts")
      .select(col("d").cast("timestamp_ntz").as("d"),
        col("new_entities"), col("cum_entities")),
    // first-seen day per user, window prefix sum over DAY rows
    """WITH f AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY user_id),
      |dly AS (SELECT d, count(*) AS new_entities FROM f GROUP BY d)
      |SELECT CAST(d AS TIMESTAMP) AS d,
      |       CAST(new_entities AS BIGINT) AS new_entities,
      |       CAST(sum(new_entities) OVER (ORDER BY d
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum_entities
      |FROM dly""".stripMargin)

  // day-of-week seasonal index on cents-scaled event values: 7
  // exact counter rows + a broadcast grand total; the weekday is
  // epoch-day arithmetic, no locale-dependent weekday function
  Q("ts7_seasonal_index", (s, dir) =>
    TimeSeries.seasonalIndex(events(s, dir), "ts",
      round(col("value") * 100), scale = 100.0),
    // epoch-day weekday arithmetic, exact cent sums, the same
    // four-divide tree
    """WITH b AS (
      |  SELECT CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4)
      |              % 7 AS INTEGER) AS dow,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |g AS (SELECT dow, count(*) AS n, sum(v) AS s FROM b GROUP BY dow),
      |t AS (SELECT sum(n) AS tn, sum(s) AS ts FROM g)
      |SELECT dow, CAST(n AS BIGINT) AS n,
      |       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
      |         AS mean_value,
      |       round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
      |             / (CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE) / 100.0), 6)
      |         AS seasonal_index
      |FROM g, t""".stripMargin)

  // Benford first-digit screen on order totals: observed vs
  // log10(1+1/d) with per-digit chi-square terms
  Q("dq9_benford", (s, dir) =>
    DataQuality.benford(t(s, dir, "orders"), "o_totalprice"),
    """WITH f AS (SELECT abs(o_totalprice) AS v FROM orders
      |           WHERE abs(o_totalprice) >= 1),
      |c AS (SELECT CAST(substring(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR),
      |                  1, 1) AS INT) AS digit,
      |             CAST(count(*) AS BIGINT) AS n
      |      FROM f GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c),
      |s AS (SELECT unnest(range(1, 10)) AS digit),
      |j AS (SELECT CAST(s.digit AS INT) AS digit,
      |             CAST(coalesce(c.n, 0) AS BIGINT) AS n,
      |             log10(1.0 + 1.0 / CAST(s.digit AS DOUBLE)) AS ex
      |      FROM s LEFT JOIN c ON s.digit = c.digit)
      |SELECT digit, n,
      |       round(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS obs_share,
      |       round(ex, 6) AS exp_share,
      |       round((CAST(n AS DOUBLE) - ex * CAST(tt AS DOUBLE))
      |             * (CAST(n AS DOUBLE) - ex * CAST(tt AS DOUBLE))
      |             / (ex * CAST(tt AS DOUBLE)), 6) AS chi2_term
      |FROM j, t""".stripMargin)

  // approximate-FD profiling (g3 measure): a unique key that holds,
  // two real-world soft dependencies that don't — counts are exact
  // integer sums, the rate is one final divide
  Q("dq10_fd_profile", (s, dir) =>
    DataQuality.fdProfile(t(s, dir, "orders"),
      Seq(("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"))),
    // per-FD: distinct (det, dep) pairs -> per-det majority; the g3
    // violation count is gn - max(n), tie-break-free
    """WITH p1 AS (SELECT CAST(o_orderkey AS VARCHAR) AS det,
      |                   CAST(o_orderstatus AS VARCHAR) AS dep, count(*) AS n
      |            FROM orders GROUP BY 1, 2),
      |g1 AS (SELECT det, sum(n) AS gn, count(*) AS vals, max(n) AS mx
      |       FROM p1 GROUP BY det),
      |p2 AS (SELECT CAST(o_custkey AS VARCHAR) AS det,
      |              CAST(o_orderpriority AS VARCHAR) AS dep, count(*) AS n
      |       FROM orders GROUP BY 1, 2),
      |g2 AS (SELECT det, sum(n) AS gn, count(*) AS vals, max(n) AS mx
      |       FROM p2 GROUP BY det),
      |p3 AS (SELECT CAST(o_orderpriority AS VARCHAR) AS det,
      |              CAST(o_orderstatus AS VARCHAR) AS dep, count(*) AS n
      |       FROM orders GROUP BY 1, 2),
      |g3 AS (SELECT det, sum(n) AS gn, count(*) AS vals, max(n) AS mx
      |       FROM p3 GROUP BY det)
      |SELECT 'o_orderkey' AS determinant, 'o_orderstatus' AS dependent,
      |       CAST(sum(gn) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS violating_groups,
      |       CAST(sum(gn - mx) AS BIGINT) AS violating_rows,
      |       round(CAST(sum(gn - mx) AS DOUBLE) / CAST(sum(gn) AS DOUBLE), 6)
      |         AS violation_rate,
      |       sum(gn - mx) = 0 AS holds
      |FROM g1
      |UNION ALL
      |SELECT 'o_custkey', 'o_orderpriority',
      |       CAST(sum(gn) AS BIGINT), CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(sum(gn - mx) AS BIGINT),
      |       round(CAST(sum(gn - mx) AS DOUBLE) / CAST(sum(gn) AS DOUBLE), 6),
      |       sum(gn - mx) = 0
      |FROM g2
      |UNION ALL
      |SELECT 'o_orderpriority', 'o_orderstatus',
      |       CAST(sum(gn) AS BIGINT), CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(sum(gn - mx) AS BIGINT),
      |       round(CAST(sum(gn - mx) AS DOUBLE) / CAST(sum(gn) AS DOUBLE), 6),
      |       sum(gn - mx) = 0
      |FROM g3""".stripMargin)

  // per-source token entropy (nats) via the one-pass identity
  // H = ln T - (sum n ln n)/T — the id-vs-category profiling signal
  Q("pf8_entropy", (s, dir) =>
    Profiling.entropy(
      t(s, dir, "documents").select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) > 0),
      Seq("source"), "w"),
    """WITH w AS (SELECT source,
      |             unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |           FROM documents),
      |f AS (SELECT source, w FROM w WHERE length(w) > 0),
      |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n
      |      FROM f GROUP BY 1, 2),
      |cc AS (SELECT source, n, CAST(count(*) AS BIGINT) AS m
      |       FROM c GROUP BY 1, 2),
      |g AS (SELECT source, CAST(sum(n * m) AS BIGINT) AS t,
      |             CAST(sum(m) AS BIGINT) AS n_distinct,
      |             list_aggregate(
      |               list(CAST(n * m AS DOUBLE) * ln(CAST(n AS DOUBLE))
      |                    ORDER BY n), 'sum') AS snln
      |      FROM cc GROUP BY 1)
      |SELECT source, t AS n_rows, n_distinct,
      |       round(ln(CAST(t AS DOUBLE)) - snln / CAST(t AS DOUBLE), 6)
      |         AS entropy_nats
      |FROM g""".stripMargin)

  // CUPED: per-user pre-period spend (first half of January) as the
  // covariate for post-period spend — the variance-reduced A/B
  // readout, exact to the bit via integer-cent sums
  Q("ab3_cuped", (s, dir) => {
    val perUser = events(s, dir)
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") < lit("2024-01-16").cast("timestamp_ntz"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(col("ts") >= lit("2024-01-16").cast("timestamp_ntz"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
    Stats.cuped(perUser, col("user_id") % 2, col("x"), col("y"),
      scale = 100.0)
  },
    // the pooled moments and per-arm sums replayed on the same exact
    // integers, same adjustment tree
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
      |             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pu),
      |a AS (
      |  SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS na,
      |         CAST(sum(x) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya
      |  FROM pu GROUP BY 1),
      |d AS (
      |  SELECT arm, na, CAST(na AS DOUBLE) AS nad,
      |         CAST(sxa AS DOUBLE) AS sxad, CAST(sya AS DOUBLE) AS syad,
      |         CAST(n AS DOUBLE) AS nd,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |         CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
      |         CAST(syy AS DOUBLE) AS syyd
      |  FROM a CROSS JOIN g),
      |c AS (
      |  SELECT arm, na, nad, sxad, syad, nd, sxd,
      |         sxxd - sxd * sxd / nd AS cxx,
      |         sxyd - sxd * syd / nd AS cxy,
      |         syyd - syd * syd / nd AS cyy
      |  FROM d)
      |SELECT arm, na AS n,
      |       round(syad / nad / 100.0, 6) AS mean_y,
      |       round((syad / nad - (cxy / cxx)
      |              * (sxad / nad - sxd / nd)) / 100.0, 6) AS mean_y_adj,
      |       round(cxy / cxx, 6) AS theta,
      |       round(cxy * cxy / (cxx * cyy), 6) AS rho2
      |FROM c""".stripMargin)

  // U-shaped multi-touch attribution: views/clicks credit the next
  // purchase 40/20/40 in exact basis points (largest-remainder
  // middles) — credits per conversion sum to exactly 10000
  Q("att1_position_credit", (s, dir) =>
    Funnel.positionCredit(
      events(s, dir).filter(
        col("event_type").isin("view", "click", "purchase")),
      "user_id", "ts", "event_id",
      isTouch = col("event_type").isin("view", "click"),
      isConv = col("event_type") === "purchase"),
    // conversion indexing by the backwards running conversion count,
    // U-split with // and % largest-remainder middles
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         event_type IN ('view', 'click') AS is_touch,
      |         event_type = 'purchase' AS is_conv
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |k AS (SELECT *, sum(CASE WHEN is_conv THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS kk
      |      FROM e),
      |convs AS (SELECT user_id, kk, event_id AS conv_id, ts AS conv_ts
      |          FROM k WHERE is_conv),
      |t AS (SELECT user_id, kk, event_id AS touch_id, ts AS touch_ts
      |      FROM k WHERE is_touch AND kk > 0),
      |posd AS (SELECT *,
      |           CAST(row_number() OVER (PARTITION BY user_id, kk
      |                ORDER BY touch_ts, touch_id) AS BIGINT) AS position,
      |           CAST(count(*) OVER (PARTITION BY user_id, kk) AS BIGINT)
      |             AS n_touches
      |         FROM t)
      |SELECT p.user_id, c.conv_id, c.conv_ts, p.touch_id, p.touch_ts,
      |       p.n_touches, p.position,
      |       CASE WHEN p.n_touches = 1 THEN 10000
      |            WHEN p.n_touches = 2 THEN 5000
      |            WHEN p.position = 1 OR p.position = p.n_touches THEN 4000
      |            ELSE 2000 // (p.n_touches - 2)
      |                 + CASE WHEN p.position - 1 <= 2000 % (p.n_touches - 2)
      |                        THEN 1 ELSE 0 END
      |       END AS credit_bp
      |FROM posd p JOIN convs c USING (user_id, kk)""".stripMargin)

  // count-min sketch priced against truth: 2000 part buckets into a
  // 4x256 counter array — collisions overestimate, and because the
  // salted Knuth hash replays in SQL, the ESTIMATES are oracle-
  // verifiable, not merely error-bounded
  Q("hh2_countmin", (s, dir) =>
    Profiling.countMinEstimates(
      t(s, dir, "lineitem").select((col("l_partkey") % 2000).as("it")),
      col("it"), depth = 4, width = 256),
    // the sketch replayed: exact per-item counts, salted limb-hash
    // buckets, counter sums, min over depth
    cmsOracleSql("SELECT l_partkey % 2000 AS item FROM lineitem",
      depth = 4, width = 256))

  // k-anonymity release gate on customers: quasi-identifiers
  // (nation, segment, balance band) NULLed wherever the exact
  // combination isolates fewer than 3 customers
  Q("pii3_k_anonymity", (s, dir) =>
    Privacy.kAnonymize(
      t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("bal_band")),
      Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 3),
    // class sizes via a count window over the same quasi columns,
    // NULL masking below k
    """WITH q AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
      |  FROM customer),
      |sz AS (
      |  SELECT *, count(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
      |                           bal_band) AS class_size
      |  FROM q)
      |SELECT c_custkey,
      |       CASE WHEN class_size >= 3 THEN c_nationkey END AS c_nationkey,
      |       CASE WHEN class_size >= 3 THEN c_mktsegment END AS c_mktsegment,
      |       CASE WHEN class_size >= 3 THEN bal_band END AS bal_band,
      |       CAST(class_size AS BIGINT) AS class_size,
      |       class_size < 3 AS suppressed
      |FROM sz""".stripMargin)

  // l-diversity release gate on customers: a (nation, segment)
  // class whose members all sit in fewer than 3 distinct balance
  // bands gets the quasi pair NULLed — the homogeneity attack the
  // pii3 k-size gate misses
  Q("priv4_l_diversity", (s, dir) =>
    Privacy.lDiversify(
      t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("bal_band")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 3),
    """WITH q AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
      |  FROM customer),
      |d AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         count(DISTINCT bal_band) AS ds
      |  FROM q GROUP BY 1, 2)
      |SELECT c_custkey,
      |       CASE WHEN ds >= 3 THEN q.c_nationkey END AS c_nationkey,
      |       CASE WHEN ds >= 3 THEN q.c_mktsegment END AS c_mktsegment,
      |       bal_band,
      |       CAST(ds AS BIGINT) AS distinct_sensitive,
      |       ds < 3 AS suppressed
      |FROM q JOIN d USING (c_nationkey, c_mktsegment)""".stripMargin)

  // one-pass correlation matrix over four lineitem measures (all
  // fixed-point-exact): k(k+3)/2 counters in a single aggregate
  // row, 6 pair correlations derived from the scalars
  Q("reg2_corr_matrix", (s, dir) =>
    Stats.corrMatrix(t(s, dir, "lineitem"), Seq(
      "qty" -> round(col("l_quantity")),
      "price" -> round(col("l_extendedprice")),
      "disc" -> round(col("l_discount") * 100),
      "tax" -> round(col("l_tax") * 100))),
    // the same 11 exact counters, the same centered-moment tree, six
    // UNION ALL pair rows
    {
    val cols = Seq("qty" -> "CAST(round(l_quantity) AS BIGINT)",
      "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 100) AS BIGINT)",
      "tax" -> "CAST(round(l_tax * 100) AS BIGINT)")
    val baseSel = cols.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val sums = cols.map { case (n, _) => s"CAST(sum($n) AS BIGINT) AS s_$n" }
    val crosses = for {
      i <- cols.indices; j <- i until cols.length
    } yield s"CAST(sum(${cols(i)._1} * ${cols(j)._1}) AS BIGINT) AS p_${cols(i)._1}_${cols(j)._1}"
    def cm(a: String, b: String) =
      s"(CAST(p_${a}_$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE) / CAST(n AS DOUBLE))"
    val rows = for {
      i <- cols.indices; j <- (i + 1) until cols.length
      a = cols(i)._1; b = cols(j)._1
    } yield s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
               |  round(${cm(a, b)} / sqrt(${cm(a, a)} * ${cm(b, b)}), 6) AS corr
               |FROM agg""".stripMargin
    s"""WITH base AS (SELECT $baseSel FROM lineitem),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  ${(sums ++ crosses).mkString(",\n  ")}
       |  FROM base)
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  })

  // market-basket rules over orders: items = part-key buckets, all
  // counts exact integers, margins/total broadcast — the ratios
  // replay exactly in any engine
  Q("mb1_association_rules", (s, dir) =>
    Basket.associationRules(
      t(s, dir, "lineitem").select(col("l_orderkey").as("basket"),
        (col("l_partkey") % 50).as("item")),
      "basket", "item", minSupport = 30L),
    // presence-distinct items, size-capped baskets (never hit at this
    // basket width), exact counts, mirrored ratio algebra
    """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 50 AS i
      |            FROM lineitem),
      |sz AS (SELECT b FROM it GROUP BY b HAVING count(*) <= 1024),
      |kept AS (SELECT it.b, it.i FROM it JOIN sz USING (b)),
      |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM kept),
      |m AS (SELECT i, CAST(count(*) AS BIGINT) AS c FROM kept GROUP BY 1),
      |p AS (SELECT l.i AS item_a, r.i AS item_b,
      |             CAST(count(*) AS BIGINT) AS n_pair
      |      FROM kept l JOIN kept r ON l.b = r.b AND l.i < r.i
      |      GROUP BY 1, 2 HAVING count(*) >= 30)
      |SELECT item_a, item_b, n_pair, ma.c AS n_a, mb_.c AS n_b,
      |       round(CAST(n_pair AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) AS support,
      |       round(CAST(n_pair AS DOUBLE) / CAST(ma.c AS DOUBLE), 6) AS conf_a_b,
      |       round(CAST(n_pair AS DOUBLE) / CAST(mb_.c AS DOUBLE), 6) AS conf_b_a,
      |       round(CAST(nb.n AS DOUBLE) * CAST(n_pair AS DOUBLE)
      |             / (CAST(ma.c AS DOUBLE) * CAST(mb_.c AS DOUBLE)), 6) AS lift
      |FROM p JOIN m ma ON p.item_a = ma.i
      |       JOIN m mb_ ON p.item_b = mb_.i
      |       CROSS JOIN nb""".stripMargin)

  // closed-form OLS of price on quantity per return flag; quantity
  // is integral and price rounds to whole units, so every sum is an
  // exact integer (Σy² ~ 2e15 « 2^63) -> engine-reproducible
  // slope/intercept/r2
  Q("reg1_ols", (s, dir) =>
    Stats.olsFit(
      t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice")).cast("long").as("price_units")),
      Seq("l_returnflag"), col("qty"), col("price_units")),
    // exact-integer moment sums (quantity integral, price rounded to
    // whole units), centered-moment algebra on the exact scalars —
    // the same tree as Stats.olsFit
    """WITH base AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_quantity) AS BIGINT) AS x,
      |         CAST(round(l_extendedprice) AS BIGINT) AS y
      |  FROM lineitem),
      |agg AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM base GROUP BY 1),
      |d AS (
      |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
      |         CAST(sxy AS DOUBLE) AS sxyd
      |  FROM agg),
      |c AS (
      |  SELECT l_returnflag, n, nd, sxd, syd,
      |         sxxd - sxd * sxd / nd AS cxx,
      |         syyd - syd * syd / nd AS cyy,
      |         sxyd - sxd * syd / nd AS cxy
      |  FROM d)
      |SELECT l_returnflag, n,
      |       round(cxy / cxx * (1.0 / 1.0), 6) AS slope,
      |       round(syd / nd / 1.0 - (cxy / cxx * (1.0 / 1.0)) * (sxd / nd / 1.0), 6)
      |         AS intercept,
      |       round(cxy * cxy / (cxx * cyy), 6) AS r2
      |FROM c""".stripMargin)

  // 2-D Pareto frontier of parts: maximize size, MINIMIZE price
  // (negated into the maximize-both operator) — the
  // efficient-frontier shape without a global sort; the oracle is
  // the quadratic NOT EXISTS dominance definition
  Q("sky1_pareto_front", (s, dir) =>
    Stats.paretoFront(
      t(s, dir, "part").withColumn("__negprice", -col("p_retailprice")),
      "p_size", "__negprice")
      .select(col("p_partkey"), col("p_size"), col("p_retailprice")),
    // the semantic definition, quadratic: a part is on the frontier
    // iff NO other part is >= on both axes with one strict
    """SELECT p.p_partkey, p.p_size, p.p_retailprice
      |FROM part p
      |WHERE p.p_size IS NOT NULL AND p.p_retailprice IS NOT NULL
      |  AND NOT EXISTS (
      |    SELECT 1 FROM part q
      |    WHERE q.p_size IS NOT NULL AND q.p_retailprice IS NOT NULL
      |      AND q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
      |      AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))""".stripMargin)

  /** Deterministic 4-line fixture for rep3/st21: the third line
    * duplicates the first on every doc_id % 3 == 0. */
  private def linedFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), concat_ws("\n",
        array_join(slice(col("w"), 1, 3), " "),
        array_join(slice(col("w"), 4, 3), " "),
        when(col("doc_id") % 3 === 0, array_join(slice(col("w"), 1, 3), " "))
          .otherwise(array_join(slice(col("w"), 7, 3), " ")),
        array_join(slice(col("w"), 10, 3), " ")).as("text"))

  /** Shared by rep3 (batch) and st21 (the identical stateless
    * projection on a two-micro-batch stream). */
  private val rep3OracleSql: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |fx AS (SELECT doc_id,
        |         array_to_string(w[1:3], ' ') || chr(10) ||
        |         array_to_string(w[4:6], ' ') || chr(10) ||
        |         (CASE WHEN doc_id % 3 = 0 THEN array_to_string(w[1:3], ' ')
        |               ELSE array_to_string(w[7:9], ' ') END) || chr(10) ||
        |         array_to_string(w[10:12], ' ') AS text
        |       FROM base),
        |l AS (SELECT doc_id,
        |        list_filter(list_transform(string_split(text, chr(10)),
        |          x -> trim(x)), x -> length(x) > 0) AS ls
        |      FROM fx),
        |m AS (SELECT doc_id, len(ls) AS nl, len(list_distinct(ls)) AS nd,
        |        list_aggregate(list_transform(ls, x -> length(x)), 'sum') AS ch,
        |        list_aggregate(list_transform(list_distinct(ls),
        |          x -> length(x)), 'sum') AS dch
        |      FROM l)
        |SELECT doc_id, CAST(nl AS BIGINT) AS n_lines,
        |       CASE WHEN nl > 0 THEN round(CAST(nl - nd AS DOUBLE) / nl, 6)
        |            ELSE 0.0 END AS dup_line_frac,
        |       CASE WHEN ch > 0 THEN round(CAST(ch - dch AS DOUBLE) / ch, 6)
        |            ELSE 0.0 END AS dup_line_char_frac
        |FROM m""".stripMargin

  /** url2/dd22's canonical-URL rewrite of column `c` (fragment,
    * tracking params, default ports, trailing `?`/`&`/`/`), ending the
    * select list `AS canonical` over `lo`. */
  private def canonicalUrlSql: String =
    """    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |        c, '#.*$', ''),
      |        '&(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
      |        '\?(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&', '?'),
      |        '\?(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*$', ''),
      |        '^(http://[^/?#]*):80([/?]|$)', '\1\2'),
      |        '^(https://[^/?#]*):443([/?]|$)', '\1\2'),
      |        '[?&]$', ''),
      |        '(//[^/]+/.*[^/])/$', '\1') AS canonical
      |  FROM lo)""".stripMargin
}
