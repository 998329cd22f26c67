package graft
package queries

/** Oracle SQL fragments shared by several family files: CTE chains
  * (and one expression helper) that more than one family's DuckDB
  * oracles replay verbatim. */
object OracleCtes {

  /** SQL replay of a count-min sketch over `itemsSql` (a SELECT
    * yielding one `item` column): exact per-item counts, salted
    * limb-hash buckets ([[graft.operators.Sampling.idHash]] algebra),
    * counter sums, min over `depth` — shared by the batch (hh2) and
    * streaming (st12) folds, whose counters are identical by
    * construction. */
  private[queries] def cmsOracleSql(itemsSql: String, depth: Int, width: Int): String =
    s"""WITH it AS ($itemsSql),
       |ex AS (SELECT item, CAST(count(*) AS BIGINT) AS n_true
       |       FROM it GROUP BY 1),
       |expl AS (SELECT item, n_true, unnest(range(0, $depth)) AS d FROM ex),
       |hx AS (SELECT item, n_true, d,
       |              (item + d * 1000003) % 4294967296 AS lo FROM expl),
       |hh AS (SELECT item, n_true, d,
       |        (lo // 65536 * 2654435761 % 4294967296 * 65536
       |         + lo % 65536 * 2654435761) % 4294967296 % $width AS bucket
       |       FROM hx),
       |ctr AS (SELECT d, bucket, CAST(sum(n_true) AS BIGINT) AS c
       |        FROM hh GROUP BY 1, 2),
       |est AS (SELECT h.item, h.n_true, min(c) AS cms_est
       |        FROM hh h JOIN ctr USING (d, bucket)
       |        GROUP BY h.item, h.n_true)
       |SELECT item, n_true, cms_est, cms_est - n_true AS overcount
       |FROM est""".stripMargin

  /** kmeans1/div1 oracle prefix: Lloyd's iterations unrolled as CTEs
    * with the SAME deterministic contract as `Clustering.kmeans` —
    * init = k smallest-id vectors, argmin ties to the lower centroid
    * id, empty clusters keep their previous centroid. Distances
    * enter the output only through argmin/rank, so the compared
    * columns are integral and per-engine FP summation order in the
    * centroid means cannot break the hash compare. Ends with `af`,
    * the final (vec_id, embedding, cluster, dist) assignment. */
  private[queries] def kmeansOracleCtes(k: Int, iters: Int, dim: Int): String = {
    def assign(label: String, cents: String): String =
      s"""$label AS (
         |  SELECT vec_id, embedding, cid AS cluster, dist FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |           list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) ASC,
         |                      c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    def update(step: Int, aLabel: String, prev: String): String =
      s"""m$step AS (
         |  SELECT cluster AS cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT a.cluster, d.i, avg(a.embedding[d.i]) AS m
         |    FROM $aLabel a CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) d
         |    GROUP BY a.cluster, d.i)
         |  GROUP BY cluster),
         |c$step AS (
         |  SELECT p.cid, coalesce(m.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN m$step m USING (cid))""".stripMargin
    val parts = Seq(
      s"""WITH c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |         CAST(embedding AS DOUBLE[]) AS cv
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT $k))""".stripMargin) ++
      (1 to iters).flatMap(i =>
        Seq(assign(s"a$i", s"c${i - 1}"), update(i, s"a$i", s"c${i - 1}"))) ++
      Seq(assign("af", s"c$iters"))
    parts.mkString(",\n")
  }

  /** PQ oracle CTE chain: replays [[graft.operators.Similarity.pqTrain]]'s
    * deterministic fused Lloyd's (m=8 subspaces, k=16, 2 iterations)
    * generically over tables — subvectors via list slices, assignment
    * cost in the EXACT double form the Spark plan computes
    * (|c|² left-to-right, minus 2·dot accumulated left-to-right),
    * (cost, cid) tie-break via row_number, per-dim avg update with
    * empty clusters keeping their previous centroid. Exposes `c2`
    * (final codebooks) and `a3` (final per-subspace assignments =
    * the PQ codes). Centroid doubles carry engine-specific avg
    * summation ulps — the kmeans1 adjudication: outputs built on the
    * codes stay integral/robust. */
  private[queries] def pqCte: String =
    raw"""WITH v AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
       |  FROM embeddings),
       |subs AS (SELECT CAST(t.range AS INT) AS s FROM range(8) t),
       |vs AS (SELECT vec_id, s, e[s*8+1 : s*8+8] AS sv FROM v, subs),
       |init AS (SELECT e, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid
       |         FROM (SELECT * FROM v ORDER BY vec_id ASC LIMIT 16)),
       |c0 AS (SELECT s, cid, e[s*8+1 : s*8+8] AS cent FROM init, subs),
       |a1 AS (SELECT vec_id, s, cid FROM (
       |    SELECT vs.vec_id, vs.s, c.cid,
       |      row_number() OVER (PARTITION BY vs.vec_id, vs.s ORDER BY
       |        list_sum(list_transform(range(1, 9), i -> c.cent[i] * c.cent[i]))
       |        - list_sum(list_transform(range(1, 9), i -> vs.sv[i] * c.cent[i])) * 2 ASC,
       |        c.cid ASC) AS rn
       |    FROM vs JOIN c0 c ON vs.s = c.s)
       |  WHERE rn = 1),
       |u1 AS (SELECT a.s, a.cid, dd.i AS d, avg(vs.sv[dd.i]) AS mv
       |       FROM a1 a JOIN vs ON a.vec_id = vs.vec_id AND a.s = vs.s,
       |            range(1, 9) dd(i)
       |       GROUP BY 1, 2, 3),
       |c1 AS (SELECT c.s, c.cid, coalesce(u.cent, c.cent) AS cent
       |       FROM c0 c LEFT JOIN (
       |         SELECT s, cid, list(mv ORDER BY d) AS cent FROM u1 GROUP BY s, cid) u
       |       ON c.s = u.s AND c.cid = u.cid),
       |a2 AS (SELECT vec_id, s, cid FROM (
       |    SELECT vs.vec_id, vs.s, c.cid,
       |      row_number() OVER (PARTITION BY vs.vec_id, vs.s ORDER BY
       |        list_sum(list_transform(range(1, 9), i -> c.cent[i] * c.cent[i]))
       |        - list_sum(list_transform(range(1, 9), i -> vs.sv[i] * c.cent[i])) * 2 ASC,
       |        c.cid ASC) AS rn
       |    FROM vs JOIN c1 c ON vs.s = c.s)
       |  WHERE rn = 1),
       |u2 AS (SELECT a.s, a.cid, dd.i AS d, avg(vs.sv[dd.i]) AS mv
       |       FROM a2 a JOIN vs ON a.vec_id = vs.vec_id AND a.s = vs.s,
       |            range(1, 9) dd(i)
       |       GROUP BY 1, 2, 3),
       |c2 AS (SELECT c.s, c.cid, coalesce(u.cent, c.cent) AS cent
       |       FROM c1 c LEFT JOIN (
       |         SELECT s, cid, list(mv ORDER BY d) AS cent FROM u2 GROUP BY s, cid) u
       |       ON c.s = u.s AND c.cid = u.cid),
       |a3 AS (SELECT vec_id, s, cid FROM (
       |    SELECT vs.vec_id, vs.s, c.cid,
       |      row_number() OVER (PARTITION BY vs.vec_id, vs.s ORDER BY
       |        list_sum(list_transform(range(1, 9), i -> c.cent[i] * c.cent[i]))
       |        - list_sum(list_transform(range(1, 9), i -> vs.sv[i] * c.cent[i])) * 2 ASC,
       |        c.cid ASC) AS rn
       |    FROM vs JOIN c2 c ON vs.s = c.s)
       |  WHERE rn = 1)""".stripMargin

  /** Shared CTE chain for the KMV oracles: replays [[kmvTokens]],
    * `token_hash64` (rolling-31 + fmix64, the dd3 replay), the
    * signed reinterpretation (KMV orders by the SIGNED hash — the
    * unsigned uniform XOR 2^63, still uniform), distinct, and the
    * per-lang bottom-128 rank. Ends with `sk(lang, rank, hs)`. */
  private[queries] def kmvSketchCte: String = {
    val m64 = "18446744073709551616"
    val m32 = "4294967296"
    val c1 = 0xff51afd7ed558ccdL
    val c2 = 0xc4ceb9fe1a85ec53L
    def hi(x: Long): Long = (x >>> 32) & 0xffffffffL
    def lo(x: Long): Long = x & 0xffffffffL
    raw"""WITH tok AS (
       |  SELECT DISTINCT lang, w FROM (
       |    SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
       |    FROM documents)
       |  WHERE length(w) > 0),
       |rh AS (SELECT lang,
       |         list_reduce(list_prepend(CAST(0 AS HUGEINT), ${byteFoldList("w")}),
       |           (h, b) -> (h * 31 + b) % $m64) AS h
       |       FROM tok),
       |f1 AS (SELECT lang, xor(h, h >> 33) AS h FROM rh),
       |m1 AS (SELECT lang,
       |         (h * ${lo(c1)} + ((h * ${hi(c1)}) % $m32) * $m32) % $m64 AS h
       |       FROM f1),
       |f2 AS (SELECT lang, xor(h, h >> 33) AS h FROM m1),
       |m2 AS (SELECT lang,
       |         (h * ${lo(c2)} + ((h * ${hi(c2)}) % $m32) * $m32) % $m64 AS h
       |       FROM f2),
       |hv AS (SELECT lang, xor(h, h >> 33) AS h FROM m2),
       |hd AS (SELECT DISTINCT lang,
       |         CAST(CASE WHEN h >= 9223372036854775808 THEN h - $m64 ELSE h END
       |              AS BIGINT) AS hs
       |       FROM hv),
       |sk AS (SELECT lang, CAST(rk AS INT) AS rank, hs FROM (
       |         SELECT lang, hs,
       |           row_number() OVER (PARTITION BY lang ORDER BY hs) AS rk
       |         FROM hd) WHERE rk <= 128)""".stripMargin
  }

  /** UTF-8 BYTE list of a string expression as HUGEINTs — the exact
    * quantity the Spark rolling hashes fold ([[graft.functions.TextExpressions.RollingHash]]
    * and `tokenHash64` iterate `getBytes`, NOT code points). Decodes
    * `hex(encode(s))` pairs positionally, so the replay is
    * byte-exact on any input, ASCII or not (r7 review: the earlier
    * `unicode(c)` form silently diverged on multibyte text). */
  private[queries] def byteFoldList(expr: String): String =
    s"""[CAST((strpos('0123456789ABCDEF', hex(encode($expr))[2*i-1:2*i-1]) - 1) * 16
       |        + (strpos('0123456789ABCDEF', hex(encode($expr))[2*i:2*i]) - 1) AS HUGEINT)
       |       for i in range(1, octet_length(encode($expr)) + 1)]""".stripMargin

  /** dd6's components as oracle SQL, shared by the cluster queries
    * (dd6/dd12/dd26) and sp3: word-set Jaccard >= 0.5 pairs within a
    * language over docs <= 100 (`p`), then connected components by
    * transitive closure — `reach(id, label)` accumulates every
    * smaller-id node reachable from id, so min(label) is the min-label
    * cluster id the Spark operator assigns. */
  private[queries] def jaccardClusterCtes: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang,
      |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents WHERE doc_id <= 100),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.w, b.w))::DOUBLE /
      |        (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.5),
      |e AS (SELECT id_a AS s, id_b AS d FROM p
      |      UNION SELECT id_b AS s, id_a AS d FROM p),
      |reach AS (
      |  SELECT s AS id, s AS label FROM e
      |  UNION
      |  SELECT e.s AS id, r.label AS label FROM e JOIN reach r ON e.d = r.id)""".stripMargin

  /** Distinct word 3-gram set per doc, `g(doc_id, w)` (a doc of <= 3
    * words is one gram) — the Jaccard replay of dd2/dd14/st14. */
  private[queries] def trigramSetCtes: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(l) <= 3 THEN [array_to_string(l, ' ')]
      |         ELSE [array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)] END) AS w
      |  FROM t)""".stripMargin

  /** [[Fixtures.customerCdcFeed]] as oracle SQL, `f`, and its SCD2
    * history `h`: each version open from its seq until the next one
    * (NULL while current). */
  private[queries] def cdcHistoryCtes: String =
    """WITH f AS (
      |  SELECT c_custkey, c_acctbal, 'I' AS op, CAST(0 AS BIGINT) AS seq
      |  FROM customer WHERE c_custkey % 10 <= 2
      |  UNION ALL
      |  SELECT c_custkey, round(c_acctbal + 100, 2), 'U', 1
      |  FROM customer WHERE c_custkey % 10 <= 2
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal, 'D', 2
      |  FROM customer WHERE c_custkey % 10 = 0),
      |h AS (
      |  SELECT c_custkey, c_acctbal, op, seq AS valid_from,
      |         lead(seq) OVER (PARTITION BY c_custkey ORDER BY seq) AS valid_to
      |  FROM f)""".stripMargin
}
