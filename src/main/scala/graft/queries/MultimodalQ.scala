package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

import Fixtures._
import OracleCtes._

/** Queries: beyond-parity: multimodal. */
object MultimodalQ extends Family {

  Q("mm1_media_metadata", (s, dir) =>
    Multimodal.toMediaTable(t(s, dir, "documents"),
        "doc_id", "text", "text/plain", "source")
      .select(col("media_id"), col("meta.format").as("format"),
        col("meta.n_bytes").as("n_bytes"), col("meta.source").as("source")),
    """SELECT doc_id AS media_id, 'text/plain' AS format,
      |       strlen(text) AS n_bytes, source
      |FROM documents""".stripMargin)

  // perceptual dHash over the REAL decoder: horizontally-uniform
  // two-band fixtures pin dhash_h = 0 exactly, and the oracle
  // replays dhash_v's integer block arithmetic analytically
  Q("mm6_image_dhash", (s, dir) => {
    val media = twoBandPngs(s, dir, minSide = 16)
    Multimodal.imageDHash(media)
  },
    // the decoded raster of a two-band image has analytically exact
    // channel means: (top * floor(h/2) + bottom * (h - floor(h/2)))/h
    // — integer numerators, so both engines' IEEE division and
    // round(.,4) agree bit-for-bit
    // replay of imageDHash's integer block arithmetic: vertical grid
    // block k spans pixel rows [ceil(k*h/9), ceil((k+1)*h/9)); the
    // fixture's top band is rows [0, h//2). Horizontal rows are
    // uniform, so dhash_h is exactly 0; dhash_v's bit y repeats
    // across all 8 x positions -> byte weight 255*256^y, folded in
    // HUGEINT and mapped to signed 64-bit like ta3's fingerprint
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 40 + 16 AS INT) AS width,
      |         CAST(doc_id % 23 + 16 AS INT) AS height,
      |         (doc_id % 256) + ((doc_id * 7) % 256) + ((doc_id * 13) % 256) AS ts,
      |         ((doc_id * 3) % 256) + ((doc_id * 11) % 256) + ((doc_id * 17) % 256) AS bs
      |  FROM documents),
      |g AS (
      |  SELECT media_id, width, height, ts, bs, yy.y AS y,
      |""".stripMargin + dhashRowBandCols + """
      |b AS (
      |  SELECT media_id, width, height, y,
      |         CASE WHEN (nt1 * ts + (len1 - nt1) * bs) * len0 >
      |                   (nt0 * ts + (len0 - nt0) * bs) * len1
      |              THEN 1 ELSE 0 END AS bit
      |  FROM g),
      |hv AS (
      |  SELECT media_id, width, height,
      |         sum(CAST(bit AS HUGEINT) * 255 *
      |             (CASE y WHEN 0 THEN 1 WHEN 1 THEN 256 WHEN 2 THEN 65536
      |                     WHEN 3 THEN 16777216 WHEN 4 THEN 4294967296
      |                     WHEN 5 THEN 1099511627776
      |                     WHEN 6 THEN 281474976710656
      |                     ELSE 72057594037927936 END)) AS raw
      |  FROM b GROUP BY media_id, width, height)
      |SELECT media_id, width, height, CAST(0 AS BIGINT) AS dhash_h,
      |       CAST(CASE WHEN raw >= CAST('9223372036854775808' AS HUGEINT)
      |                 THEN raw - CAST('18446744073709551616' AS HUGEINT)
      |                 ELSE raw END AS BIGINT) AS dhash_v
      |FROM hv""".stripMargin)

  // image near-dup pairs end-to-end: real decode -> dHash ->
  // chunk-blocked hamming join (never all-pairs). The fixture's
  // dhash_v bits repeat per byte row, so differences are
  // byte-aligned and <= 1 differing byte (hamming 8) leaves 3 of 4
  // blocking chunks equal — recall is exact, and the oracle can
  // verify against the analytic all-pairs answer
  Q("mm7_image_neardup", (s, dir) => {
    val media = twoBandPngs(s, dir, minSide = 16)
    Dedup.hammingPairs(Multimodal.imageDHash(media),
      "media_id", "dhash_v", maxHamming = 8)
  },
    // all-pairs replay over the analytic dhash_v (mm6's CTE):
    // byte-aligned differences make chunk-blocked recall exact at
    // hamming <= 8, so blocked pairs == the full quadratic answer
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 23 + 16 AS INT) AS height,
      |         (doc_id % 256) + ((doc_id * 7) % 256) + ((doc_id * 13) % 256) AS ts,
      |         ((doc_id * 3) % 256) + ((doc_id * 11) % 256) + ((doc_id * 17) % 256) AS bs
      |  FROM documents),
      |g AS (
      |  SELECT media_id, ts, bs, yy.y AS y,
      |""".stripMargin + dhashRowBandCols + """
      |b AS (
      |  SELECT media_id, y,
      |         CASE WHEN (nt1 * ts + (len1 - nt1) * bs) * len0 >
      |                   (nt0 * ts + (len0 - nt0) * bs) * len1
      |              THEN 1 ELSE 0 END AS bit
      |  FROM g),
      |hv AS (
      |  SELECT media_id,
      |         sum(CAST(bit AS HUGEINT) * 255 *
      |             (CASE y WHEN 0 THEN 1 WHEN 1 THEN 256 WHEN 2 THEN 65536
      |                     WHEN 3 THEN 16777216 WHEN 4 THEN 4294967296
      |                     WHEN 5 THEN 1099511627776
      |                     WHEN 6 THEN 281474976710656
      |                     ELSE 72057594037927936 END)) AS raw
      |  FROM b GROUP BY media_id),
      |sig AS (
      |  SELECT media_id,
      |         CAST(CASE WHEN raw >= CAST('9223372036854775808' AS HUGEINT)
      |                   THEN raw - CAST('18446744073709551616' AS HUGEINT)
      |                   ELSE raw END AS BIGINT) AS v
      |  FROM hv)
      |SELECT a.media_id AS id_a, b.media_id AS id_b,
      |       bit_count(xor(a.v, b.v)) AS hamming
      |FROM sig a JOIN sig b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.v, b.v)) <= 8""".stripMargin)

  // explicit block-mean RESIZE of the two-band PNGs to a 4x4 grid:
  // real decode, exact block sums, one divide per cell — the
  // oracle computes every cell's mean analytically from the band
  // geometry (column-uniform colors: the mean depends only on gy,
  // the pixel count on both axes)
  Q("mm9_image_resize", (s, dir) => {
    val media = twoBandPngs(s, dir, minSide = 16)
    Multimodal.resizeLuma(media, gw = 4, gh = 4)
  },
    // block boundaries are ceil(g*dim/4); the top band covers rows
    // < height//2, so cell sums are closed-form in the band colors
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 40 + 16 AS INT) AS width,
      |         CAST(doc_id % 23 + 16 AS INT) AS height,
      |         (doc_id % 256) + ((doc_id * 7) % 256) + ((doc_id * 13) % 256) AS ts,
      |         ((doc_id * 3) % 256) + ((doc_id * 11) % 256) + ((doc_id * 17) % 256) AS bs
      |  FROM documents),
      |gys AS (SELECT unnest(range(0, 4)) AS gy),
      |gxs AS (SELECT unnest(range(0, 4)) AS gx),
      |c AS (
      |  SELECT media_id, ts, bs, gys.gy, gxs.gx,
      |         ((gys.gy + 1) * height + 3) // 4
      |           - (gys.gy * height + 3) // 4 AS leny,
      |         GREATEST(0, LEAST(((gys.gy + 1) * height + 3) // 4, height // 2)
      |                    - (gys.gy * height + 3) // 4) AS nt,
      |         ((gxs.gx + 1) * width + 3) // 4
      |           - (gxs.gx * width + 3) // 4 AS lenx
      |  FROM p CROSS JOIN gys CROSS JOIN gxs)
      |SELECT media_id, CAST(gy AS INT) AS gy, CAST(gx AS INT) AS gx,
      |       CAST(leny * lenx AS BIGINT) AS n_px,
      |       round(CAST((nt * ts + (leny - nt) * bs) * lenx AS DOUBLE)
      |             / (3.0 * CAST(leny * lenx AS DOUBLE)), 4) AS mean_luma
      |FROM c""".stripMargin)

  // audio near-dup: groups of 5 docs share (n, halfPeriod) but
  // differ in amplitude — the gain-invariant window-parity
  // fingerprint (REAL javax.sound decode on executors) collides
  // exactly within groups; the oracle computes every fingerprint
  // analytically from the square-wave parameters
  Q("mm8_audio_neardup", (s, dir) => {
    val media = Multimodal.synthesizeWavTable(
      t(s, dir, "documents").select("doc_id"), "doc_id",
      sampleRate = lit(8000),
      nSamples = expr("(doc_id DIV 5) % 200 + 400"),
      amp = expr("(doc_id % 5) * 500 + 1000"),
      halfPeriod = expr("(doc_id DIV 5) % 9 + 1"))
    Multimodal.audioNearDupPairs(media)
  },
    // fingerprints analytically: a square wave flips sign exactly at
    // the multiples of halfPeriod, so bit w is the parity of the
    // multiples landing in window w; amplitude never enters
    """WITH prm AS (
      |  SELECT doc_id, (doc_id // 5) % 200 + 400 AS n,
      |         (doc_id // 5) % 9 + 1 AS hp
      |  FROM documents),
      |fl AS (SELECT doc_id, n, hp,
      |              unnest(range(1, (n - 1) // hp + 1)) AS j
      |       FROM prm),
      |b AS (SELECT doc_id, CAST((j * hp * 64) // n AS INTEGER) AS w FROM fl),
      |p AS (SELECT doc_id, w, count(*) % 2 AS bit FROM b GROUP BY 1, 2),
      |fp AS (SELECT doc_id,
      |              CAST(sum(bit * (CASE WHEN w = 63
      |                     THEN CAST(-9223372036854775807 AS BIGINT) - 1
      |                     ELSE CAST(1 AS BIGINT) << w END))
      |                   AS BIGINT) AS fingerprint
      |       FROM p GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.fingerprint
      |FROM fp a JOIN fp b2
      |  ON a.fingerprint = b2.fingerprint AND a.doc_id < b2.doc_id""".stripMargin)

  Q("mm2_media_features", (s, dir) => {
    // REAL codec round-trip: deterministic two-band PNGs (dims and
    // colors are arithmetic in doc_id) encoded AND decoded with
    // javax.imageio on executors; the oracle recomputes the decoded
    // dimensions and exact channel means analytically
    val media = twoBandPngs(s, dir, minSide = 8)
    Multimodal.extractFeatures(media)
      .select(col("media_id"), col("width"), col("height"),
        round(col("features")(0), 4).as("mean_r"),
        round(col("features")(1), 4).as("mean_g"),
        round(col("features")(2), 4).as("mean_b"))
  },
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 40 + 8 AS INT) AS width,
      |         CAST(doc_id % 23 + 8 AS INT) AS height,
      |         doc_id % 256 AS r1, (doc_id * 7) % 256 AS g1, (doc_id * 13) % 256 AS b1,
      |         (doc_id * 3) % 256 AS r2, (doc_id * 11) % 256 AS g2, (doc_id * 17) % 256 AS b2
      |  FROM documents)
      |SELECT media_id, width, height,
      |       round((r1 * (height // 2) + r2 * (height - height // 2)) * 1.0 / height, 4) AS mean_r,
      |       round((g1 * (height // 2) + g2 * (height - height // 2)) * 1.0 / height, 4) AS mean_g,
      |       round((b1 * (height // 2) + b2 * (height - height // 2)) * 1.0 / height, 4) AS mean_b
      |FROM p""".stripMargin)

  // TPC-H Q7 shape (volume shipping): the same nation dim joined
  // TWICE under different roles (supplier vs customer side), a
  // symmetric pair filter, and a year-bucketed revenue rollup
  Q("q7_volume_shipping", (s, dir) => {
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_6" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_6"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
  },
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
      |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_6' AND n2.n_name = 'NATION_7')
      |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_6')
      |GROUP BY 1, 2, 3""".stripMargin)

  // TPC-H Q10 shape (returned items): quarter-scoped revenue lost
  // to returns per customer, top 20 — date-range pushdown, a
  // return-flag filter, and a deterministic rounded-revenue TopK
  Q("q10_returned_items", (s, dir) => {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp_ntz"))
      .filter(col("o_orderdate") < lit("1996-10-01").cast("timestamp_ntz"))
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  },
    """SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS c_acctbal,
      |       n.n_name,
      |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-10-01'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY revenue DESC, c.c_custkey ASC
      |LIMIT 20""".stripMargin)

  // TPC-H Q18 shape (large orders): IN-subquery over a HAVING
  // aggregate — orders whose total quantity clears a threshold,
  // re-joined to customers and re-aggregated
  Q("q18_large_orders", (s, dir) => {
    // fresh scan for the subquery side: reusing the same DataFrame
    // in both roles trips the ambiguous-self-join check
    val big = t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"))
      .filter(col("sum_qty") > 300)
      .select(col("l_orderkey").as("big_orderkey"))
    val li = t(s, dir, "lineitem")
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("big_orderkey"), "left_semi")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === li("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
  },
    """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
      |       round(o.o_totalprice, 2) AS o_totalprice,
      |       round(sum(l.l_quantity), 2) AS total_qty
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING round(sum(l_quantity), 2) > 300)
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin)

  // TPC-H Q8 shape (market share): one supplier nation's share of
  // ECONOMY-part revenue sold into ASIA customers, per order year —
  // a conditional-sum ratio over a six-way join with a semi-join
  // region filter
  Q("q8_market_share", (s, dir) => {
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val supNation = t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val asiaNations = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey").as("c_nk"))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"), "left_semi")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(supNation), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_6", vol).otherwise(lit(0.0))) /
          sum(vol), 4).as("mkt_share"))
  },
    """SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |       round(sum(CASE WHEN sn.n_name = 'NATION_6'
      |                      THEN l.l_extendedprice * (1.0 - l.l_discount)
      |                      ELSE 0.0 END)
      |             / sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS mkt_share
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |WHERE c.c_nationkey IN (
      |  SELECT n.n_nationkey FROM nation n
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE r.r_name = 'ASIA')
      |GROUP BY 1""".stripMargin)

  // TPC-H Q14 shape (promo revenue): conditional-sum percentage of
  // PROMO-part revenue within one ship month
  Q("q14_promo_revenue", (s, dir) => {
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp_ntz"))
      .filter(col("l_shipdate") < lit("1997-10-01").cast("timestamp_ntz"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0))) /
          sum(vol), 4).as("promo_revenue"))
  },
    """SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
      |                             THEN l.l_extendedprice * (1.0 - l.l_discount)
      |                             ELSE 0.0 END)
      |             / sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS promo_revenue
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      |  AND l.l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin)

  // TPC-H Q15 shape (top supplier): quarter revenue per supplier,
  // keep the max — the scalar-subquery-on-an-aggregate pattern, as
  // a broadcast join against the 1-row max frame
  Q("q15_top_supplier", (s, dir) => {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz"))
      .filter(col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  },
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, r.total_revenue
      |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
      |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin)

  // TPC-H Q17 shape (small-quantity revenue): correlated
  // avg-quantity-per-part subquery as a self-aggregate join; the
  // threshold is exact because quantities are integral (their sum
  // is an exact double in any order)
  Q("q17_small_quantity", (s, dir) => {
    val pk = broadcast(t(s, dir, "part")
      .filter(col("p_brand") === "Brand#12").select("p_partkey"))
    // fresh scans on each side of the self-aggregate join
    val avgq = t(s, dir, "lineitem")
      .join(pk, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("agg_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_limit"))
    t(s, dir, "lineitem")
      .join(pk, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(avgq, col("l_partkey") === col("agg_partkey"))
      .filter(col("l_quantity") < col("qty_limit"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  },
    """WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#12'),
      |     avgq AS (
      |  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_limit
      |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM pk)
      |  GROUP BY 1)
      |SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
      |FROM lineitem l
      |JOIN avgq a ON l.l_partkey = a.l_partkey
      |WHERE l.l_partkey IN (SELECT p_partkey FROM pk)
      |  AND l.l_quantity < a.qty_limit""".stripMargin)

  // TPC-H Q19 shape (disjunctive predicates): three brand/size/
  // quantity disjuncts over the lineitem-part join — the OR must
  // not defeat the broadcast or the scan pruning
  Q("q19_disjunctive", (s, dir) => {
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
  },
    """SELECT round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
      |       AND l.l_quantity BETWEEN 1 AND 11)
      |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
      |       AND l.l_quantity BETWEEN 10 AND 20)
      |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)

  // TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS and
  // NOT EXISTS correlated on the same fact table with an inequality
  // rider — a semi join AND an anti join against fresh lineitem
  // scans, sharing the orderkey equi-key
  Q("q21_waiting_supplier", (s, dir) => {
    val l1 = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val l2 = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val l3 = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    l1.join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .join(l2, col("l_orderkey") === col("k2") &&
        col("l_suppkey") =!= col("s2"), "left_semi")
      .join(l3, col("l_orderkey") === col("k3") &&
        col("l_suppkey") =!= col("s3"), "left_anti")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  },
    """SELECT s.s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders o ON l1.l_orderkey = o.o_orderkey
      |              AND o.o_orderstatus = 'F'
      |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY 1
      |ORDER BY numwait DESC, s_name ASC
      |LIMIT 20""".stripMargin)

  // TPC-H Q22 shape (global-balance anti join): customers above the
  // positive-balance average with no orders, bucketed — a global
  // scalar aggregate broadcast back plus an anti join
  Q("q22_global_balance", (s, dir) => {
    val avgBal = t(s, dir, "customer")
      .filter(col("c_acctbal") > 0.0)
      .agg(round(avg(col("c_acctbal")), 2).as("avg_bal"))
    t(s, dir, "customer")
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(t(s, dir, "orders").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 5).cast("int").as("cntry_bucket"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 2).as("totacctbal"))
  },
    """WITH ab AS (
      |  SELECT round(avg(c_acctbal), 2) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT CAST(c.c_nationkey % 5 AS INT) AS cntry_bucket,
      |       count(*) AS numcust,
      |       round(sum(c.c_acctbal), 2) AS totacctbal
      |FROM customer c, ab
      |WHERE c.c_acctbal > ab.avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY 1""".stripMargin)

  // TPC-H Q2 shape (minimum-cost supplier): the correlated
  // min-supplycost-per-part subquery as a self-aggregate join;
  // exact equality works because supplycost is 2-decimal by
  // construction. partsupp is the deterministic fixture.
  Q("q2_min_cost_supplier", (s, dir) => {
    val euro = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("n_nationkey"), col("n_name"))
    val euroSupp = t(s, dir, "supplier")
      .join(broadcast(euro), col("s_nationkey") === col("n_nationkey"))
    val ps = partsuppFixture(s, dir)
      .join(euroSupp.select("s_suppkey"),
        col("ps_suppkey") === col("s_suppkey"), "left_semi")
    val minCost = ps.groupBy(col("ps_partkey").as("mc_partkey"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    partsuppFixture(s, dir)
      .join(broadcast(t(s, dir, "part").filter(col("p_size") === 15)
        .select("p_partkey", "p_name")),
        col("ps_partkey") === col("p_partkey"))
      .join(minCost, col("ps_partkey") === col("mc_partkey") &&
        col("ps_supplycost") === col("min_cost"))
      .join(euroSupp, col("ps_suppkey") === col("s_suppkey"))
      .select(round(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"),
        col("n_name"), col("p_partkey"), col("p_name"),
        col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc,
        col("s_name").asc, col("p_partkey").asc)
      .limit(100)
  },
    ("WITH " + psFixtureSql + "," +
    """
      |euro AS (
      |  SELECT s.s_suppkey, s.s_name, round(s.s_acctbal, 2) AS s_acctbal,
      |         n.n_name
      |  FROM supplier s
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE r.r_name = 'EUROPE'),
      |mc AS (
      |  SELECT ps_partkey, min(ps_supplycost) AS min_cost
      |  FROM ps JOIN euro ON ps.ps_suppkey = euro.s_suppkey
      |  GROUP BY 1)
      |SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name,
      |       ps.ps_supplycost
      |FROM ps
      |JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_size = 15
      |JOIN mc ON ps.ps_partkey = mc.ps_partkey
      |        AND ps.ps_supplycost = mc.min_cost
      |JOIN euro e ON ps.ps_suppkey = e.s_suppkey
      |ORDER BY e.s_acctbal DESC, e.n_name ASC, e.s_name ASC, p.p_partkey ASC
      |LIMIT 100""".stripMargin))

  // TPC-H Q9 shape (product-type profit): revenue minus supply cost
  // over a five-way join, grouped by supplier nation and year
  Q("q9_product_profit", (s, dir) => {
    val ps = partsuppFixture(s, dir)
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .filter(col("p_name").like("%red%")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        - col("ps_supplycost") * col("l_quantity")), 2).as("profit"))
  },
    ("WITH " + psFixtureSql +
    """
      |SELECT n.n_name AS nation,
      |       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)
      |                 - ps.ps_supplycost * l.l_quantity), 2) AS profit
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
      |JOIN ps ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |GROUP BY 1, 2""".stripMargin))

  // TPC-H Q11 shape (important stock): one nation's inventory value
  // per part, kept above a fraction of the total — the total rides
  // back in as a broadcast 1-row frame, never a driver action
  Q("q11_important_stock", (s, dir) => {
    val natSupp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = partsuppFixture(s, dir)
      .join(natSupp, col("ps_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_supplycost") * col("ps_availqty")).as("value"))
    val tot = v.agg((sum(col("value")) * 0.002).as("threshold"))
    v.join(broadcast(tot))
      .filter(round(col("value"), 2) > round(col("threshold"), 2))
      .select(col("ps_partkey"), round(col("value"), 2).as("value"))
      .orderBy(col("value").desc, col("ps_partkey").asc)
  },
    ("WITH " + psFixtureSql + "," +
    """
      |v AS (
      |  SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value
      |  FROM ps
      |  WHERE ps_suppkey IN (
      |    SELECT s_suppkey FROM supplier s
      |    JOIN nation n ON s.s_nationkey = n.n_nationkey
      |    WHERE n.n_name = 'NATION_3')
      |  GROUP BY 1)
      |SELECT ps_partkey, round(value, 2) AS value
      |FROM v
      |WHERE round(value, 2) > round((SELECT sum(value) * 0.002 FROM v), 2)
      |ORDER BY value DESC, ps_partkey ASC""".stripMargin))

  // TPC-H Q16 shape (supplier relationship): distinct-supplier
  // counts per part shape, excluding flagged suppliers via NOT IN
  // (planned as a broadcast anti join)
  Q("q16_supplier_relationship", (s, dir) => {
    val flagged = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    partsuppFixture(s, dir)
      .join(broadcast(flagged),
        col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(t(s, dir, "part"), col("ps_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  },
    ("WITH " + psFixtureSql +
    """
      |SELECT p.p_brand, p.p_type, p.p_size,
      |       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
      |FROM ps
      |JOIN part p ON ps.ps_partkey = p.p_partkey
      |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      |  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      |  AND ps.ps_suppkey NOT IN
      |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin))

  // TPC-H Q20 shape (part promotion): suppliers whose stock exceeds
  // half a year's shipments of that part — nested IN subqueries as
  // chained semi joins; the threshold is exact (integral quantities)
  Q("q20_part_promotion", (s, dir) => {
    val sq = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg((sum(col("l_quantity")) * 0.5).as("half_qty"))
    val redParts = t(s, dir, "part")
      .filter(col("p_name").like("red%")).select("p_partkey")
    val qualified = partsuppFixture(s, dir)
      .join(broadcast(redParts),
        col("ps_partkey") === col("p_partkey"), "left_semi")
      .join(sq, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") > col("half_qty"))
      .select(col("ps_suppkey"))
    t(s, dir, "supplier")
      .join(qualified, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey").asc)
  },
    ("WITH " + psFixtureSql + "," +
    """
      |sq AS (
      |  SELECT l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1, 2)
      |SELECT s.s_suppkey, s.s_name
      |FROM supplier s
      |WHERE s.s_suppkey IN (
      |  SELECT ps.ps_suppkey FROM ps
      |  JOIN sq ON ps.ps_partkey = sq.l_partkey
      |         AND ps.ps_suppkey = sq.l_suppkey
      |  WHERE ps.ps_partkey IN
      |        (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND ps.ps_availqty > sq.half_qty)
      |ORDER BY s.s_suppkey ASC""".stripMargin))

  Q("mm3_audio_features", (s, dir) => {
    // REAL audio codec round-trip: square-wave mono 16-bit PCM
    // clips (params arithmetic in doc_id) encoded AND decoded with
    // javax.sound.sampled on executors; every sample is ±amp, so
    // the decoded peak and RMS equal amp EXACTLY and the sign-flip
    // count is closed-form — the oracle recomputes all of it
    val d = col("doc_id")
    val media = Multimodal.synthesizeWavTable(
      t(s, dir, "documents").select("doc_id"), "doc_id",
      sampleRate = (d % 4) * 4000 + 8000,
      nSamples = (d % 200) + 400,
      amp = (d % 20) * 500 + 1000,
      halfPeriod = (d % 9) + 1)
    Multimodal.extractAudioFeatures(media)
  },
    // analytic square-wave ground truth: every sample is ±amp, so
    // peak = rms = amp exactly; sign transitions occur at every
    // halfPeriod boundary -> floor((n-1)/halfPeriod)
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |         CAST((doc_id % 4) * 4000 + 8000 AS INT) AS sample_rate,
      |         CAST((doc_id % 200) + 400 AS BIGINT) AS n_samples,
      |         CAST((doc_id % 20) * 500 + 1000 AS INT) AS peak,
      |         CAST((doc_id % 9) + 1 AS BIGINT) AS hp
      |  FROM documents)
      |SELECT media_id, sample_rate, CAST(1 AS INT) AS channels,
      |       n_samples, peak, peak * 1.0 AS rms,
      |       (n_samples - 1) // hp AS n_flips
      |FROM p""".stripMargin)

  Q("mm4_video_features", (s, dir) => {
    // REAL video container round-trip: RIFF/AVI clips of solid
    // alternating-color DIB frames (params arithmetic in doc_id)
    // assembled on executors, then demuxed + frame-decoded by
    // extractVideoFeatures; header fields round-trip exactly and
    // channel means are the frame-count-weighted color average
    val media = aviClips(s, dir)
    Multimodal.extractVideoFeatures(media)
      .select(col("media_id"), col("width"), col("height"),
        col("micros_per_frame"), col("n_frames"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
  },
    // alternating solid frames: channel means are the frame-count-
    // weighted average of the two colors — integer numerators over
    // the frame count, so IEEE division and round(.,4) agree exactly
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |         CAST((doc_id % 3) * 8 + 16 AS INT) AS width,
      |         CAST((doc_id % 5) * 4 + 8 AS INT) AS height,
      |         CAST((doc_id % 5) * 1000 + 20000 AS INT) AS micros_per_frame,
      |         CAST((doc_id % 7) + 2 AS BIGINT) AS n_frames,
      |         (doc_id % 4) * 60 + 10 AS er,
      |         (doc_id % 8) * 30 + 5 AS eg,
      |         (doc_id % 16) * 15 AS eb
      |  FROM documents)
      |SELECT media_id, width, height, micros_per_frame, n_frames,
      |       round(((n_frames + 1) // 2 * er + n_frames // 2 * (255 - er))
      |             / CAST(n_frames AS DOUBLE), 4) AS mean_r,
      |       round(((n_frames + 1) // 2 * eg + n_frames // 2 * (250 - eg))
      |             / CAST(n_frames AS DOUBLE), 4) AS mean_g,
      |       round(((n_frames + 1) // 2 * eb + n_frames // 2 * (240 - eb))
      |             / CAST(n_frames AS DOUBLE), 4) AS mean_b
      |FROM p""".stripMargin)

  Q("mm5_frame_sample", (s, dir) => {
    // REAL frame sampling: decode every 2nd frame of the same AVI
    // fixture; sampled (even) frames are solid evenRgb, so the
    // per-frame means are the exact color components
    val media = aviClips(s, dir)
    Multimodal.sampleVideoFrames(media, stride = 2)
  },
    // even (sampled) frames are solid evenRgb, so each decoded
    // frame's means are exactly the color components
    """WITH p AS (
      |  SELECT doc_id AS media_id,
      |         CAST((doc_id % 3) * 8 + 16 AS INT) AS width,
      |         CAST((doc_id % 5) * 4 + 8 AS INT) AS height,
      |         (doc_id % 7) + 2 AS n_frames,
      |         (doc_id % 4) * 60 + 10 AS er,
      |         (doc_id % 8) * 30 + 5 AS eg,
      |         (doc_id % 16) * 15 AS eb
      |  FROM documents)
      |SELECT media_id, CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx,
      |       width, height,
      |       er * 1.0 AS mean_r, eg * 1.0 AS mean_g, eb * 1.0 AS mean_b
      |FROM p""".stripMargin)

  Q("agg3_rollup", (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n")),
    """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
      |       count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)

  Q("j2_asof_join", (s, dir) => {
    // as-of enrichment: each event gets the value of the user's
    // most recent purchase at-or-before its timestamp
    val (ev, purchases) = eventsAndPurchases(s, dir)
    AsOfJoin.asofBackward(ev, purchases,
      keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      valueCols = Seq("purchase_value"))
  },
    eventPurchaseCtes + """
      |SELECT e.user_id, e.ts, e.event_id, p.purchase_value
      |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)

  // forward as-of: each event gets the user's NEXT purchase at or
  // after its timestamp
  Q("j4_asof_forward", (s, dir) => {
    val (ev, purchases) = eventsAndPurchases(s, dir)
    AsOfJoin.asofForward(ev, purchases,
      keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      valueCols = Seq("purchase_value"))
  },
    eventPurchaseCtes + """
      |SELECT e.user_id, e.ts, e.event_id, p.purchase_value
      |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts""".stripMargin)

  // nearest as-of: whichever purchase is temporally closest, ties
  // resolved backward
  // point-in-time join: orders (fact time t = o_orderkey % 4) pick
  // up the customer-balance VERSION valid at t from the same
  // CDC-style history scd1 builds; facts before the first version
  // or inside the gap the seq-2 delete opened stay NULL. The range
  // predicate never reaches the planner — asofBackward's union +
  // one-exchange carry plus a row-local expiry check
  Q("j6_temporal_join", (s, dir) => {
    val feed = customerCdcFeed(s, dir)
    val hist = Modes.scdHistory(feed, Seq("c_custkey"), "op", "seq")
      .select("c_custkey", "c_acctbal", "valid_from", "valid_to")
    val facts = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey").as("c_custkey"),
      (col("o_orderkey") % 4).as("t"))
    AsOfJoin.pointInTime(facts, hist, Seq("c_custkey"), "t",
      Seq("c_acctbal"))
  },
    cdcHistoryCtes + """,
      |hist AS (SELECT * FROM h WHERE op <> 'D'),
      |facts AS (
      |  SELECT o_orderkey, o_custkey AS c_custkey, o_orderkey % 4 AS t
      |  FROM orders)
      |SELECT facts.c_custkey, facts.t, facts.o_orderkey, hist.c_acctbal
      |FROM facts LEFT JOIN hist
      |  ON facts.c_custkey = hist.c_custkey
      | AND facts.t >= hist.valid_from
      | AND (hist.valid_to IS NULL OR facts.t < hist.valid_to)""".stripMargin)

  Q("j5_asof_nearest", (s, dir) => {
    val (ev, purchases) = eventsAndPurchases(s, dir)
    AsOfJoin.asofNearest(ev, purchases,
      keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      valueCols = Seq("purchase_value"))
  },
    // two directional ASOF joins, the closer candidate wins, exact
    // ties -> backward (the at-or-before row)
    eventPurchaseCtes + """,
      |b AS (
      |  SELECT e.event_id, e.user_id, e.ts, p.ts AS bts, p.purchase_value AS bval
      |  FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts),
      |f AS (
      |  SELECT e.event_id, p.ts AS fts, p.purchase_value AS fval
      |  FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts)
      |SELECT b.user_id, b.ts, b.event_id,
      |       CASE WHEN fts IS NULL THEN bval
      |            WHEN bts IS NULL THEN fval
      |            WHEN epoch_us(fts) - epoch_us(b.ts)
      |                 < epoch_us(b.ts) - epoch_us(bts) THEN fval
      |            ELSE bval END AS purchase_value
      |FROM b JOIN f USING (event_id)""".stripMargin)

  // keyless interval join: Spark would plan the raw range predicate
  // as a BroadcastNestedLoopJoin (O(|L|*|R|)); the binned operator
  // turns it into an equi-join on time bins + exact filter
  Q("j3_range_join", (s, dir) => {
    // filtered sides keep the matched-pair volume demonstrative
    // rather than quadratic-in-sf (the unfiltered 3-day window is
    // ~1e8 TRUE pairs at sf0.1 — a property of the query, not the
    // operator; candidate overhead vs true pairs stays ~2x)
    val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      .select("l_shipdate", "l_quantity")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("o_end"))
    AsOfJoin.binnedRangeJoin(li, ord, "l_shipdate", "o_orderdate", "o_end",
        binWidth = "3 days")
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"))
  },
    """SELECT o.o_orderkey, count(*) AS n_items,
      |       round(sum(l.l_quantity), 2) AS sum_qty
      |FROM orders o JOIN lineitem l
      |  ON l.l_shipdate >= o.o_orderdate
      | AND l.l_shipdate < o.o_orderdate + INTERVAL 3 DAY
      |WHERE o.o_orderpriority = '1-URGENT' AND l.l_quantity >= 45
      |GROUP BY 1""".stripMargin)

  // two-sided keyless interval overlap: both sides explode to time
  // bins, the pair is emitted once from the bin that contains the
  // overlap's first instant — no nested loop, no dedup pass
  Q("j7_interval_overlap", (s, dir) => {
    // shipping window per item: [shipdate, shipdate + 1..25 days)
    // derived from the keys (the testdata has no receiptdate), so
    // both engines rebuild identical intervals
    val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      .select(col("l_shipdate"), col("l_quantity"),
        expr("l_shipdate + make_dt_interval(CAST(l_quantity AS INT) % 25 + 1)")
          .as("l_shipend"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 5 DAYS")).as("o_end"))
    Joins.intervalOverlapJoin(li, ord,
        "l_shipdate", "l_shipend", "o_orderdate", "o_end",
        binWidth = "25 days")
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_overlaps"),
        round(sum("l_quantity"), 2).as("sum_qty"))
  },
    """SELECT o.o_orderkey, count(*) AS n_overlaps,
      |       round(sum(l.l_quantity), 2) AS sum_qty
      |FROM orders o JOIN lineitem l
      |  ON l.l_shipdate < o.o_orderdate + INTERVAL 5 DAY
      | AND o.o_orderdate < l.l_shipdate
      |       + (CAST(l.l_quantity AS INT) % 25 + 1) * INTERVAL 1 DAY
      |WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 400000
      |  AND l.l_quantity >= 49
      |GROUP BY 1""".stripMargin)

  // semi-join reduction: the selective dim's KEY SET rides to the
  // fact scan as a Bloom filter probed in codegen BEFORE the
  // shuffle — the exact join then makes the result identical to the
  // plain join (false positives only ever add candidates)
  Q("j8_bloom_join", (s, dir) => {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 250000)
      .select("o_orderkey", "o_orderdate")
    Joins.bloomPrefilteredJoin(li, ord, "l_orderkey", "o_orderkey",
        expectedDimKeys = 200000)
      .groupBy("o_orderkey")
      // revenue summed in exact integer 1/10000ths: the per-row
      // product is deterministic IEEE, the integer sum is
      // order-independent — so small per-order groups can't flip a
      // half-cent boundary between engines
      .agg(round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 10000).cast("long")) / 10000.0, 2).as("revenue"),
        count(lit(1)).as("n_items"))
  },
    """SELECT o.o_orderkey,
      |       round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
      |                            * 10000) AS BIGINT)) / 10000.0, 2) AS revenue,
      |       count(*) AS n_items
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 250000
      |GROUP BY 1""".stripMargin)

  Q("agg4_cube", (s, dir) =>
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n")),
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)

  // pivot with EXPLICIT values: never collect-distinct the pivot
  // column at scale — declare the spine
  Q("pv1_pivot", (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 2)),
    """SELECT o_orderpriority,
      |       round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS "F",
      |       round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS "O",
      |       round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS "P"
      |FROM orders GROUP BY o_orderpriority""".stripMargin)

  // exact interpolated percentiles (matches quantile_cont); at
  // 100 TB swap for approx_percentile and a rows-only gate
  Q("pct1_percentiles", (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95")),
    """SELECT l_returnflag,
      |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)

  // time-RANGE window frame: trailing 1-hour sum/count per user —
  // frames over a numeric order key plan as a single shuffle+sort,
  // state bounded by the frame
  Q("w3_window_range", (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .withColumn("trail_1h_sum", round(sum("value").over(w), 2))
      .withColumn("trail_1h_n", count(lit(1)).over(w))
      .select("event_id", "user_id", "ts", "trail_1h_sum", "trail_1h_n")
  },
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |       round(sum(value) OVER w, 2) AS trail_1h_sum,
      |       count(*) OVER w AS trail_1h_n
      |FROM (SELECT event_id, user_id, ts, value,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)

  /** Deterministic partsupp fixture: the testdata has no partsupp
    * table, so synthesize the TPC-H relationship — 4 suppliers per
    * part by modular arithmetic (collision-free for i in 0..3 at any
    * supplier count >= 53), availqty/supplycost derived from the keys
    * so both engines rebuild identical rows. The supplier count rides
    * in as a broadcast 1-row frame, never a driver action. Unlocks
    * the Q2/Q9/Q11/Q16/Q20 shapes. */
  private def partsuppFixture(s: SparkSession, dir: String): DataFrame = {
    val ns = broadcast(t(s, dir, "supplier").agg(count(lit(1)).as("__ns")))
    t(s, dir, "part").select(col("p_partkey"))
      .crossJoin(ns)
      .select(col("p_partkey"), col("__ns"),
        explode(sequence(lit(0L), lit(3L))).as("i"))
      .select(
        col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") * 7 + col("i") * 13) % col("__ns")).as("ps_suppkey"),
        ((col("p_partkey") * 13 + col("i") * 17) % 9999 + 1).cast("int")
          .as("ps_availqty"),
        round(((col("p_partkey") * 31 + col("i") * 7) % 90000) / lit(100.0)
          + 100.0, 2).as("ps_supplycost"))
  }

  /** The partsupp fixture as oracle SQL (kept textually in one place:
    * every qN oracle that needs it prepends this CTE). */
  private val psFixtureSql: String =
    """ps AS (
      |  SELECT p.p_partkey AS ps_partkey,
      |         (p.p_partkey * 7 + t.i * 13) %
      |           (SELECT count(*) FROM supplier) AS ps_suppkey,
      |         CAST((p.p_partkey * 13 + t.i * 17) % 9999 + 1 AS INT) AS ps_availqty,
      |         round((p.p_partkey * 31 + t.i * 7) % 90000 / 100.0 + 100.0, 2)
      |           AS ps_supplycost
      |  FROM part p, unnest([0, 1, 2, 3]) AS t(i))""".stripMargin

  /** Deterministic two-band PNGs, one per doc: dims and colors are
    * arithmetic in doc_id (sides from `minSide`), top and bottom bands
    * solid, so decoded features are analytically exact. */
  private def twoBandPngs(s: SparkSession, dir: String,
      minSide: Int): DataFrame = {
    val d = col("doc_id")
    def pack(r: Column, g: Column, b: Column): Column =
      shiftleft(r, 16).bitwiseOR(shiftleft(g, 8)).bitwiseOR(b)
    Multimodal.synthesizePngTable(
      t(s, dir, "documents").select("doc_id"), "doc_id",
      width = d % 40 + minSide, height = d % 23 + minSide,
      topRgb = pack(d % 256, (d * 7) % 256, (d * 13) % 256),
      bottomRgb = pack((d * 3) % 256, (d * 11) % 256, (d * 17) % 256))
  }

  /** mm4/mm5's RIFF/AVI clips, one per doc: solid alternating-color
    * DIB frames whose dims, frame count, rate and colors are
    * arithmetic in doc_id. */
  private def aviClips(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val er = (d % 4) * 60 + 10
    val eg = (d % 8) * 30 + 5
    val eb = (d % 16) * 15
    Multimodal.synthesizeAviTable(
      t(s, dir, "documents").select("doc_id"), "doc_id",
      width = (d % 3) * 8 + 16,
      height = (d % 5) * 4 + 8,
      nFrames = (d % 7) + 2,
      microsPerFrame = (d % 5) * 1000 + 20000,
      evenRgb = er * 65536 + eg * 256 + eb,
      oddRgb = (lit(255) - er) * 65536 + (lit(250) - eg) * 256 + (lit(240) - eb))
  }

  /** The as-of join sides of j2/j4/j5: every event, and the max
    * purchase value per (user, ts). */
  private def eventsAndPurchases(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = events(s, dir)
    (ev.select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value")))
  }

  /** [[eventsAndPurchases]] as oracle SQL: events `e` and the max
    * purchase value per (user, ts), `p`. */
  private def eventPurchaseCtes: String =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)""".stripMargin

  /** The dHash row-band geometry of a two-band image for row y of the
    * 9-row grid: rows per band cell (len0/len1) and how many of them
    * fall in the top band (nt0/nt1); closes the select over `p`. */
  private def dhashRowBandCols: String =
    """         ((yy.y + 1) * height + 8) // 9 - (yy.y * height + 8) // 9 AS len0,
      |         GREATEST(0, LEAST(((yy.y + 1) * height + 8) // 9, height // 2)
      |                    - (yy.y * height + 8) // 9) AS nt0,
      |         ((yy.y + 2) * height + 8) // 9 - ((yy.y + 1) * height + 8) // 9 AS len1,
      |         GREATEST(0, LEAST(((yy.y + 2) * height + 8) // 9, height // 2)
      |                    - ((yy.y + 1) * height + 8) // 9) AS nt1
      |  FROM p CROSS JOIN (SELECT unnest(range(0, 8)) AS y) yy),""".stripMargin
}
