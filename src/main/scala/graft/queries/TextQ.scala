package graft
package queries

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

import Fixtures._
import OracleCtes._

/** Queries: beyond-parity: text analysis. */
object TextQ extends Family {

  Q("ta1_text_stats", (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.charCount(col("text")).as("n_chars_calc"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
      TextAnalysis.digitCount(col("text")).as("n_digits")),
    """SELECT doc_id,
      |       length(text) AS n_chars_calc,
      |       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish,
      |       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
      |FROM documents""".stripMargin)

  Q("ta2_lang_id", (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("lang_guess")),
    langIdOracle)

  // paragraph-level language routing on a mixed-language fixture:
  // two own-text paragraphs + one foreign-marker paragraph + one
  // marker-free ('und') paragraph per doc; the majority election
  // and minority flags are the excision coordinates
  Q("ta7_paragraph_lang", (s, dir) => {
    val own = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val fx = own.select(col("doc_id"), concat_ws("\n\n",
      array_join(slice(col("w"), 1, 6), " "),
      array_join(slice(col("w"), 7, 6), " "),
      when(col("doc_id") % 3 === 1, lit("der und ist nicht das ein zu"))
        .when(col("doc_id") % 3 === 2, lit("le la est dans les et un une"))
        .otherwise(lit("the and of to is in")),
      lit("zzz qqq xxx")).as("text"))
    TextAnalysis.paragraphLangRoute(fx, "doc_id", "text")
  }, ta7OracleSql)

  // MOSS winnowing: every 4-gram-window's minimum word 3-gram,
  // deduped — the recall-complete substring-blocking key set at
  // ~2/(w+1) the full gram density (selection replayable in SQL:
  // lexicographic order, not hash order)
  Q("ta6_winnow_fingerprints", (s, dir) =>
    TextAnalysis.winnowFingerprints(t(s, dir, "documents"),
      "doc_id", "text", gramSize = 3, window = 4),
    // winnowing replay: positional grams as {'g','p'} structs (field
    // order IS the selection order: gram text then position),
    // list_sort(...)[1] per 4-window = the lexicographic minimum,
    // DISTINCT = the fused kernel's consecutive-dup removal
    winnowCtes + """
      |SELECT DISTINCT doc_id, CAST(fp.p AS INT) AS pos, fp.g AS gram
      |FROM (SELECT doc_id, unnest(s) AS fp FROM sel)""".stripMargin)

  // the blocking stage winnowing exists for: candidate pairs by
  // fingerprint collision with the shared count; hot fingerprints
  // (df > cap) dropped deterministically as boilerplate
  Q("dd19_winnow_pairs", (s, dir) =>
    TextAnalysis.winnowCandidatePairs(t(s, dir, "documents"),
      "doc_id", "text", gramSize = 3, window = 4, maxBucketSize = 1000),
    // ta6's fingerprint sets joined on collision, df-capped at 1000
    winnowCtes + """,
      |fp AS (SELECT DISTINCT doc_id, f.g AS gram
      |       FROM (SELECT doc_id, unnest(s) AS f FROM sel)),
      |keep AS (SELECT gram FROM fp GROUP BY gram HAVING count(*) <= 1000)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_fps
      |FROM fp a JOIN keep USING (gram) JOIN fp b USING (gram)
      |WHERE a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin)

  Q("ta3_fingerprint", (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"),
      // raw double, deliberately unrounded: the per-row arithmetic
      // is bit-identical across engines, while round(.,4) splits at
      // exact half-boundaries (0.93125) where Spark's HALF_UP and
      // DuckDB's float rounding disagree
      TextAnalysis.qualityScore(col("text")).as("quality")),
    ta3Oracle)

  // zlib redundancy signal. No SQL engine mirrors DEFLATE, so r11
  // reshapes the output to the kernel's provable CONTRACT, per doc:
  //  - ratio_in_deflate_bound: 0 < ratio <= 1 + overhead/n (zlib's
  //    worst-case raw-deflate expansion, n/1000 + 64 slack);
  //  - doubling_compresses: deflate(text||text) ≤ 2·deflate(text)
  //    + 8 — self-concatenation subadditivity (the encoder can
  //    always code the second copy the way it coded the first, so
  //    only block-boundary slack can be lost; in practice cross-
  //    copy back-references make it strictly cheaper). Holds at ANY
  //    length, compressibility, or window relation — 0 violations
  //    over words/runs/random × 1B..100KB × doubled. A tighter
  //    additive form (len1 + n/32) was tried and is FALSE for
  //    20-30 KB compressible text: level-6 hash chains miss distant
  //    matches and the delta grows ~n/8. DuckDB emits strlen +
  //    literal true, so both bounds are hash-verified per doc
  Q("qf2_compression_signal", (s, dir) => {
    val nb = octet_length(col("text")).cast("long")
    val nd = nb.cast("double")
    val r = TextAnalysis.compressionRatio(col("text"))
    val rr = TextAnalysis.compressionRatio(concat(col("text"), col("text")))
    t(s, dir, "documents").select(col("doc_id"), nb.as("n_bytes"),
      (nb === 0 || (r > 0.0 && r * nd <= nd + nd / 1000.0 + 64.0))
        .as("ratio_in_deflate_bound"),
      // len2 = rr * 2n, len1 = r * n; claim len2 <= 2*len1 + 8
      (rr * 2.0 * nd <= r * nd * 2.0 + 8.0)
        .as("doubling_compresses"))
  },
    """SELECT doc_id, strlen(text) AS n_bytes,
      |       true AS ratio_in_deflate_bound, true AS doubling_compresses
      |FROM documents""".stripMargin)

  // r7/r8: IN-ENGINE trained quality classifier — full-batch GD with
  // integer-quantized gradients and a rational squash, so the
  // trained weights are bit-reproducible and the oracle replays the
  // ENTIRE 64-iteration trajectory (planted junk docs = labels;
  // features are dyadic scalings of exact integer counts; the
  // minority junk class is upweighted 4x — converged config from
  // the r7 hyperparameter grid, accuracy 1.0 on the fixture)
  val qf9 = Q("qf9_trained_quality_gate", (s, dir) => {
    val aug = qf9Frame(t(s, dir, "documents"))
    val feats = qf9Features(col("text"))
    val w = trainedQf9(s, dir)
    aug.select(col("doc_id"),
      round(QualityFilters.classifierScore(feats, w), 6).as("score"),
      (QualityFilters.classifierScore(feats, w) >= 0.5).as("flagged"),
      (col("doc_id") % 5 === 0).as("is_junk"))
  },
    // full 16-iteration GD trajectory replay — weights bit-identical
    // by construction (quantized integer gradients, rational squash)
    qf9Oracle)

  // the TRAIN step of the persisted-model lifecycle (r10): ensure
  // the store artifact exists (train once + persist, or validate
  // the existing generation) and emit the weight vector itself —
  // the oracle replays the full 64-iteration trajectory and must
  // agree on every raw double (bit-reproducible trainer)
  Q("qf9_train", (s, dir) => {
    val w = trainedQf9(s, dir) // loads, or trains + persists
    s.createDataFrame(w.toIndexedSeq.zipWithIndex.map {
      case (wt, d) => (d, wt)
    }).toDF("dim", "weight")
  },
    // the persisted model's weight vector, raw doubles vs the full
    // trajectory replay (the bit-reproducibility proof)
    qf9TrainOracle)

  // the SCORE step against the PERSISTED artifact (r10): strict
  // generation-guarded load (algo + feature spec + config + data
  // fingerprint — a store trained under any other generation
  // throws, spec'd in ModelStoreSpec), then the gate is a pure
  // projection over the loaded weights. Same oracle as qf9: a
  // persist/load roundtrip must not move a bit
  Q("qf11_model_store", (s, dir) => {
    trainedQf9(s, dir) // ensure the artifact exists
    val w = ModelStore.load(s, qf9ModelPath(dir), qf9FeatureSpec,
      qf9Iters, qf9Lr, qf9DataHash(s, dir))
    val aug = qf9Frame(t(s, dir, "documents"))
    val feats = qf9Features(col("text"))
    aug.select(col("doc_id"),
      round(QualityFilters.classifierScore(feats, w), 6).as("score"),
      (QualityFilters.classifierScore(feats, w) >= 0.5).as("flagged"),
      (col("doc_id") % 5 === 0).as("is_junk"))
  },
    // persist/load roundtrip + generation-guarded load must score
    // exactly like the in-process weights
    qf9.oracle)

  // calibration report over the trained gate's scores (r9): the
  // reliability diagram + ECE terms that decide whether qf9's
  // threshold can be trusted; the oracle wraps qf9's full training
  // replay and re-bins its rounded scores
  Q("eval9_calibration", (s, dir) => {
    val aug = qf9Frame(t(s, dir, "documents"))
    val feats = qf9Features(col("text"))
    val w = trainedQf9(s, dir)
    val scored = aug.select(col("doc_id"),
      round(QualityFilters.classifierScore(feats, w), 6).as("score"),
      (col("doc_id") % 5 === 0).as("is_junk"))
    QualityFilters.calibrationReport(scored, "score", "is_junk")
  },
    // re-bin qf9's replayed (rounded) scores into the reliability
    // report; gaps/ECE terms from the rounded bucket means
    s"""SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(score), 6) AS avg_score,
       |  round(avg(lab), 6) AS frac_pos,
       |  round(abs(round(avg(score), 6) - round(avg(lab), 6)), 6) AS abs_gap,
       |  round(count(*) * 1.0 / (SELECT count(*) FROM documents) *
       |    round(abs(round(avg(score), 6) - round(avg(lab), 6)), 6), 6) AS ece_term
       |FROM (
       |  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, score,
       |         CASE WHEN is_junk THEN 1.0 ELSE 0.0 END AS lab
       |  FROM ($qf9Oracle) q)
       |GROUP BY bin""".stripMargin)

  Q("sp1_stratified_sample", (s, dir) =>
    // deterministic exact-count stratified sample (training mix)
    Sampling.stratified(t(s, dir, "documents"), "doc_id", Seq("lang"), 10)
      .select("doc_id", "lang"),
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY (doc_id * 2654435761) % 4294967296 ASC, doc_id ASC) AS rn
      |  FROM documents) WHERE rn <= 10""".stripMargin)

  Q("sp2_mixture", (s, dir) =>
    // weighted per-source corpus mixture, reproducible by id-hash
    Sampling.mixture(t(s, dir, "documents"), "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.5))
      .select("doc_id", "source"),
    """SELECT doc_id, source FROM documents
      |WHERE (doc_id * 2654435761) % 4294967296 <
      |      CASE source WHEN 'src0' THEN 4294967296
      |                  WHEN 'src1' THEN 2147483648 ELSE -1 END""".stripMargin)

  // leakage-safe splits: every member of a near-dup cluster (dd6's
  // deterministic pair set) gets its component root's split; docs
  // outside any cluster key on their own id
  Q("sp3_leakage_safe_split", (s, dir) => {
    val docs = t(s, dir, "documents")
    Sampling.leakageSafeSplits(docs, "doc_id",
      jaccardPairs(docs.filter(col("doc_id") <= 100)),
      trainFrac = 0.8, validFrac = 0.1)
      .select("doc_id", "split")
  },
    // dd6's recursive-CTE component labels + the idHash split rule on
    // coalesce(cluster, doc_id); cuts are floor(frac * 2^32)
    jaccardClusterCtes + """,
      |cl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
      |SELECT d.doc_id,
      |       CASE WHEN (COALESCE(cl.cluster, d.doc_id) * 2654435761)
      |                 % 4294967296 < 3435973836 THEN 'train'
      |            WHEN (COALESCE(cl.cluster, d.doc_id) * 2654435761)
      |                 % 4294967296 < 3865470566 THEN 'valid'
      |            ELSE 'test' END AS split
      |FROM documents d LEFT JOIN cl ON d.doc_id = cl.id""".stripMargin)

  // alpha-smoothed (temperature) mixture weights per source — the
  // multilingual/multi-source rebalancing primitive
  Q("mix1_temperature_weights", (s, dir) =>
    Sampling.temperatureWeights(t(s, dir, "documents"), "source",
      alpha = 0.5),
    """SELECT source, count(*) AS n_docs,
      |       round(pow(count(*), 0.5) / sum(pow(count(*), 0.5)) OVER (), 6) AS weight
      |FROM documents GROUP BY source""".stripMargin)

  // per-source TOKEN budgets (Pile/Dolma corpus construction):
  // hash-priority order, exclusive-running-sum cutoff; exercises a
  // mid-source cutoff (src0/src1), budget-exceeds-supply (src2),
  // and an explicit zero budget (src3); the per-source prefix sum
  // runs bucketed, never one task per source
  Q("mix3_token_budget", (s, dir) =>
    Sampling.tokenBudgetMixture(
      t(s, dir, "documents").withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long")),
      "doc_id", "source", "n_tokens",
      Map("src0" -> 800L, "src1" -> 400L, "src2" -> 1000000L,
        "src3" -> 0L))
      .select("doc_id", "source", "n_tokens", "cum_tokens"),
    """WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |           AS n_tokens,
      |         (doc_id * 2654435761) % 4294967296 AS h
      |  FROM documents
      |  WHERE source IN ('src0', 'src1', 'src2', 'src3')),
      |r AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(COALESCE(sum(n_tokens) OVER (
      |           PARTITION BY source ORDER BY h, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS before
      |  FROM d)
      |SELECT doc_id, source, n_tokens, before + n_tokens AS cum_tokens
      |FROM r
      |WHERE before < CASE source WHEN 'src0' THEN 800
      |                           WHEN 'src1' THEN 400
      |                           WHEN 'src2' THEN 1000000 ELSE 0 END""".stripMargin)

  Q("tn1_normalize", (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextNormalize.canonical(col("text")).as("canonical")),
    """SELECT doc_id,
      |       trim(regexp_replace(regexp_replace(lower(
      |         regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g')),
      |         '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS canonical
      |FROM documents""".stripMargin)

  // REAL Unicode NFC composition (codegen JDK normalizer): the
  // appended combining-mark suffix (e + U+0301, A + U+030A)
  // composes to é / Å — nfc_len proves the codepoint count
  // actually shrank, and DuckDB's nfc_normalize must agree char
  // for char
  Q("tn2_nfc_normalize", (s, dir) => {
    val suffixed = concat(col("text"), lit(" e\u0301 A\u030A"))
    t(s, dir, "documents").select(
      col("doc_id"),
      TextNormalize.unicodeNormalize(suffixed).as("nfc"),
      length(TextNormalize.unicodeNormalize(suffixed)).as("nfc_len"))
  },
    // chr(769) = U+0301 combining acute, chr(778) = U+030A combining
    // ring — DuckDB's nfc_normalize must compose them exactly like
    // the JDK normalizer inside the codegen expression
    """SELECT doc_id,
      |       nfc_normalize(text || ' e' || chr(769) || ' A' || chr(778)) AS nfc,
      |       length(nfc_normalize(text || ' e' || chr(769) || ' A' || chr(778)))
      |         AS nfc_len
      |FROM documents""".stripMargin)

  // raw-crawl text extraction: each doc wrapped in an HTML fixture
  // (script with < > operators inside, style, comment, entities
  // incl. the &amp;amp; double-escape) — extractText must drop the
  // code blocks wholesale, break words at tags, and decode the
  // named entities exactly once; the oracle replays the identical
  // regex/replace chain
  Q("html1_extract_text", (s, dir) => {
    val d = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><script type=\"text/javascript\">if(1<2&&3>0){track('x');}</script>"),
      lit("<style media=\"all\">p{color:red}</style><title>Doc "), d,
      lit("</title></head><body><!-- nav --><h1 class=\"t\">Doc "), d,
      lit("</h1><p>"), substring(col("text"), 1, 120),
      lit("</p><p>lang &lt;"), col("lang"),
      lit("&gt;&nbsp;&amp;amp; source &quot;"), col("source"),
      lit("&quot; &#39;end&#39;</p></body></html>"))
    t(s, dir, "documents").select(col("doc_id"),
        TextNormalize.extractText(html).as("extracted"))
      .withColumn("n_chars_extracted", length(col("extracted")))
  },
    """WITH f AS (
      |  SELECT doc_id,
      |    '<html><head><script type="text/javascript">if(1<2&&3>0){track(''x'');}</script>'
      |    || '<style media="all">p{color:red}</style><title>Doc ' || CAST(doc_id AS VARCHAR)
      |    || '</title></head><body><!-- nav --><h1 class="t">Doc ' || CAST(doc_id AS VARCHAR)
      |    || '</h1><p>' || substr(text, 1, 120)
      |    || '</p><p>lang &lt;' || lang
      |    || '&gt;&nbsp;&amp;amp; source &quot;' || source
      |    || '&quot; &#39;end&#39;</p></body></html>' AS html
      |  FROM documents),
      |e AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(replace(
      |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |          html,
      |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |          '(?s)<!--.*?-->', ' ', 'g'),
      |          '<[^>]*>', ' ', 'g'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |      '\s+', ' ', 'g')) AS extracted
      |  FROM f)
      |SELECT doc_id, extracted, length(extracted) AS n_chars_extracted
      |FROM e""".stripMargin)

  // outlink extraction: four planted anchor kinds per doc incl. an
  // uppercase HREF and a single-quoted value — one codegen
  // regexp_extract_all, row-local classify, document order kept
  Q("html2_extract_links", (s, dir) => {
    val d = col("doc_id").cast("string")
    val html = concat(
      lit("<body><a href=\"http://d"), (col("doc_id") % 7).cast("string"),
      lit(".example/p/"), d, lit("\">x</a> <A HREF='/rel/"), d,
      lit("'>y</a> <a class=\"z\" href=\"#sec-"), d,
      lit("\">z</a><a href=\"//cdn.example/lib.js\">w</a></body>"))
    TextNormalize.extractLinks(
      t(s, dir, "documents").select(col("doc_id"), html.as("html")),
      "doc_id", "html")
  },
    // identical fixture assembly, regexp_extract_all with the 'i'
    // option, LIKE-based kind classification
    """WITH h AS (
      |  SELECT doc_id,
      |         '<body><a href="http://d' || CAST(doc_id % 7 AS VARCHAR)
      |         || '.example/p/' || CAST(doc_id AS VARCHAR)
      |         || '">x</a> <A HREF=''/rel/' || CAST(doc_id AS VARCHAR)
      |         || '''>y</a> <a class="z" href="#sec-' || CAST(doc_id AS VARCHAR)
      |         || '">z</a><a href="//cdn.example/lib.js">w</a></body>' AS html
      |  FROM documents),
      |u0 AS (
      |  SELECT doc_id, regexp_extract_all(html,
      |           'href\s*=\s*["'']([^"'']*)["'']', 1, 'i') AS us
      |  FROM h),
      |idx AS (SELECT unnest(range(1, 9)) AS p),
      |u AS (
      |  SELECT doc_id, p, us[p] AS u
      |  FROM u0, idx WHERE p <= len(us))
      |SELECT doc_id AS doc, CAST(p AS BIGINT) AS link_pos, u AS url,
      |       CASE WHEN lower(u) LIKE 'http://%' OR lower(u) LIKE 'https://%'
      |              THEN 'absolute'
      |            WHEN u LIKE '//%' THEN 'protocol-relative'
      |            WHEN u LIKE '#%' THEN 'fragment'
      |            ELSE 'relative' END AS kind
      |FROM u""".stripMargin)

  // link-graph PageRank in exact fixed-point: the corpus has no
  // links, so derive a deterministic graph (out-degree doc_id % 4,
  // targets hashed mod |docs| — includes dangling nodes and
  // self-loops); 5 integer-recurrence sweeps must agree with the
  // oracle's unrolled replay to the last fixed-point unit
  Q("pr1_pagerank", (s, dir) => {
    val docs = t(s, dir, "documents")
    val nF = docs.agg(count(lit(1)).as("n_docs"))
    val edges = docs.crossJoin(broadcast(nF))
      .select(col("doc_id").as("src"), col("n_docs"),
        explode(expr("filter(array(0, 1, 2, 3), i -> i < doc_id % 4)")).as("i"))
      .select(col("src"), expr("(src * 13 + i * 17 + 1) % n_docs").as("dst"))
    LinkGraph.pageRank(docs.select("doc_id"), edges, "src", "dst",
      iterations = 5)
  }, pr1OracleSql(5))

  // degree-oriented triangle enumeration on a deterministic
  // ring+chord graph (u—u+1, u—u+2): every consecutive id triple
  // closes, so the fixture pins both the wedge build and the
  // close check; input edges arrive duplicated and reversed to
  // exercise canonicalization
  Q("pr2_triangles", (s, dir) => {
    val docs = t(s, dir, "documents")
    val mxF = docs.agg(max("doc_id").as("mx"))
    val base = docs.select(col("doc_id").as("s")).crossJoin(broadcast(mxF))
    def chord(k: Int) = base
      .select(col("s"), (col("s") + k).as("t"), col("mx"))
      .filter(col("t") <= col("mx")).select("s", "t")
    val edges = chord(1).unionByName(chord(2))
      .unionByName(chord(1).select(col("t").as("s"), col("s").as("t")))
    LinkGraph.triangles(edges, "s", "t")
  },
    // canonical 3-way join with a < b < c counts each triangle once;
    // the reversed duplicate edges in the fixture collapse in the
    // UNION's set semantics like the operator's distinct
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      |e AS (
      |  SELECT doc_id AS u, doc_id + 1 AS v FROM documents CROSS JOIN mx
      |  WHERE doc_id + 1 <= m
      |  UNION
      |  SELECT doc_id, doc_id + 2 FROM documents CROSS JOIN mx
      |  WHERE doc_id + 2 <= m)
      |SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |FROM e e1
      |JOIN e e2 ON e2.u = e1.v
      |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin)

  // sweep-bounded k-core peeling on the chain+chord fixture: both
  // chain ends sit below k=4, so every sweep peels the exposed
  // shell — three sweeps of deterministic cascade, oracle-unrolled
  Q("pr4_kcore", (s, dir) => {
    val docs = t(s, dir, "documents")
    val mxF = docs.agg(max("doc_id").as("mx"))
    val base = docs.select(col("doc_id").as("s")).crossJoin(broadcast(mxF))
    def chord(k: Int) = base
      .select(col("s"), (col("s") + k).as("t"), col("mx"))
      .filter(col("t") <= col("mx")).select("s", "t")
    LinkGraph.kCore(chord(1).unionByName(chord(2)), "s", "t",
      k = 4, sweeps = 3)
  }, pr4OracleSql(4, 3))

  // deterministic synchronous label propagation on decade
  // communities: star-to-hub edges PLUS an intra-decade chain (the
  // chain gives each decade internal plurality, so the chord edges
  // between hubs cannot merge communities — every node converges to
  // its decade hub's label)
  Q("pr3_communities", (s, dir) => {
    val docs = t(s, dir, "documents")
    val mxF = docs.agg(max("doc_id").as("mx"))
    val stars = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("s"),
        (col("doc_id") - col("doc_id") % 10).as("t"))
    val chains = docs.filter(col("doc_id") % 10 < 9)
      .crossJoin(broadcast(mxF))
      .select(col("doc_id").as("s"), (col("doc_id") + 1).as("t"), col("mx"))
      .filter(col("t") <= col("mx")).select("s", "t")
    val chords = docs.filter(col("doc_id") % 100 === 0)
      .crossJoin(broadcast(mxF))
      .select(col("doc_id").as("s"), (col("doc_id") + 10).as("t"), col("mx"))
      .filter(col("t") <= col("mx")).select("s", "t")
    LinkGraph.labelPropagation(
      stars.unionByName(chains).unionByName(chords), "s", "t",
      iterations = 4)
  }, pr3OracleSql(4))

  // mergeable-sketch vocabulary: per-lang HLL sketches + an ALL row
  // built by UNIONING the sketches (the mergeability property a
  // 100 TB rollup needs). r11: contract form — exact per-group and
  // unioned distinct counts (oracle-computable) plus a boolean
  // asserting each Datasketches estimate (INCLUDING the one from
  // the merged sketch) lands within 5% of exact; DuckDB replays the
  // exact side + literal true, so the sketch-union error bound is
  // hash-verified every round
  Q("pf5_sketch_union", (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    val perGroup = toks.groupBy("lang").agg(
      hll_sketch_agg(col("token")).as("__sk"),
      countDistinct(col("token")).as("n_distinct_tokens"),
      count(lit(1)).as("n_tokens"))
    val grouped = perGroup.select(col("lang"),
      col("n_distinct_tokens"), col("n_tokens"),
      (abs(hll_sketch_estimate(col("__sk")) - col("n_distinct_tokens")) * 20
        <= col("n_distinct_tokens")).as("est_within_5pct"))
    // the ALL estimate must come from the MERGED sketches (never
    // re-scanning tokens) — that is the property under test
    val allEst = perGroup.agg(
      hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"),
      sum("n_tokens").as("n_tokens"))
    val allRow = toks.agg(countDistinct(col("token")).as("n_distinct_tokens"))
      .crossJoin(broadcast(allEst))
      .select(lit("ALL").as("lang"), col("n_distinct_tokens"), col("n_tokens"),
        (abs(col("__est") - col("n_distinct_tokens")) * 20
          <= col("n_distinct_tokens")).as("est_within_5pct"))
    grouped.unionByName(allRow)
  },
    """WITH toks AS (
      |  SELECT lang, t.token
      |  FROM documents,
      |       unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(token)
      |  WHERE length(t.token) > 0)
      |SELECT lang, count(DISTINCT token) AS n_distinct_tokens,
      |       count(*) AS n_tokens, true AS est_within_5pct
      |FROM toks GROUP BY lang
      |UNION ALL
      |SELECT 'ALL', count(DISTINCT token), count(*), true FROM toks""".stripMargin)

  // ANALYZE-style per-column profile (nulls / exact distinct /
  // numeric min-max) in one aggregate pass + row-local unpivot
  Q("pf4_column_profile", (s, dir) =>
    Profiling.columnProfile(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")),
    """WITH s AS (SELECT count(*) AS n,
      |  count(*) FILTER (o_orderkey IS NULL) AS nn1,
      |  count(DISTINCT o_orderkey) AS nd1,
      |  CAST(min(o_orderkey) AS DOUBLE) AS mn1, CAST(max(o_orderkey) AS DOUBLE) AS mx1,
      |  count(*) FILTER (o_custkey IS NULL) AS nn2,
      |  count(DISTINCT o_custkey) AS nd2,
      |  CAST(min(o_custkey) AS DOUBLE) AS mn2, CAST(max(o_custkey) AS DOUBLE) AS mx2,
      |  count(*) FILTER (o_orderstatus IS NULL) AS nn3,
      |  count(DISTINCT o_orderstatus) AS nd3,
      |  count(*) FILTER (o_totalprice IS NULL) AS nn4,
      |  count(DISTINCT o_totalprice) AS nd4,
      |  CAST(min(o_totalprice) AS DOUBLE) AS mn4, CAST(max(o_totalprice) AS DOUBLE) AS mx4
      |  FROM orders)
      |SELECT 'o_orderkey' AS col_name, n AS n_rows, nn1 AS n_nulls,
      |       nd1 AS n_distinct, mn1 AS min_num, mx1 AS max_num FROM s
      |UNION ALL
      |SELECT 'o_custkey', n, nn2, nd2, mn2, mx2 FROM s
      |UNION ALL
      |SELECT 'o_orderstatus', n, nn3, nd3, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM s
      |UNION ALL
      |SELECT 'o_totalprice', n, nn4, nd4, mn4, mx4 FROM s""".stripMargin)

  // declarative data-quality report over the warehouse tables:
  // null/uniqueness/referential/domain/range checks, one row each
  // (mix of passing and violated checks so nonzero paths are tested)
  Q("dq1_quality_report", (s, dir) => {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    DataQuality.report(
      // the three row-local checks fuse into ONE scan of orders
      DataQuality.rowChecks(o, Seq(
        "not_null:o_custkey" -> DataQuality.isNullViolation("o_custkey"),
        "accepted:o_orderstatus" ->
          DataQuality.acceptedViolation("o_orderstatus", Seq("F", "O")),
        "range:o_totalprice" ->
          DataQuality.rangeViolation("o_totalprice", 0, 200000))),
      DataQuality.unique(o, Seq("o_orderkey")),
      DataQuality.referential(l, "l_orderkey", o, "o_orderkey"))
  },
    """SELECT 'not_null:o_custkey' AS check_name,
      |       count(*) FILTER (o_custkey IS NULL) AS n_violations FROM orders
      |UNION ALL
      |SELECT 'unique:o_orderkey',
      |       CAST(coalesce(sum(__n - 1), 0) AS BIGINT)
      |FROM (SELECT count(*) AS __n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'fk:l_orderkey->o_orderkey', count(*) FROM lineitem
      |WHERE l_orderkey IS NOT NULL
      |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |UNION ALL
      |SELECT 'accepted:o_orderstatus',
      |       count(*) FILTER (o_orderstatus IS NOT NULL
      |                        AND o_orderstatus NOT IN ('F', 'O')) FROM orders
      |UNION ALL
      |SELECT 'range:o_totalprice',
      |       count(*) FILTER (o_totalprice IS NOT NULL
      |                        AND (o_totalprice < 0 OR o_totalprice > 200000))
      |FROM orders""".stripMargin)

  // Tukey-fence outliers on the right-skewed event values, per
  // event type — exact quartiles, fences broadcast back
  Q("dq2_outliers", (s, dir) =>
    DataQuality.outliers(
      events(s, dir).select("event_id", "event_type", "value"),
      Seq("event_type"), "value"),
    """WITH f AS (
      |  SELECT event_type,
      |         quantile_cont(value, 0.25) AS q1,
      |         quantile_cont(value, 0.75) AS q3
      |  FROM events GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.value,
      |       round(f.q1 - (f.q3 - f.q1) * 1.5, 4) AS lo_fence,
      |       round(f.q3 + (f.q3 - f.q1) * 1.5, 4) AS hi_fence
      |FROM events e JOIN f USING (event_type)
      |WHERE e.value < f.q1 - (f.q3 - f.q1) * 1.5
      |   OR e.value > f.q3 + (f.q3 - f.q1) * 1.5""".stripMargin)

  // PSI drift: reference = 2/3 of orders, current = the last third
  // with high prices truncated away (planted upper-tail drain); the
  // per-bucket terms expose exactly where the distribution moved
  Q("dq4_psi_drift", (s, dir) => {
    val o = t(s, dir, "orders")
    DataQuality.psiDrift(
      o.filter(col("o_orderkey") % 3 < 2),
      o.filter(col("o_orderkey") % 3 === 2 &&
        col("o_totalprice") < 300000),
      "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 10)
  },
    """WITH ref AS (
      |  SELECT CASE WHEN o_totalprice < 0 THEN -1
      |              WHEN o_totalprice >= 500000 THEN 10
      |              ELSE CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT)
      |              END AS bucket
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_orderkey % 3 < 2),
      |cur AS (
      |  SELECT CASE WHEN o_totalprice < 0 THEN -1
      |              WHEN o_totalprice >= 500000 THEN 10
      |              ELSE CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT)
      |              END AS bucket
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_orderkey % 3 = 2
      |    AND o_totalprice < 300000),
      |spine AS (SELECT unnest(range(-1, 11)) AS bucket),
      |rc AS (SELECT s.bucket, COALESCE(r.n, 0) AS n_ref, COALESCE(c.n, 0) AS n_cur
      |       FROM spine s
      |       LEFT JOIN (SELECT bucket, count(*) AS n FROM ref GROUP BY 1) r
      |         USING (bucket)
      |       LEFT JOIN (SELECT bucket, count(*) AS n FROM cur GROUP BY 1) c
      |         USING (bucket)),
      |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
      |               CAST(sum(n_cur) AS BIGINT) AS tc FROM rc)
      |SELECT bucket, n_ref, n_cur,
      |       round(((n_cur + 1) * 1.0 / (tc + 12) - (n_ref + 1) * 1.0 / (tr + 12))
      |             * ln(((n_cur + 1) * 1.0 / (tc + 12))
      |                  / ((n_ref + 1) * 1.0 / (tr + 12))), 6) AS psi_term
      |FROM rc, tot""".stripMargin)

  // weight-proportional sample without replacement (A-ES order
  // statistics over the portable md5 uniform): longer docs more
  // likely, yet the draw is a pure function of (seed, id) — the
  // oracle redraws it exactly
  Q("sp4_weighted_sample", (s, dir) =>
    Sampling.weightedSample(
      t(s, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", col("n_chars"), k = 100),
    // the A-ES redraw: identical md5 uniform, identical priority
    """WITH p AS (
      |  SELECT doc_id, n_chars,
      |         ln((CAST(CAST(concat('0x', substr(md5(
      |             concat('graft', ':', CAST(doc_id AS VARCHAR))), 1, 15))
      |             AS BIGINT) AS DOUBLE) + 0.5) / 1.152921504606847e18)
      |           / CAST(n_chars AS DOUBLE) AS pr
      |  FROM documents WHERE n_chars > 0)
      |SELECT doc_id, n_chars, round(pr, 6) AS priority
      |FROM p ORDER BY pr DESC, doc_id ASC LIMIT 100""".stripMargin)

  // the repair step dq7's validation exists for: keep agreeing
  // chunks from the sink, re-replicate only the damaged ones —
  // after repair the sink must equal the source EXACTLY, which is
  // the whole oracle
  Q("m8_checksum_repair", (s, dir) => {
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_returnflag", "l_linestatus")
    val corrupted = t(s, dir, "lineitem")
      .withColumn("l_quantity",
        when(col("l_orderkey").between(1000, 1999), col("l_quantity") + 1.0)
          .otherwise(col("l_quantity")))
      .filter(!(col("l_orderkey").between(5000, 5999) &&
        col("l_linenumber") === 1))
    Modes.checksumRepair(t(s, dir, "lineitem"), corrupted,
      "l_orderkey", 1000L, cols)
  },
    // repaired sink == the source, full stop
    "SELECT * FROM lineitem")

  // replication validation: chunk-level MD5-XOR digests of lineitem
  // vs a deliberately perturbed copy (chunk 1 mutated, chunk 5
  // missing rows) — only digests cross the wire, mismatched chunks
  // localize the damage
  Q("dq7_replication_checksum", (s, dir) => {
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_returnflag", "l_linestatus")
    val src = DataQuality.tableChecksum(
      t(s, dir, "lineitem"), "l_orderkey", 1000L, cols)
    val perturbed = t(s, dir, "lineitem")
      .withColumn("l_quantity",
        when(col("l_orderkey").between(1000, 1999), col("l_quantity") + 1.0)
          .otherwise(col("l_quantity")))
      .filter(!(col("l_orderkey").between(5000, 5999) &&
        col("l_linenumber") === 1))
    val dst = DataQuality.tableChecksum(perturbed, "l_orderkey", 1000L, cols)
    DataQuality.checksumCompare(src, dst)
  },
    // the digest is engine-portable by construction: MD5 of the
    // 0x1f-joined canonical string, first 15 hex chars as a 60-bit
    // int, XOR-aggregated — DuckDB computes the identical digests
    """WITH canon AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus,
      |         CAST(floor(l_orderkey / 1000) AS BIGINT) AS chunk
      |  FROM lineitem),
      |src AS (
      |  SELECT chunk, count(*) AS n_src,
      |         bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(31),
      |           coalesce(CAST(l_orderkey AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_linenumber AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_quantity AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_returnflag AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_linestatus AS VARCHAR), chr(1)))), 1, 15))
      |           AS BIGINT)) AS digest_src
      |  FROM canon GROUP BY 1),
      |pert AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CASE WHEN l_orderkey BETWEEN 1000 AND 1999
      |              THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
      |         l_returnflag, l_linestatus,
      |         CAST(floor(l_orderkey / 1000) AS BIGINT) AS chunk
      |  FROM lineitem
      |  WHERE NOT (l_orderkey BETWEEN 5000 AND 5999 AND l_linenumber = 1)),
      |dst AS (
      |  SELECT chunk, count(*) AS n_dst,
      |         bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(31),
      |           coalesce(CAST(l_orderkey AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_linenumber AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_quantity AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_returnflag AS VARCHAR), chr(1)),
      |           coalesce(CAST(l_linestatus AS VARCHAR), chr(1)))), 1, 15))
      |           AS BIGINT)) AS digest_dst
      |  FROM pert GROUP BY 1)
      |SELECT chunk,
      |       coalesce(s.n_src, 0) AS n_src,
      |       coalesce(d.n_dst, 0) AS n_dst,
      |       (coalesce(s.n_src, 0) = coalesce(d.n_dst, 0) AND
      |        s.digest_src IS NOT DISTINCT FROM d.digest_dst) AS chunk_ok
      |FROM src s FULL OUTER JOIN dst d USING (chunk)""".stripMargin)

  // unbinned drift: two-sample KS statistic over the same split as
  // dq4's PSI — sup |ECDF_ref - ECDF_cur| with the value where it
  // occurs, via the distributed two-counter prefix sum
  Q("dq6_ks_drift", (s, dir) => {
    val o = t(s, dir, "orders")
    DataQuality.ksDrift(
      o.filter(col("o_orderkey") % 3 < 2),
      o.filter(col("o_orderkey") % 3 === 2 &&
        col("o_totalprice") < 300000),
      "o_totalprice")
  },
    // integer counts + one IEEE division per ECDF point + a max:
    // bit-identical across engines; the struct max ties toward the
    // larger value in both
    """WITH av AS (SELECT o_totalprice AS v FROM orders
      |            WHERE o_orderkey % 3 < 2 AND o_totalprice IS NOT NULL),
      |bv AS (SELECT o_totalprice AS v FROM orders
      |       WHERE o_orderkey % 3 = 2 AND o_totalprice < 300000
      |         AND o_totalprice IS NOT NULL),
      |m AS (SELECT v, sum(ca) AS ca, sum(cb) AS cb FROM (
      |        SELECT v, count(*) AS ca, 0 AS cb FROM av GROUP BY 1
      |        UNION ALL
      |        SELECT v, 0 AS ca, count(*) AS cb FROM bv GROUP BY 1)
      |      GROUP BY 1),
      |c AS (SELECT v,
      |        sum(ca) OVER (ORDER BY v) AS cca,
      |        sum(cb) OVER (ORDER BY v) AS ccb FROM m),
      |tot AS (SELECT (SELECT count(*) FROM av) AS na,
      |               (SELECT count(*) FROM bv) AS nb),
      |d AS (SELECT v, abs(CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb) AS diff
      |      FROM c CROSS JOIN tot),
      |best AS (SELECT max({'d': diff, 'v': v}) AS s FROM d)
      |SELECT round(best.s.d, 6) AS ks_stat, best.s.v AS at_value,
      |       CAST(tot.na AS BIGINT) AS n_ref, CAST(tot.nb AS BIGINT) AS n_cur
      |FROM best CROSS JOIN tot""".stripMargin)

  // token-distribution drift: KL(source || corpus) per source with
  // add-one smoothing over the corpus vocab — the text counterpart
  // of dq4's numeric PSI. Absent-term mass folds to closed form
  // (no source x vocab expansion); the algebra is spec-pinned
  // against the naive sum, the engine replay here is MATCH
  Q("dq5_token_kl", (s, dir) =>
    Scoring.klDrift(t(s, dir, "documents"), "source", "text"),
    // the same decomposed form as the operator (absent-term mass in
    // closed form): per-term arithmetic is expression-identical, so
    // the engines agree to well past round(4)
    """WITH cst AS (
      |  SELECT source AS grp, t, count(*) AS c_st
      |  FROM (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |        FROM documents)
      |  WHERE t <> '' GROUP BY 1, 2),
      |ct AS (SELECT t, sum(c_st) AS c_t FROM cst GROUP BY 1),
      |nv AS (SELECT count(*) AS v, sum(c_t) AS n FROM ct),
      |cts AS (SELECT t, ln((c_t + 1.0) / (n + v)) AS ln_q FROM ct CROSS JOIN nv),
      |lall AS (SELECT sum(ln_q) AS l_all FROM cts),
      |ns AS (SELECT grp, sum(c_st) AS n_s, count(*) AS v_s FROM cst GROUP BY 1),
      |direct AS (
      |  SELECT cst.grp,
      |         sum(((cst.c_st + 1.0) / (ns.n_s + nv.v)) *
      |             (ln((cst.c_st + 1.0) / (ns.n_s + nv.v)) - cts.ln_q)) AS direct,
      |         sum(cts.ln_q) AS l_s
      |  FROM cst JOIN cts USING (t) JOIN ns USING (grp) CROSS JOIN nv
      |  GROUP BY 1),
      |out AS (
      |  SELECT ns.grp AS source,
      |         CAST(ns.n_s AS BIGINT) AS n_tokens,
      |         CAST(ns.v_s AS BIGINT) AS vocab_seen,
      |         round(direct.direct +
      |               (nv.v - ns.v_s) * (1.0 / (ns.n_s + nv.v)) * ln(1.0 / (ns.n_s + nv.v)) -
      |               (1.0 / (ns.n_s + nv.v)) * (lall.l_all - direct.l_s), 4) AS kl_vs_corpus
      |  FROM ns JOIN direct USING (grp) CROSS JOIN nv CROSS JOIN lall)
      |SELECT * FROM out""".stripMargin)

  Q("sk1_salted_distinct", (s, dir) =>
    // two-stage salted distinct: exact result, hot keys spread over
    // 32 reducers instead of one
    Skew.saltedCountDistinct(t(s, dir, "orders"),
      Seq("o_orderpriority"), "o_custkey"),
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct_o_custkey
      |FROM orders GROUP BY o_orderpriority""".stripMargin)

  // ordered conversion funnel: view -> click (after) -> purchase
  // (after that); out-of-order conversions must NOT count, which
  // the strictly-after join predicates enforce
  Q("fun1_funnel", (s, dir) =>
    Funnel.funnel(events(s, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase")),
    funnelStepCtes + """
      |SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_idx,
      |       count(t1) AS n_entities FROM s1
      |UNION ALL
      |SELECT 'click', 2, count(*) FROM s2
      |UNION ALL
      |SELECT 'purchase', 3, count(*) FROM s3""".stripMargin)

  // per-transition conversion latency: exact microsecond gaps,
  // interpolated percentiles, one divide to seconds — how LONG the
  // funnel takes, not just how far
  Q("fun2_step_latency", (s, dir) =>
    Funnel.stepLatency(events(s, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase")),
    // fun1's ordered first-times, then per-transition epoch_us gaps
    // with interpolated quantiles over the exact integers
    funnelStepCtes + """,
      |g12 AS (SELECT epoch_us(t2) - epoch_us(t1) AS gap_us
      |        FROM s2 JOIN s1 USING (user_id)),
      |g23 AS (SELECT epoch_us(t3) - epoch_us(t2) AS gap_us
      |        FROM s3 JOIN s2 USING (user_id))
      |SELECT 'view' AS from_stage, 'click' AS to_stage,
      |       CAST(count(*) AS BIGINT) AS n_converted,
      |       round(quantile_cont(CAST(gap_us AS DOUBLE), 0.5) / 1000000.0, 4)
      |         AS median_seconds,
      |       round(quantile_cont(CAST(gap_us AS DOUBLE), 0.9) / 1000000.0, 4)
      |         AS p90_seconds
      |FROM g12
      |UNION ALL
      |SELECT 'click', 'purchase', CAST(count(*) AS BIGINT),
      |       round(quantile_cont(CAST(gap_us AS DOUBLE), 0.5) / 1000000.0, 4),
      |       round(quantile_cont(CAST(gap_us AS DOUBLE), 0.9) / 1000000.0, 4)
      |FROM g23""".stripMargin)

  // uniqueness / candidate-key profiling: exact distinct-combination
  // ratios over four candidate column sets (fdProfile's sibling)
  Q("dq11_key_profile", (s, dir) =>
    DataQuality.keyProfile(t(s, dir, "orders"), Seq(
      Seq("o_orderkey"), Seq("o_custkey"),
      Seq("o_custkey", "o_orderdate"),
      Seq("o_orderpriority", "o_orderstatus"))),
    // per-candidate groupBy replay; NULL combinations are values
    """WITH g1 AS (SELECT CAST(o_orderkey AS VARCHAR) AS k, count(*) AS n
      |            FROM orders GROUP BY 1),
      |r1 AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |              CAST(count(*) AS BIGINT) AS n_distinct FROM g1),
      |g2 AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS n
      |       FROM orders GROUP BY 1),
      |r2 AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |              CAST(count(*) AS BIGINT) AS n_distinct FROM g2),
      |g3 AS (SELECT CAST(o_custkey AS VARCHAR) AS k1,
      |              CAST(o_orderdate AS VARCHAR) AS k2, count(*) AS n
      |       FROM orders GROUP BY 1, 2),
      |r3 AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |              CAST(count(*) AS BIGINT) AS n_distinct FROM g3),
      |g4 AS (SELECT CAST(o_orderpriority AS VARCHAR) AS k1,
      |              CAST(o_orderstatus AS VARCHAR) AS k2, count(*) AS n
      |       FROM orders GROUP BY 1, 2),
      |r4 AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |              CAST(count(*) AS BIGINT) AS n_distinct FROM g4)
      |SELECT 'o_orderkey' AS columns, n_rows, n_distinct,
      |       round(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
      |         AS uniqueness,
      |       n_distinct = n_rows AS is_key
      |FROM r1
      |UNION ALL
      |SELECT 'o_custkey', n_rows, n_distinct,
      |       round(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6),
      |       n_distinct = n_rows FROM r2
      |UNION ALL
      |SELECT 'o_custkey,o_orderdate', n_rows, n_distinct,
      |       round(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6),
      |       n_distinct = n_rows FROM r3
      |UNION ALL
      |SELECT 'o_orderpriority,o_orderstatus', n_rows, n_distinct,
      |       round(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6),
      |       n_distinct = n_rows FROM r4""".stripMargin)

  // cohort retention triangle: users grouped by first-activity
  // week, counted in each week they return
  Q("coh1_retention", (s, dir) =>
    Funnel.retention(events(s, dir), "user_id", "ts"),
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |firstw AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM e GROUP BY 1),
      |act AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM e)
      |SELECT f.cohort_week,
      |       CAST(datediff('day', f.cohort_week, a.w) // 7 AS BIGINT)
      |         AS weeks_since,
      |       count(*) AS n_users
      |FROM act a JOIN firstw f USING (user_id)
      |GROUP BY 1, 2""".stripMargin)

  // winsorize the heavy-tailed event values at exact [p5, p95]:
  // one percentile aggregate, cutoffs broadcast, row-local clamp
  Q("dq3_winsorize", (s, dir) =>
    DataQuality.winsorize(
      events(s, dir).select("event_id", "value"), "value"),
    """WITH cuts AS (
      |  SELECT quantile_cont(value, 0.05) AS lo,
      |         quantile_cont(value, 0.95) AS hi
      |  FROM events)
      |SELECT event_id, value,
      |       round(least(greatest(value, (SELECT lo FROM cuts)),
      |         (SELECT hi FROM cuts)), 4) AS value_w
      |FROM events""".stripMargin)

  // table diff: the after-version plants updates (%7), removals
  // (%13), and additions (%17, shifted keys); diff must emit
  // exactly the planted differences — the oracle derives the
  // expected rows independently from the planting rules
  Q("diff1_table_diff", (s, dir) => {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    val after = c.filter(k % 13 =!= 0)
      .withColumn("c_acctbal",
        when(k % 7 === 0, round(col("c_acctbal") + 10, 2))
          .otherwise(col("c_acctbal")))
      .unionByName(c.filter(k % 17 === 0)
        .withColumn("c_custkey", k + 10000000L))
    DataQuality.diff(c, after, Seq("c_custkey"))
  },
    """SELECT c_custkey, 'removed' AS change_type, '' AS changed_cols
      |FROM customer WHERE c_custkey % 13 = 0
      |UNION ALL
      |SELECT c_custkey, 'changed', 'c_acctbal'
      |FROM customer
      |WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
      |  AND round(c_acctbal + 10, 2) IS DISTINCT FROM c_acctbal
      |UNION ALL
      |SELECT c_custkey + 10000000, 'added', ''
      |FROM customer WHERE c_custkey % 17 = 0""".stripMargin)

  // per-lang nucleus selection: the best documents covering half
  // the character mass of each language (integer running sums, so
  // the boundary is engine-exact)
  Q("mix2_nucleus_select", (s, dir) =>
    Sampling.nucleusByGroup(
      t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
      Seq("lang"), "doc_id", "n_chars", p = 0.5),
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |         coalesce(sum(n_chars) OVER (PARTITION BY lang
      |           ORDER BY n_chars DESC, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS before_w,
      |         sum(n_chars) OVER (PARTITION BY lang) AS total_w
      |  FROM documents)
      |SELECT doc_id, lang, n_chars FROM t
      |WHERE before_w < total_w * 0.5""".stripMargin)

  // SFT chat rendering with the loss mask: documents grouped into
  // conversations (alternating roles), rendered turn-by-turn, and
  // every assistant response located by exact char offsets —
  // span_text is SLICED from the rendered string, so a hash match
  // proves the coordinates land on the response text
  Q("sft1_chat_spans", (s, dir) => {
    val turns = t(s, dir, "documents").select(
      (col("doc_id") % 40).as("conv_id"),
      col("doc_id").as("ord"),
      when(expr("(doc_id div 40) % 2") === 0, lit("user"))
        .otherwise(lit("assistant")).as("role"),
      substring(col("text"), 1, 60).as("turn_text"))
    ChatFormat.assistantSpans(turns, "conv_id", "ord", "role", "turn_text")
  },
    """WITH turns AS (
      |  SELECT doc_id % 40 AS conv_id, doc_id AS ord,
      |         CASE WHEN (doc_id // 40) % 2 = 0 THEN 'user'
      |              ELSE 'assistant' END AS role,
      |         substr(text, 1, 60) AS turn_text
      |  FROM documents),
      |seg AS (
      |  SELECT conv_id, ord, role, turn_text,
      |         CASE WHEN role = 'assistant' THEN '<|assistant|>' || chr(10)
      |              ELSE '<|user|>' || chr(10) END
      |           || turn_text || chr(10) AS seg
      |  FROM turns),
      |pos AS (
      |  SELECT conv_id, ord, role, turn_text,
      |         CAST(row_number() OVER w AS BIGINT) AS turn_rank,
      |         CAST(coalesce(sum(length(seg)) OVER (PARTITION BY conv_id
      |           ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |           0) AS BIGINT) AS seg_start
      |  FROM seg
      |  WINDOW w AS (PARTITION BY conv_id ORDER BY ord)),
      |full_t AS (
      |  SELECT conv_id, string_agg(seg, '' ORDER BY ord) AS full_text
      |  FROM seg GROUP BY conv_id)
      |SELECT p.conv_id, p.turn_rank,
      |       p.seg_start + 14 AS start_char,
      |       p.seg_start + 14 + length(p.turn_text) AS end_char,
      |       substr(f.full_text, p.seg_start + 14 + 1, length(p.turn_text))
      |         AS span_text
      |FROM pos p JOIN full_t f USING (conv_id)
      |WHERE p.role = 'assistant'""".stripMargin)

  // Morton (z-order) key over two scan dimensions: pure bit
  // arithmetic, engine-pinned exact — the write-side layout tool
  // (Layout.writeZOrdered) sorts files by this key so parquet
  // min/max stats prune on BOTH columns
  Q("z1_zorder_key", (s, dir) =>
    t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
      graft.sources.Layout.interleaveBits(
        col("l_partkey"), col("l_suppkey"), 16).as("zkey")),
    z1OracleSql(16))

  // Hilbert-curve layout key (z1's Morton sibling with seamless 2-D
  // locality): the xy->d walk unrolled over 8 levels of integer
  // columns; the oracle replays it as a recursive CTE
  Q("z2_hilbert_key", (s, dir) =>
    graft.sources.Layout.hilbertKey(
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      "l_partkey", "l_suppkey", bits = 8)
      .select("l_orderkey", "l_linenumber", "hkey"),
    // the identical level walk, one recursion step per bit plane
    """WITH RECURSIVE base AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CAST(l_partkey AS BIGINT) & 255 AS x0,
      |         CAST(l_suppkey AS BIGINT) & 255 AS y0
      |  FROM lineitem),
      |h AS (
      |  SELECT l_orderkey, l_linenumber, x0 AS x, y0 AS y,
      |         CAST(0 AS BIGINT) AS d, 7 AS i
      |  FROM base
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber,
      |         CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN s - 1 - y ELSE y END
      |              ELSE x END,
      |         CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN s - 1 - x ELSE x END
      |              ELSE y END,
      |         d + s * s * xor(rx * 3, ry),
      |         i - 1
      |  FROM (SELECT l_orderkey, l_linenumber, x, y, d, i,
      |               CAST(1 AS BIGINT) << i AS s,
      |               CAST(CASE WHEN (x & (CAST(1 AS BIGINT) << i)) > 0
      |                         THEN 1 ELSE 0 END AS BIGINT) AS rx,
      |               CAST(CASE WHEN (y & (CAST(1 AS BIGINT) << i)) > 0
      |                         THEN 1 ELSE 0 END AS BIGINT) AS ry
      |        FROM h WHERE i >= 0) t)
      |SELECT l_orderkey, l_linenumber, d AS hkey FROM h WHERE i = -1""".stripMargin)

  // hive-partitioned layout + STATIC partition pruning: lineitem
  // written partitioned by ship month, the 1995 predicate prunes
  // whole directories at planning time (PartitionFilters plan-pinned)
  // partition-grain replication: the correction batch (two 1994
  // months, doubled quantity) REPLACES exactly its partitions via
  // dynamic partition overwrite; every other month stays
  // byte-untouched — verified by the per-month totals
  Q("m10_partition_overwrite", (s, dir) => {
    val path = tmpDir("graft_m10") + "/li"
    val li = t(s, dir, "lineitem").withColumn("l_month",
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
    graft.sources.Layout.writeHivePartitioned(li, path, "l_month")
    val batch = li.filter(col("l_month").isin(199401, 199402))
      .withColumn("l_quantity", col("l_quantity") * 2)
    graft.sources.Layout.overwritePartitions(batch, path, "l_month")
    s.read.parquet(path).groupBy("l_month")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  },
    // post-overwrite table == original months except the two
    // corrected ones, whose quantities double (counts unchanged)
    """WITH li AS (
      |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER)
      |           AS l_month,
      |         l_quantity
      |  FROM lineitem)
      |SELECT l_month, count(*) AS n,
      |       round(sum(CASE WHEN l_month IN (199401, 199402)
      |                      THEN l_quantity * 2 ELSE l_quantity END), 2)
      |         AS sum_qty
      |FROM li GROUP BY l_month""".stripMargin)

  Q("pp1_partition_prune", (s, dir) => {
    val path = tmpDir("graft_pp1") + "/li"
    graft.sources.Layout.writeHivePartitioned(
      t(s, dir, "lineitem").withColumn("l_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int")),
      path, "l_month")
    s.read.parquet(path)
      .filter(col("l_month").between(199501, 199512))
      .groupBy("l_month")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  },
    """SELECT (year(l_shipdate) * 100 + month(l_shipdate)) AS l_month,
      |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |WHERE (year(l_shipdate) * 100 + month(l_shipdate))
      |      BETWEEN 199501 AND 199512
      |GROUP BY 1""".stripMargin)

  // DYNAMIC partition pruning: the fact's partition column is joined
  // against a filtered month dimension — Spark broadcasts the dim's
  // key set and injects a dynamicpruningexpression into the fact
  // scan, so only the joined month directories are listed
  Q("pp2_dynamic_prune", (s, dir) => {
    val path = tmpDir("graft_pp2") + "/li"
    graft.sources.Layout.writeHivePartitioned(
      t(s, dir, "lineitem").withColumn("l_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int")),
      path, "l_month")
    val months = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1994)
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("int").as("d_month"))
      .distinct()
    s.read.parquet(path)
      .join(months, col("l_month") === col("d_month"))
      .groupBy("l_month")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  },
    """WITH m AS (
      |  SELECT DISTINCT (year(o_orderdate) * 100 + month(o_orderdate))
      |           AS d_month
      |  FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1994)
      |SELECT (year(l_shipdate) * 100 + month(l_shipdate)) AS l_month,
      |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem JOIN m
      |  ON (year(l_shipdate) * 100 + month(l_shipdate)) = m.d_month
      |GROUP BY 1""".stripMargin)

  // manual skew join: fact salted on a non-key column, dim
  // replicated 8x, join runs on (partkey, salt) so a hot part's
  // rows land on 8 reducers — result == the plain join, which is
  // exactly what the oracle computes
  Q("sk2_salted_join", (s, dir) => {
    val joined = Skew.saltedJoin(
      t(s, dir, "lineitem"),
      t(s, dir, "part").withColumnRenamed("p_partkey", "l_partkey"),
      keys = Seq("l_partkey"), saltFrom = "l_orderkey", replication = 8)
    joined.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
  },
    """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1""".stripMargin)

  Q("pipe1_training_pipeline", (s, dir) => {
    // end-to-end curation: normalize -> quality gate -> near-dup
    // removal -> annotate; the integration query for the whole
    // training-data surface. Full hash MATCH since r6: pipe1Oracle
    // replays the entire funnel over the ground-truth pair closure
    // (the recall-1 adjudication — LSH finds every qualifying pair
    // on this fixture)
    // materialize the normalized+gated corpus once: the filter
    // pushdown otherwise collapses canonical() into the quality
    // predicate AND the projection (2 evaluations/row), and
    // dedupCorpus's exact stage consumes the frame twice more
    val docs = t(s, dir, "documents")
      .withColumn("text", TextNormalize.canonical(col("text")))
      .filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
      .localCheckpoint()
    Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.8)
      .select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
  }, pipe1Oracle)

  /** Unrolled-CTE replay of [[graft.operators.LinkGraph.pageRank]]'s
    * integer recurrence for the pr1 fixture graph: one (dang, inb,
    * r) CTE triple per iteration, every operation BIGINT floor
    * division/multiply/add — exact agreement with the Spark result
    * is the point (fixed-point PageRank is engine-independent). */
  private def pr1OracleSql(iters: Int): String = {
    val scale = 1000000000000L
    val head =
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |v AS (SELECT doc_id AS node FROM documents),
        |e AS (SELECT doc_id AS src,
        |        (doc_id * 13 + t.i * 17 + 1) % (SELECT n_docs FROM n) AS dst
        |      FROM documents, unnest([0, 1, 2, 3]) AS t(i)
        |      WHERE t.i < doc_id % 4),
        |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, (SELECT SCALE // n_docs FROM n) AS rank_fp FROM v)"""
        .stripMargin.replace("SCALE", scale.toString)
    val iterCtes = (1 to iters).map { k =>
      s"""dang$k AS (
         |  SELECT CAST(coalesce(sum(rank_fp), 0) AS BIGINT) AS dang
         |  FROM r${k - 1} LEFT JOIN deg USING (node) WHERE deg IS NULL),
         |inb$k AS (
         |  SELECT e.dst AS node,
         |         CAST(sum(r.rank_fp // d.deg) AS BIGINT) AS inbound
         |  FROM e JOIN r${k - 1} r ON r.node = e.src
         |         JOIN deg d ON d.node = e.src
         |  GROUP BY 1),
         |r$k AS (
         |  SELECT v.node,
         |         (((100 - 85) * $scale) // (100 * n.n_docs))
         |         + ((85 * (coalesce(i.inbound, 0) + (dg.dang // n.n_docs))) // 100)
         |           AS rank_fp
         |  FROM v LEFT JOIN inb$k i ON v.node = i.node
         |  CROSS JOIN dang$k dg CROSS JOIN n)""".stripMargin
    }
    (head +: iterCtes).mkString(",\n") +
      s"\nSELECT node, rank_fp FROM r$iters"
  }

  /** Unrolled-CTE replay of [[graft.operators.LinkGraph.labelPropagation]]
    * for pr3's decade-star fixture: one (votes, labels) CTE pair per
    * sweep, integer-only — neighbor votes UNION ALL the self vote,
    * plurality by (count DESC, label ASC). */
  private def pr3OracleSql(iters: Int): String = {
    val head =
      """WITH e0 AS (
        |  SELECT doc_id AS s, doc_id - doc_id % 10 AS t
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id, doc_id + 1 FROM documents
        |  WHERE doc_id % 10 < 9
        |    AND doc_id + 1 <= (SELECT max(doc_id) FROM documents)
        |  UNION ALL
        |  SELECT doc_id, doc_id + 10 FROM documents
        |  WHERE doc_id % 100 = 0
        |    AND doc_id + 10 <= (SELECT max(doc_id) FROM documents)),
        |e AS (
        |  SELECT DISTINCT s, t FROM (
        |    SELECT s, t FROM e0 WHERE s <> t
        |    UNION ALL
        |    SELECT t, s FROM e0 WHERE s <> t)),
        |l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM e)""".stripMargin
    val sweeps = (1 to iters).map { k =>
      s"""v$k AS (
         |  SELECT node, lbl, count(*) AS c FROM (
         |    SELECT e.t AS node, l.lbl FROM e JOIN l${k - 1} l ON l.node = e.s
         |    UNION ALL
         |    SELECT node, lbl FROM l${k - 1})
         |  GROUP BY 1, 2),
         |l$k AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |           row_number() OVER (PARTITION BY node
         |                              ORDER BY c DESC, lbl ASC) AS rn
         |    FROM v$k)
         |  WHERE rn = 1)""".stripMargin
    }
    (head +: sweeps).mkString(",\n") +
      s"\nSELECT node, lbl FROM l$iters"
  }

  /** Unrolled-CTE replay of [[graft.operators.LinkGraph.kCore]] on the
    * pr2/pr4 chain+chord fixture: one (deg, alive) CTE pair per
    * sweep — degree counted over edges with BOTH endpoints alive,
    * shell below k dropped. */
  private def pr4OracleSql(k: Int, sweeps: Int): String = {
    val head =
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |e0 AS (
        |  SELECT doc_id AS s, doc_id + 1 AS t FROM documents, mx
        |  WHERE doc_id + 1 <= m
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM documents, mx
        |  WHERE doc_id + 2 <= m),
        |e AS (SELECT DISTINCT s, t FROM (
        |  SELECT s, t FROM e0 WHERE s <> t
        |  UNION ALL SELECT t, s FROM e0 WHERE s <> t)),
        |a0 AS (SELECT DISTINCT s AS node FROM e)""".stripMargin
    val iter = (1 to sweeps).map { i =>
      s"""d$i AS (
         |  SELECT e.s AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM e JOIN a${i - 1} x ON e.s = x.node
         |         JOIN a${i - 1} y ON e.t = y.node
         |  GROUP BY 1 HAVING count(*) >= $k),
         |a$i AS (SELECT node FROM d$i)""".stripMargin
    }
    (head +: iter).mkString(",\n") + s"\nSELECT node, deg FROM d$sweeps"
  }

  /** Bit-for-bit SQL replay of [[graft.sources.Layout.interleaveBits]]
    * for z1: one fully-parenthesized (mask, shift, or) term per bit
    * position, BIGINT throughout. */
  private def z1OracleSql(bits: Int): String = {
    val mask = (1L << bits) - 1
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(((a >> $i) & 1) << ${2 * i})",
        s"(((b >> $i) & 1) << ${2 * i + 1})")
    }
    s"""WITH m AS (
       |  SELECT l_orderkey, l_linenumber,
       |         CAST(l_partkey AS BIGINT) & $mask AS a,
       |         CAST(l_suppkey AS BIGINT) & $mask AS b
       |  FROM lineitem)
       |SELECT l_orderkey, l_linenumber,
       |       ${terms.mkString(" | ")} AS zkey
       |FROM m""".stripMargin
  }

  /** ta3 oracle: replays the RollingHash kernel (h = h*31 + byte,
    * wrapping at 2^64) as a HUGEINT fold over the normalized text's
    * characters (the corpus is ASCII, so codepoints == UTF-8 bytes —
    * asserted by the zero non-ASCII count the fixture data carries),
    * then maps the unsigned residue onto Spark's signed Long. The
    * quality score replays TextAnalysis.qualityScore term-by-term in
    * the same association order so the doubles agree bit-for-bit. */
  /** pipe1 oracle (r6 — moved from rows-only): the WHOLE curation
    * funnel replayed stage by stage on the canonical-normalized text.
    * The only non-replayable piece of the Spark plan is LSH candidate
    * generation; on this fixture qualifying pairs (exact 3-gram
    * Jaccard ≥ 0.8) all collide in at least one band — the same
    * recall-1 adjudication dd14/st14 carry — so the ground-truth
    * all-pairs sweep + min-label closure is the batch result.
    * Stage mirrors: canonical (control→space, lower, strip
    * punct, collapse ws, trim), the ta3 quality composite gated at
    * 0.3 (unrounded doubles, identical expression tree), exact dedup
    * as min-id-per-identical-text, near-dup clusters via the dd12
    * recursive closure, survivors = cluster labels + singletons,
    * annotations = ta3's token count and rolling-hash fingerprint. */
  private def pipe1Oracle: String = {
    raw"""WITH RECURSIVE nn AS (
       |  SELECT doc_id, lang, source,
       |    trim(regexp_replace(regexp_replace(
       |      lower(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g')),
       |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS text
       |  FROM documents),
       |${qualitySignalsCte("nn")},
       |gated AS (
       |  SELECT nn.* FROM nn JOIN q USING (doc_id)
       |  WHERE CASE WHEN q.nt BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END * 0.25
       |      + CASE WHEN q.nc / greatest(q.nt, 1.0) BETWEEN 2.0 AND 12.0
       |             THEN 1.0 ELSE 0.0 END * 0.25
       |      + (1.0 - least(q.nd / greatest(q.nc, 1.0) * 5.0, 1.0)) * 0.2
       |      + (1.0 - least(q.np / greatest(q.nc, 1.0) * 5.0, 1.0)) * 0.2
       |      + least(q.sh / greatest(q.nt, 1.0) * 5.0, 1.0) * 0.1 >= 0.3),
       |ex AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
       |ek AS (SELECT g.* FROM gated g JOIN ex USING (doc_id)),
       |t3 AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(l) <= 3 THEN [array_to_string(l, ' ')]
       |         ELSE [array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)] END) AS w
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM ek)),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM t3 a JOIN t3 b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.w, b.w))::DOUBLE /
       |        (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
       |e AS (SELECT id_a AS s, id_b AS d FROM p
       |      UNION SELECT id_b AS s, id_a AS d FROM p),
       |reach AS (
       |  SELECT s AS id, s AS label FROM e
       |  UNION
       |  SELECT e.s AS id, r.label AS label FROM e JOIN reach r ON e.d = r.id),
       |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
       |drop AS (SELECT id AS doc_id FROM lab WHERE id <> cluster),
       |surv AS (SELECT ek.* FROM ek ANTI JOIN drop USING (doc_id)),
       |fp AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS HUGEINT),
       |        ${byteFoldList(raw"regexp_replace(trim(text), '\s+', ' ', 'g')")}),
       |      (h, b) -> (h * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS m
       |  FROM surv)
       |SELECT s.doc_id, s.lang, s.source,
       |  CAST(len(string_split_regex(trim(s.text), '\s+')) AS BIGINT) AS n_tokens,
       |  CAST(CASE WHEN f.m < CAST('9223372036854775808' AS HUGEINT) THEN f.m
       |            ELSE f.m - CAST('18446744073709551616' AS HUGEINT) END
       |       AS BIGINT) AS fingerprint
       |FROM surv s JOIN fp f USING (doc_id)""".stripMargin
  }

  /** ta3's quality signals per doc of `src`: token, char, digit and
    * punctuation counts and stopword hits, `q(doc_id, nt, nc, nd, np, sh)`. */
  private def qualitySignalsCte(src: String): String = {
    val stop = "\\b(" + QualityFilters.stopwords.mkString("|") + ")\\b"
    raw"""q AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nt,
       |    CAST(length(text) AS DOUBLE) AS nc,
       |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS nd,
       |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
       |      AS DOUBLE) AS np,
       |    CAST(len(regexp_extract_all(lower(text), '$stop')) AS DOUBLE) AS sh
       |  FROM $src)""".stripMargin
  }

  private def ta3Oracle: String = {
    raw"""WITH fp AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS HUGEINT),
       |        ${byteFoldList(raw"regexp_replace(trim(text), '\s+', ' ', 'g')")}),
       |      (h, b) -> (h * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS m
       |  FROM documents),
       |${qualitySignalsCte("documents")}
       |SELECT f.doc_id,
       |  CAST(CASE WHEN f.m < CAST('9223372036854775808' AS HUGEINT) THEN f.m
       |            ELSE f.m - CAST('18446744073709551616' AS HUGEINT) END
       |       AS BIGINT) AS fingerprint,
       |  CASE WHEN q.nt BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END * 0.25
       |      + CASE WHEN q.nc / greatest(q.nt, 1.0) BETWEEN 2.0 AND 12.0
       |             THEN 1.0 ELSE 0.0 END * 0.25
       |      + (1.0 - least(q.nd / greatest(q.nc, 1.0) * 5.0, 1.0)) * 0.2
       |      + (1.0 - least(q.np / greatest(q.nc, 1.0) * 5.0, 1.0)) * 0.2
       |      + least(q.sh / greatest(q.nt, 1.0) * 5.0, 1.0) * 0.1 AS quality
       |FROM fp f JOIN q USING (doc_id)""".stripMargin
  }

  /** qf9 oracle: replays the FULL classifier training trajectory —
    * [[qf9Iters]] unrolled (gradient, weight-update) CTE pairs over
    * the augmented fixture. Every double mirrors the Spark trainer's
    * tree: left-folded dot product, rational squash
    * `0.5 + (z/(1+abs(z)))*0.5`, per-row error upweighted 4x on the
    * junk class, gradient terms quantized to exact BIGINTs via
    * `floor(term*2^20 + 0.5)` (so the sums are order-free), update
    * `w - lr*g/(2^20*n)`. Weights are therefore bit-identical, and
    * so are the scores. The trajectory CTEs are shared between the
    * score oracle ([[qf9Oracle]]) and the weight-vector oracle
    * ([[qf9TrainOracle]]). */
  private val qf9Dims = 0 until 5

  private def qf9TrajectoryCtes: String = {
    val punct = raw"""[^.,;:!?''"()\[\]{}-]"""
    val dims = qf9Dims
    val sb = new StringBuilder
    sb ++= raw"""WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || '$qf9Junk' ELSE text END AS text,
      |    CASE WHEN doc_id % 5 = 0 THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents),
      |x AS MATERIALIZED (
      |  SELECT doc_id, y,
      |    1.0 AS x0,
      |    len(string_split_regex(trim(text), '\s+')) / 64.0 AS x1,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) / 256.0 AS x2,
      |    length(regexp_replace(text, '$punct', '', 'g')) / 256.0 AS x3,
      |    length(text) / 1024.0 AS x4
      |  FROM aug),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM x),
      |w0 AS (SELECT ${dims.map(d => s"0.0 AS w$d").mkString(", ")})""".stripMargin
    val zExpr = dims.map(d => s"x.x$d * w.w$d").mkString(" + ")
    val wgt = "CASE WHEN y = 1.0 THEN 4.0 ELSE 1.0 END"
    for (k <- 1 to qf9Iters) {
      val p = k - 1
      val gs = dims.map(d =>
        s"CAST(sum(CAST(floor((p - y) * ($wgt) * x$d * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS g$d")
        .mkString(",\n        |    ").stripMargin
      val ws = dims.map(d =>
        s"w.w$d - $qf9Lr * g.g$d / (1048576.0 * nn.n) AS w$d").mkString(", ")
      sb ++= s""",
        |g$k AS MATERIALIZED (
        |  SELECT $gs
        |  FROM (SELECT x.*, 0.5 + (z / (1 + abs(z))) * 0.5 AS p
        |        FROM (SELECT x.*, $zExpr AS z
        |              FROM x CROSS JOIN w$p w) x)),
        |w$k AS MATERIALIZED (SELECT $ws FROM w$p w CROSS JOIN g$k g CROSS JOIN nn)""".stripMargin
    }
    sb.toString
  }

  private def qf9Oracle: String = {
    val zExpr = qf9Dims.map(d => s"x.x$d * w.w$d").mkString(" + ")
    qf9TrajectoryCtes + s"""
      |SELECT x.doc_id,
      |       round(0.5 + (($zExpr) / (1 + abs($zExpr))) * 0.5, 6) AS score,
      |       (0.5 + (($zExpr) / (1 + abs($zExpr))) * 0.5) >= 0.5 AS flagged,
      |       x.doc_id % 5 = 0 AS is_junk
      |FROM x CROSS JOIN w$qf9Iters w""".stripMargin
  }

  /** The final weight vector, unpivoted to (dim, weight) — qf9_train's
    * oracle. RAW doubles, deliberately unrounded (ta3 precedent): the
    * trainer's trajectory is bit-reproducible by construction, and
    * this oracle is the proof. */
  private def qf9TrainOracle: String = {
    val cases = qf9Dims.map(d => s"WHEN $d THEN w.w$d").mkString(" ")
    qf9TrajectoryCtes + s"""
      |SELECT CAST(d.dim AS INT) AS dim,
      |       CASE d.dim $cases END AS weight
      |FROM w$qf9Iters w
      |CROSS JOIN (SELECT unnest(range(0, ${qf9Dims.length})) AS dim) d""".stripMargin
  }

  /** ta2 oracle: must mirror TextAnalysis.langId exactly — per-lang
    * marker-hit counts, winner = first lang (sorted code order)
    * reaching the max; zh markers match without word boundaries. */
  /** ta7's oracle: replays the paragraph fixture, the per-paragraph
    * marker scoring (same pattern builder as [[langIdOracle]]), the
    * majority election, and the minority flags. */
  private def ta7OracleSql: String = {
    val langs = graft.operators.TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    val hitExprs = langs.map { case (lang, words) =>
      val pattern =
        if (lang == "zh") "(" + words.mkString("|") + ")"
        else "\\b(" + words.mkString("|") + ")\\b"
      s"len(regexp_extract_all(lower(para), '$pattern')) AS ${lang}_hits"
    }.mkString(",\n         ")
    val greatest = "greatest(" + langs.map(_._1 + "_hits").mkString(", ") + ")"
    val cases = langs.map { case (lang, _) =>
      s"WHEN ${lang}_hits = mx THEN '$lang'"
    }.mkString(" ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |fx AS (
       |  SELECT doc_id,
       |         array_to_string(w[1:6], ' ') || E'\\n\\n' ||
       |         array_to_string(w[7:12], ' ') || E'\\n\\n' ||
       |         (CASE WHEN doc_id % 3 = 1 THEN 'der und ist nicht das ein zu'
       |               WHEN doc_id % 3 = 2 THEN 'le la est dans les et un une'
       |               ELSE 'the and of to is in' END) || E'\\n\\n' ||
       |         'zzz qqq xxx' AS text
       |  FROM w),
       |p0 AS (
       |  SELECT doc_id,
       |         unnest(string_split(text, E'\\n\\n')) AS para,
       |         generate_subscripts(string_split(text, E'\\n\\n'), 1) AS pos1
       |  FROM fx),
       |p AS (SELECT doc_id, CAST(pos1 - 1 AS INT) AS pos, para
       |      FROM p0 WHERE length(trim(para)) > 0),
       |h AS (
       |  SELECT doc_id, pos,
       |         $hitExprs
       |  FROM p),
       |g AS (SELECT *, $greatest AS mx FROM h),
       |pl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN mx = 0 THEN 'und' $cases END AS para_lang
       |  FROM g),
       |c AS (SELECT doc_id, para_lang, count(*) AS cnt FROM pl GROUP BY 1, 2),
       |dl AS (
       |  SELECT doc_id, para_lang AS doc_lang FROM (
       |    SELECT doc_id, para_lang,
       |           row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY cnt DESC, para_lang ASC) AS rn
       |    FROM c)
       |  WHERE rn = 1)
       |SELECT pl.doc_id, pl.pos, pl.para_lang, dl.doc_lang,
       |       pl.para_lang <> dl.doc_lang AS is_minority
       |FROM pl JOIN dl USING (doc_id)""".stripMargin
  }

  private def langIdOracle: String = {
    val langs = TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    val hitExprs = langs.map { case (lang, words) =>
      val pattern =
        if (lang == "zh") "(" + words.mkString("|") + ")"
        else "\\b(" + words.mkString("|") + ")\\b"
      s"len(regexp_extract_all(lower(text), '$pattern')) AS ${lang}_hits"
    }.mkString(",\n         ")
    val greatest = "greatest(" + langs.map(_._1 + "_hits").mkString(", ") + ")"
    val cases = langs.map { case (lang, _) =>
      s"WHEN ${lang}_hits = mx THEN '$lang'"
    }.mkString(" ")
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |         $hitExprs
       |  FROM documents),
       |m AS (SELECT *, $greatest AS mx FROM h)
       |SELECT doc_id, lang,
       |       CASE WHEN mx = 0 THEN 'und' $cases END AS lang_guess
       |FROM m""".stripMargin
  }

  /** fun1/fun2's ordered view -> click -> purchase funnel: each
    * user's first time at every step after the previous step,
    * `s1(t1)`, `s2(t2)`, `s3(t3)`. */
  private def funnelStepCtes: String =
    """WITH s1 AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view'
      |           THEN CAST(ts AS TIMESTAMP) END) AS t1
      |  FROM events GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |   AND e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t1
      |  GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |   AND e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
      |  GROUP BY 1)""".stripMargin

  /** ta6's winnowing replay: positional 3-grams as {'g','p'} structs
    * (field order IS the selection order: gram text then position) and
    * `sel(doc_id, s)`, the lexicographic minimum per 4-gram window. */
  private def winnowCtes: String =
    """WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
      |             FROM documents),
      |g AS (SELECT doc_id,
      |        CASE WHEN len(l) <= 3 THEN [{'g': array_to_string(l, ' '), 'p': 0}]
      |             ELSE [{'g': array_to_string(l[i:i+2], ' '), 'p': i - 1}
      |                   for i in range(1, len(l) - 1)] END AS gl
      |      FROM tok),
      |sel AS (SELECT doc_id,
      |          CASE WHEN len(gl) <= 4 THEN [list_sort(gl)[1]]
      |               ELSE [list_sort(gl[i+1:i+4])[1]
      |                     for i in range(0, len(gl) - 3)] END AS s
      |        FROM g)""".stripMargin
}
