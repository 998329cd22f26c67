package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.TextExpressions
import graft.operators._

import Fixtures._
import OracleCtes._

/** Queries: beyond-parity: dedup. */
object DedupQ extends Family {

  Q("dd1_dedup_exact", (s, dir) =>
    Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text")),
    "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text")

  // bag-of-words dedup: word-order shuffles collapse (the word-salad
  // corpus makes this bite hard — far fewer bags than texts)
  Q("dd20_token_sort_dedup", (s, dir) =>
    Dedup.tokenSortDedup(t(s, dir, "documents"), "doc_id", "text"),
    """WITH s AS (
      |  SELECT doc_id, array_to_string(
      |           list_sort(string_split_regex(lower(trim(text)), '\s+')), ' ')
      |           AS sig
      |  FROM documents)
      |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM s GROUP BY sig""".stripMargin)

  // directed containment (|A∩B|/|A|): the small-doc-inside-big-doc
  // case symmetric Jaccard misses; df-capped 2-gram join, both
  // directions when both qualify
  Q("dd21_containment_pairs", (s, dir) =>
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 2, threshold = 0.8, maxGramDf = 100),
    // the same df cap and directed ratio on string grams
    """WITH t AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(l) <= 2 THEN [array_to_string(l, ' ')]
        |         ELSE [array_to_string(l[i:i+1], ' ')
        |               for i in range(1, len(l))] END) AS gs
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
        |        FROM documents)),
        |g AS (SELECT doc_id AS id, unnest(gs) AS gram FROM t),
        |dfc AS (SELECT gram, count(*) AS d FROM g GROUP BY 1),
        |kept AS (SELECT g.id, g.gram FROM g JOIN dfc USING (gram)
        |         WHERE d <= 100),
        |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n_a FROM kept GROUP BY 1),
        |sh AS (SELECT a.id AS id_a, b.id AS id_b,
        |              CAST(count(*) AS BIGINT) AS n_shared
        |       FROM kept a JOIN kept b ON a.gram = b.gram AND a.id <> b.id
        |       GROUP BY 1, 2)
        |SELECT sh.id_a, sh.id_b, sh.n_shared, sz.n_a,
        |       round(CAST(sh.n_shared AS DOUBLE) / CAST(sz.n_a AS DOUBLE), 6)
        |         AS containment
        |FROM sh JOIN sz ON sz.id = sh.id_a
        |WHERE CAST(sh.n_shared AS DOUBLE) >= 0.8 * CAST(sz.n_a AS DOUBLE)"""
      .stripMargin)

  Q("dd2_dedup_minhash_lsh", (s, dir) =>
    // r6: moved from rows-only to MATCH. LSH candidate generation
    // is DETERMINISTIC given the fixed hash family; on this fixture
    // every qualifying pair (exact 3-gram Jaccard >= 0.7) collides
    // in at least one of the 16 bands — verified pair-for-pair
    // against the brute-force sweep — so the ground-truth oracle is
    // the batch output (the dd14/st14 recall-1 adjudication)
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, numHashes = 64, numBands = 16, threshold = 0.7),
    // ground-truth pairs at >= 0.7 (recall-1 fixture, verified
    // pair-for-pair; deterministic hash family so the equality is
    // stable); jaccard is the same I/(A+B-I) division
    trigramSetCtes + """
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       len(list_intersect(a.w, b.w))::DOUBLE /
      |         (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.w, b.w))::DOUBLE /
      |      (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.7""".stripMargin)

  Q("dd3_dedup_simhash", (s, dir) =>
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3),
    // r7: the simhash token hash moved from xxhash64 to
    // rolling-31 + Murmur3 fmix64 (TextExpressions.tokenHash64),
    // every step of which replays exactly in HUGEINT arithmetic —
    // the ta3 trick extended with split 32-bit multiplies for the
    // finalizer — so dd3 graduates from rows-only to a full brute-
    // force hamming-join oracle (valid because no signature bucket
    // approaches maxBucketSize on this fixture: blocking recall is
    // guaranteed by the 4x16-bit pigeonhole at hamming <= 3)
    dd3Oracle)

  Q("dd4_ngram_jaccard", (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5),
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       len(list_intersect(a.w, b.w))::DOUBLE /
      |         (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard,
      |       a.lang AS lang
      |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.w, b.w))::DOUBLE /
      |        (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.5""".stripMargin)

  // r7: banded OR-amplified hyperplane LSH + exact cosine verify
  // (precision exact by construction, recall probabilistic). The
  // fixture's threshold (0.35) is far below a production near-dup
  // bar, so the query pins an explicit wide banding (20 bands x 2
  // planes; per-pair miss <= 0.62^20 ~ 8e-5 at the threshold) under
  // which EVERY qualifying pair collides in at least one band —
  // verified pair-for-pair against exactCosinePairs at sf0.01 AND
  // sf0.1 (the dd2/dd14 recall-1 adjudication) — so the sim5
  // brute-force SQL is the ground-truth oracle. Production calls at
  // cosine ~0.95 use the auto-tuning (16 planes/band: selective
  // buckets, see Similarity.lshParams).
  Q("dd5_embedding_neardup", (s, dir) =>
    Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, bands = Some(20), planesPerBand = Some(2))
      .select(col("id_a"), col("id_b"),
        round(col("cosine"), 6).as("cos_sim")),
    // same replay as sim5 (list_sum accumulates the cast-to-double
    // products left-to-right like the codegen dot kernel); valid as
    // dd5's oracle under the recall-1 adjudication — the banded LSH
    // finds every qualifying pair on this fixture, verified
    // pair-for-pair against exactCosinePairs
    SimilarityQ.sim5.oracle)

  // contamination detection: eval-split docs leaking into the
  // train-split, exact bipartite Jaccard (candidates only across
  // sides via the shared-prefix inverted index)
  Q("dd7_contamination", (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.crossJaccardPairs(
      docs.filter(col("doc_id") <= 250), docs.filter(col("doc_id") > 250),
      "doc_id", "text", blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5)
  },
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents)
      |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
      |       len(list_intersect(l.w, r.w))::DOUBLE /
      |         (len(l.w) + len(r.w) - len(list_intersect(l.w, r.w))) AS jaccard,
      |       l.lang AS lang
      |FROM t l JOIN t r ON l.lang = r.lang
      |WHERE l.doc_id <= 250 AND r.doc_id > 250
      |  AND len(list_intersect(l.w, r.w))::DOUBLE /
      |        (len(l.w) + len(r.w) - len(list_intersect(l.w, r.w))) >= 0.5""".stripMargin)

  // benchmark decontamination at scale: Bloom prefilter (built from
  // the small eval side, probed codegen-native on the big train
  // side BEFORE any shuffle) + exact verify join -> output is
  // exactly the exact-overlap result the oracle computes
  Q("dd8_decontaminate", (s, dir) => {
    val docs = t(s, dir, "documents")
    Decontaminate.bloomContaminatedDocs(
      docs.filter(col("doc_id") > 250), docs.filter(col("doc_id") <= 250),
      "doc_id", "text", gramSize = 3, expectedEvalGrams = 1 << 16)
  },
    // word 3-grams via DuckDB list comprehension over the same
    // whitespace tokenization; DISTINCT per doc mirrors the
    // sorted_shingle_hashes distinct-per-doc contract. The CASE
    // mirrors the kernel's short-doc branch (docs with <= gramSize
    // words contribute ONE whole-text gram, never zero) so the oracle
    // cannot silently diverge on corpora containing short docs.
    distinctTrigramCte + """
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id <= 250),
      |tr AS (SELECT doc_id, gram FROM g WHERE doc_id > 250)
      |SELECT tr.doc_id, count(*) AS n_shared_grams
      |FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id""".stripMargin)

  // dd10's spans as sliceable character offsets on the normalized
  // text — the actual excision coordinates
  Q("dd11_span_char_offsets", (s, dir) => {
    val docs = t(s, dir, "documents")
    val spans = Decontaminate.contaminatedSpans(
      docs.filter(col("doc_id") > 250), docs.filter(col("doc_id") <= 250),
      "doc_id", "text", gramSize = 3, expectedEvalGrams = 1 << 16)
    Decontaminate.spanCharOffsets(spans,
      docs.filter(col("doc_id") > 250), "doc_id", "text")
  },
    // dd10 + the offsets join; the ruler uses the RAW-case token list
    // (lowercasing can change character counts — e.g. İ -> i̇ — and
    // the product measures original-case text)
    rulerTokCte + posTrigramCte + evalIslandCtes + """,
      |sp AS (SELECT train_id, eval_id, min(pos) AS span_start,
      |              count(*) + 2 AS span_words
      |       FROM isl GROUP BY train_id, eval_id, grp)
      |SELECT sp.train_id, sp.eval_id, sp.span_start, sp.span_words,
      |       CASE WHEN sp.span_start = 0 THEN 0
      |            ELSE len(array_to_string(t.lr[1:CAST(sp.span_start AS INT)], ' ')) + 1
      |       END AS char_start,
      |       len(array_to_string(
      |         t.lr[CAST(sp.span_start AS INT) + 1
      |              : CAST(sp.span_start + sp.span_words AS INT)], ' ')) AS char_len
      |FROM sp JOIN tok t ON t.doc_id = sp.train_id""".stripMargin)

  // the step dd10/dd11 set up: the CLEANED corpus — contaminated
  // spans merged and cut out of the normalized text, with
  // removed-chars / merged-region audit columns (same train/eval
  // split as dd8/dd10/dd11)
  Q("dd13_excised_corpus", (s, dir) => {
    val docs = t(s, dir, "documents")
    val train = docs.filter(col("doc_id") > 250)
    val spans = Decontaminate.contaminatedSpans(
      train, docs.filter(col("doc_id") <= 250),
      "doc_id", "text", gramSize = 3, expectedEvalGrams = 1 << 16)
    Decontaminate.excise(train, spans, "doc_id", "text")
  },
    // the substring-stitch form of excision: dd10's span set deduped
    // across eval docs, merged in token space (touching intervals
    // collapse), mapped to char regions on the raw-case ruler — an
    // interior region consumes its trailing separator, a doc-final
    // one its leading separator — then the complement segments are
    // stitched back together. A MATCH proves the Spark operator's
    // row-local token filtering equals this char-offset slice.
    rulerTokCte + posTrigramCte + evalIslandCtes + """,
      |sp AS (SELECT DISTINCT train_id, min(pos) AS s,
      |              min(pos) + count(*) + 2 AS e
      |       FROM isl GROUP BY train_id, eval_id, grp),
      |""".stripMargin + stitchedExcisionSql + "\nWHERE t.doc_id > 250")

  // exact duplicate-substring dedup (suffix-array semantics via
  // consecutive gram anchors): every maximal >= 8-word verbatim
  // cross-doc run of >= 60 normalized chars excised everywhere but
  // the min-id owner. The fixture plants a 19-word boilerplate
  // suffix on every doc_id % 5 == 0 — the shape this operator
  // exists for — on top of the corpus's organic near-dup clusters
  Q("dd23_substring_excision", (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + bpBoiler))).otherwise(col("text"))
        .as("text"))
    Decontaminate.duplicateSubstringExcision(docs, "doc_id", "text",
      anchorWords = 8, minChars = 60)
  },
    // dd23: suffix-array-style exact substring dedup replay — 8-gram
    // anchors with df >= 2, min-id owner immune, islands merged, the
    // 60-char floor applied per merged region, then the dd13
    // substring-stitch; fixture plants the 19-word boilerplate on
    // doc_id % 5 == 0
    s"""WITH fx AS (SELECT doc_id,
      |       CASE WHEN doc_id % 5 = 0 THEN text || ' $bpBoiler'
      |            ELSE text END AS text
      |     FROM documents),""".stripMargin + """
      |tok AS (SELECT doc_id,
      |               string_split_regex(lower(trim(text)), '\s+') AS l,
      |               string_split_regex(trim(text), '\s+') AS lr
      |        FROM fx),
      |g AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(l) <= 8 THEN [{'pos': 0, 'gram': array_to_string(l, ' ')}]
      |         ELSE [{'pos': i - 1, 'gram': array_to_string(l[i:i+7], ' ')}
      |               for i in range(1, len(l) - 6)] END,
      |    recursive := true)
      |  FROM tok),
      |dup AS (SELECT gram, min(doc_id) AS owner
      |        FROM (SELECT DISTINCT doc_id, gram FROM g)
      |        GROUP BY gram HAVING count(*) >= 2),
      |mk AS (SELECT g.doc_id AS train_id, g.pos
      |       FROM g JOIN dup USING (gram)
      |       WHERE g.doc_id <> dup.owner),
      |isl AS (SELECT train_id, pos,
      |        pos - row_number() OVER (PARTITION BY train_id ORDER BY pos) AS grp
      |        FROM mk),
      |sp0 AS (SELECT train_id, min(pos) AS s, min(pos) + count(*) + 7 AS e
      |        FROM isl GROUP BY train_id, grp),
      |sp AS (SELECT sp0.train_id, sp0.s, sp0.e
      |       FROM sp0 JOIN tok tt ON tt.doc_id = sp0.train_id
      |       WHERE len(array_to_string(
      |               tt.lr[CAST(sp0.s + 1 AS INT):CAST(sp0.e AS INT)], ' ')) >= 60),
      |""".stripMargin + stitchedExcisionSql)

  // C4-style over-duplicated span detection: word 3-grams occurring
  // in >= 5 docs corpus-wide, counted per containing doc
  Q("dd9_hot_spans", (s, dir) =>
    Decontaminate.hotSpanDocs(t(s, dir, "documents"), "doc_id", "text",
      gramSize = 3, minDocs = 5),
    distinctTrigramCte + """
      |hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 5)
      |SELECT doc_id, count(*) AS n_hot_spans
      |FROM g JOIN hot USING (gram) GROUP BY doc_id""".stripMargin)

  // the removal rule dd9 only detects: duplicated spans excised from
  // every doc EXCEPT the min-id first occurrence — the cleaned
  // corpus with audit columns (C4's "remove repeated spans" step)
  Q("dd18_hot_span_excision", (s, dir) =>
    Decontaminate.hotSpanExcision(t(s, dir, "documents"), "doc_id", "text",
      gramSize = 3, minDocs = 5),
    // dd18: hot grams (df >= 5 distinct docs) keep their min-id owner
    // untouched; every other doc's hot-position islands merge and cut
    // via the same substring-stitch machinery as dd13
    rulerTokCte + posTrigramCte + """hotg AS (SELECT gram, min(doc_id) AS owner FROM g
      |         GROUP BY gram HAVING count(DISTINCT doc_id) >= 5),
      |m AS (SELECT g.doc_id AS train_id, g.pos
      |      FROM g JOIN hotg USING (gram) WHERE g.doc_id <> hotg.owner),
      |isl AS (SELECT train_id, pos,
      |        pos - row_number() OVER (PARTITION BY train_id ORDER BY pos) AS grp
      |        FROM m),
      |sp AS (SELECT train_id, min(pos) AS s, min(pos) + count(*) + 2 AS e
      |       FROM isl GROUP BY train_id, grp),
      |""".stripMargin + stitchedExcisionSql)

  // span-level decontamination: WHERE the contamination sits in each
  // train doc (maximal runs of consecutive matching 3-gram
  // positions), so pipelines can excise spans instead of dropping
  // docs; same train/eval split as dd8
  Q("dd10_contaminated_spans", (s, dir) => {
    val docs = t(s, dir, "documents")
    Decontaminate.contaminatedSpans(
      docs.filter(col("doc_id") > 250), docs.filter(col("doc_id") <= 250),
      "doc_id", "text", gramSize = 3, expectedEvalGrams = 1 << 16)
  },
    wordTokCte + posTrigramCte + evalIslandCtes + """
      |SELECT train_id, eval_id, min(pos) AS span_start, count(*) + 2 AS span_words
      |FROM isl GROUP BY train_id, eval_id, grp""".stripMargin)

  // memorization/novelty audit (r9): docs < 100 act as "model
  // generations", the rest as the training corpus — per generation,
  // the fraction of its word 3-grams already in the corpus and the
  // longest contiguous memorized span (the planted near-dup pairs
  // that cross the id-100 boundary surface as long runs); the
  // oracle replays grams, the distinct-corpus join, and the
  // gaps-and-islands runs
  val mem1 = Q("mem1_novelty_audit", (s, dir) => {
    val docs = t(s, dir, "documents")
    Decontaminate.memorizationAudit(
      docs.filter(col("doc_id") < 100), docs.filter(col("doc_id") >= 100),
      "doc_id", "text", gramSize = 3)
  },
    // positional grams (struct comprehension keeps pos), gram join,
    // then gaps-and-islands: consecutive positions share pos - row_number
    // gram/positions replay (dd10's CTE), distinct-corpus join,
    // gaps-and-islands runs, per-generation novelty + max span
    wordTokCte + posTrigramCte + """corpus AS (SELECT DISTINCT gram FROM g WHERE doc_id >= 100),
      |geng AS (SELECT doc_id AS gen_id, pos, gram FROM g WHERE doc_id < 100),
      |tot AS (SELECT doc_id AS gen_id,
      |          CASE WHEN len(l) <= 3 THEN 1 ELSE len(l) - 2 END AS n_grams
      |        FROM tok WHERE doc_id < 100),
      |m AS (SELECT gen_id, pos FROM geng JOIN corpus USING (gram)),
      |isl AS (SELECT gen_id, pos,
      |          pos - row_number() OVER (PARTITION BY gen_id ORDER BY pos) AS grp
      |        FROM m),
      |runs AS (SELECT gen_id, grp, count(*) AS run FROM isl GROUP BY 1, 2),
      |agg AS (SELECT gen_id, max(run) AS maxrun,
      |          CAST(sum(run) AS BIGINT) AS nhit FROM runs GROUP BY 1)
      |SELECT t.gen_id, CAST(t.n_grams AS BIGINT) AS n_grams,
      |  coalesce(a.nhit, 0) AS n_memorized_grams,
      |  CASE WHEN t.n_grams > 0
      |       THEN round(1.0 - coalesce(a.nhit, 0) * 1.0 / t.n_grams, 6) END AS novelty,
      |  CAST(CASE WHEN coalesce(a.maxrun, 0) > 0 THEN a.maxrun + 2
      |            ELSE 0 END AS BIGINT) AS max_memorized_words
      |FROM tot t LEFT JOIN agg a USING (gen_id)""".stripMargin)

  // edit-tolerant memorization audit (r10): mem1's verbatim k-gram
  // runs miss paraphrase-level regurgitation, so this one audits
  // winnowed fingerprints instead. Fixture plants both classes
  // against the corpus (docs >= 100): gens 0-49 are NEAR-VERBATIM
  // copies of corpus docs with every 20th word edited (the
  // 1-edit-per-20-words paraphrase), gens 50-99 are NOVEL text over
  // the same vocabulary (token order reversed). The former must
  // flag near_verbatim, the latter must not; the oracle replays the
  // fixture construction, both winnowing passes, and the join
  Q("mem2_paraphrase_audit", (s, dir) => {
    val docs = t(s, dir, "documents")
    // 5-grams, not 3: at trigram granularity a 60k-doc corpus
    // contains most common-word triples somewhere, so even
    // reversed text "matches" spuriously; 5-gram fingerprints keep
    // the paraphrase class >= 0.7 memorized while novel text
    // collapses toward 0
    Decontaminate.paraphraseAudit(mem2GenFixture(docs),
      docs.filter(col("doc_id") >= 100), "gen_id", "text",
      gramSize = 5, window = 4)
  },
    // replay the planted-paraphrase fixture (edit every 20th word /
    // reverse tokens), both winnowing passes (dd19's selection CTEs:
    // per-4-window lexicographic-min 3-gram), and the distinct join;
    // the flag compares by integer cross-multiplication on both sides
    plantedGenerationCtes + """
      |         CASE WHEN len(l) <= 5 THEN [array_to_string(l, ' ')]
      |              ELSE [array_to_string(l[i:i+4], ' ')
      |                    for i in range(1, len(l) - 3)] END AS gl
      |       FROM gtok),
      |gsel AS (SELECT gen_id,
      |           CASE WHEN len(gl) <= 4 THEN [list_sort(gl)[1]]
      |                ELSE [list_sort(gl[i+1:i+4])[1]
      |                      for i in range(0, len(gl) - 3)] END AS s
      |         FROM gg),
      |gfp AS (SELECT DISTINCT gen_id, g AS gram
      |        FROM (SELECT gen_id, unnest(s) AS g FROM gsel)),
      |""".stripMargin + corpusFingerprintCtes + """
      |tot AS (SELECT gen_id, CAST(count(*) AS BIGINT) AS n_fingerprints
      |        FROM gfp GROUP BY 1),
      |hit AS (SELECT gen_id, CAST(count(*) AS BIGINT) AS n_matched
      |        FROM gfp JOIN cfp USING (gram) GROUP BY 1)
      |SELECT t.gen_id, t.n_fingerprints,
      |       COALESCE(h.n_matched, 0) AS n_matched,
      |       round(COALESCE(h.n_matched, 0) * 1.0 / t.n_fingerprints, 6)
      |         AS memorized_frac,
      |       COALESCE(h.n_matched, 0) * 2 >= t.n_fingerprints AS near_verbatim
      |FROM tot t LEFT JOIN hit h USING (gen_id)""".stripMargin)

  // r10: WHERE the lifted material sits — maximal matched-
  // fingerprint runs with an edit-sized gap tolerance, so each
  // near-verbatim generation reports its paraphrased region as ONE
  // span (start/end in word coordinates) instead of fragmenting at
  // every 20th-word edit; novel generations report nothing (the
  // minFps support filter kills vocabulary-coincidence matches)
  Q("mem3_paraphrase_spans", (s, dir) => {
    val docs = t(s, dir, "documents")
    Decontaminate.paraphraseSpans(mem2GenFixture(docs),
      docs.filter(col("doc_id") >= 100), "gen_id", "text",
      gramSize = 5, window = 4)
      .select(col("gen_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"), col("n_fps"),
        col("span_words").cast("long").as("span_words"))
  },
    // mem2's winnow replay carrying positions ({'g','p'} structs sort
    // by gram then leftmost position, the kernel's tie rule), then
    // lag/cumsum islands with the gramSize + 2*window = 13 gap
    // tolerance and the n_fps >= 3 support filter
    plantedGenerationCtes + """
      |         CASE WHEN len(l) <= 5 THEN [{'g': array_to_string(l, ' '), 'p': 0}]
      |              ELSE [{'g': array_to_string(l[i:i+4], ' '), 'p': i - 1}
      |                    for i in range(1, len(l) - 3)] END AS gl
      |       FROM gtok),
      |gsel AS (SELECT gen_id,
      |           CASE WHEN len(gl) <= 4 THEN [list_sort(gl)[1]]
      |                ELSE [list_sort(gl[i+1:i+4])[1]
      |                      for i in range(0, len(gl) - 3)] END AS s
      |         FROM gg),
      |gfp AS (SELECT DISTINCT gen_id, f.g AS gram, f.p AS pos
      |        FROM (SELECT gen_id, unnest(s) AS f FROM gsel)),
      |""".stripMargin + corpusFingerprintCtes + """
      |m AS (SELECT gen_id, pos FROM gfp JOIN cfp USING (gram)),
      |lg AS (SELECT gen_id, pos,
      |         CASE WHEN pos - lag(pos) OVER (PARTITION BY gen_id ORDER BY pos)
      |              > 13 THEN 1 ELSE 0 END AS gap
      |       FROM m),
      |isl AS (SELECT gen_id, pos,
      |          sum(gap) OVER (PARTITION BY gen_id ORDER BY pos) AS grp
      |        FROM lg),
      |sp AS (SELECT gen_id, min(pos) AS span_start, max(pos) AS span_end,
      |         CAST(count(*) AS BIGINT) AS n_fps
      |       FROM isl GROUP BY gen_id, grp)
      |SELECT gen_id, span_start, span_end, n_fps,
      |       span_end - span_start + 5 AS span_words
      |FROM sp WHERE n_fps >= 3""".stripMargin)

  // r10: cross-source gram-overlap matrix — the governance signal
  // behind mixture design and dedup planning: per source pair,
  // shared distinct 3-grams, Jaccard, and min-containment (the
  // "small source is a subset" signal); one distinct set per
  // source + one keyed self-join, never corpus x corpus
  Q("ovl1_source_overlap", (s, dir) =>
    Profiling.sourceGramOverlap(t(s, dir, "documents"),
      "source", "text", gramSize = 3),
    // distinct 3-gram sets per source (mem1's gram replay, keyed by
    // source), one self-join on the gram, totals joined back; jaccard
    // and containment rounded identically on both sides
    """WITH tok AS (SELECT source, string_split_regex(lower(trim(text)), '\s+') AS l
      |             FROM documents),
      |g AS (SELECT DISTINCT source AS src, gram FROM (
      |        SELECT source, unnest(
      |          CASE WHEN len(l) <= 3 THEN [array_to_string(l, ' ')]
      |               ELSE [array_to_string(l[i:i+2], ' ')
      |                     for i in range(1, len(l) - 1)] END) AS gram
      |        FROM tok)),
      |""".stripMargin + overlapReportHead + """
      |       CAST(0 AS BIGINT) AS ubiquitous_grams
      |FROM tot ta JOIN tot tb ON ta.src < tb.src
      |LEFT JOIN sh ON sh.source_a = ta.src AND sh.source_b = tb.src""".stripMargin)

  // r11: the ubiquitous-gram guard exercised — grams present in
  // more than 6 of the 20 sources are boilerplate that inflates
  // every pair's fan-out (S² rows per shared gram) with no pairwise
  // signal; they leave the join and surface as a count so the cap
  // is observable. Keeps the overlap join bounded at adversarial S
  // or boilerplate-heavy corpora (verdict-r10 #6)
  Q("ovl2_source_overlap_capped", (s, dir) =>
    Profiling.sourceGramOverlap(t(s, dir, "documents"),
      "source", "text", gramSize = 3, maxGramSources = 6),
    // same replay with the df-cap: grams in > 6 sources are excluded
    // from totals and the pair join, and counted once
    """WITH tok AS (SELECT source, string_split_regex(lower(trim(text)), '\s+') AS l
      |             FROM documents),
      |g0 AS (SELECT DISTINCT source AS src, gram FROM (
      |        SELECT source, unnest(
      |          CASE WHEN len(l) <= 3 THEN [array_to_string(l, ' ')]
      |               ELSE [array_to_string(l[i:i+2], ' ')
      |                     for i in range(1, len(l) - 1)] END) AS gram
      |        FROM tok)),
      |dfreq AS (SELECT gram, count(*) AS nsrc FROM g0 GROUP BY gram),
      |nu AS (SELECT CAST(count(*) FILTER (nsrc > 6) AS BIGINT) AS ubiquitous_grams
      |       FROM dfreq),
      |g AS (SELECT g0.* FROM g0 JOIN dfreq USING (gram) WHERE dfreq.nsrc <= 6),
      |""".stripMargin + overlapReportHead + """
      |       (SELECT ubiquitous_grams FROM nu) AS ubiquitous_grams
      |FROM tot ta JOIN tot tb ON ta.src < tb.src
      |LEFT JOIN sh ON sh.source_a = ta.src AND sh.source_b = tb.src""".stripMargin)

  // r11: MMR diversity re-ranking between retrieval and consumption
  // — candidates from the exact yardstick retriever, then the
  // greedy lambda*rel - (1-lambda)*max-sim-to-picked chain (k
  // distributed rounds over ALL queries at once, never per-query
  // loops). The oracle replays the greedy chain unrolled. lambda =
  // 0.5: both weights are EXACT in binary, so Spark's lit(1.0 -
  // lambda) and the oracle's (1.0 - 0.5) are the same double and
  // near-tie argmax decisions cannot diverge on literal rounding
  val mmr1 = Q("mmr1_diversified_topk", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val cand = Similarity.bruteForceTopK(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", 25)
    Retrieval.mmrRerank(cand, e, "vec_id", "embedding", k = 5, lambda = 0.5)
  },
    // r11: the MMR greedy chain replayed exactly — same candidate
    // pool (top-25 cosine), same lambda-0.5 marginal score, the k=5
    // selection rounds unrolled as CTE levels (arg_min on a
    // [-score, id] key = score desc / id asc, Spark's tie rule)
    mmrGreedyOracle)

  // r11: KLL quantile sketch — the FIRST-CLASS mergeable-percentile
  // column (TypedImperativeAggregate): one map-combined pass builds
  // O(k)-byte per-group sketches. Contract output (the pf3/pf10
  // pattern): exact aggregates DuckDB can replay + booleans
  // asserting the returned element's true rank sits within eps*n of
  // the target — the estimate itself is merge-order-dependent, the
  // BOUND is the tested contract
  Q("qsk1_kll_quantiles", (s, dir) => {
    val docs = t(s, dir, "documents")
    val K = graft.functions.KllExpressions
    val sk = docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      min("n_chars").as("min_len"), max("n_chars").as("max_len"),
      K.kll_sketch(col("n_chars").cast("double"), 200).as("__sk"))
      .select(col("lang"), col("n_docs"), col("min_len"), col("max_len"),
        K.kll_quantile(col("__sk"), 0.5).as("__q50"),
        K.kll_quantile(col("__sk"), 0.9).as("__q90"))
    val ranks = docs.join(sk.select("lang", "__q50", "__q90"), "lang")
      .groupBy("lang").agg(
        count(when(col("n_chars") < col("__q50"), 1)).as("__lo50"),
        count(when(col("n_chars") <= col("__q50"), 1)).as("__hi50"),
        count(when(col("n_chars") < col("__q90"), 1)).as("__lo90"),
        count(when(col("n_chars") <= col("__q90"), 1)).as("__hi90"))
    sk.join(ranks, "lang").select(col("lang"), col("n_docs"),
      col("min_len"), col("max_len"),
      kllRankBound(col("__lo50"), col("__hi50"), 0.5, col("n_docs"))
        .as("q50_in_bound"),
      kllRankBound(col("__lo90"), col("__hi90"), 0.9, col("n_docs"))
        .as("q90_in_bound"))
  },
    // r11: the KLL contracts — DuckDB computes the exact aggregates
    // and literal trues; Spark computes the booleans FROM THE DATA
    // (pf3's pattern), so a sketch outside its rank bound fails the
    // gate
    """SELECT lang, count(*) AS n_docs, min(n_chars) AS min_len,
      |       max(n_chars) AS max_len,
      |       true AS q50_in_bound, true AS q90_in_bound
      |FROM documents GROUP BY lang""".stripMargin)

  // r11: the sketch ROLLUP path — per-(lang, source) sketches built
  // once, coarser per-lang answers via kll_merge with NO corpus
  // rescan (what approx_percentile cannot do: its sketch is not a
  // value). count_preserved pins the losslessness of merge weights;
  // the quantile bounds re-verify accuracy AFTER merging
  Q("qsk2_kll_rollup", (s, dir) => {
    val docs = t(s, dir, "documents")
    val K = graft.functions.KllExpressions
    val parts = docs.groupBy("lang", "source").agg(
      count(lit(1)).as("__n_part"),
      K.kll_sketch(col("n_chars").cast("double"), 200).as("__sk"))
    val rolled = parts.groupBy("lang").agg(
      count(lit(1)).as("n_parts"),
      sum("__n_part").as("n_docs"),
      K.kll_merge(col("__sk")).as("__msk"))
      .select(col("lang"), col("n_parts"), col("n_docs"),
        K.kll_count(col("__msk")).as("__cnt"),
        K.kll_quantile(col("__msk"), 0.5).as("__q50"),
        K.kll_quantile(col("__msk"), 0.9).as("__q90"))
    val ranks = docs.join(rolled.select("lang", "__q50", "__q90"), "lang")
      .groupBy("lang").agg(
        count(when(col("n_chars") < col("__q50"), 1)).as("__lo50"),
        count(when(col("n_chars") <= col("__q50"), 1)).as("__hi50"),
        count(when(col("n_chars") < col("__q90"), 1)).as("__lo90"),
        count(when(col("n_chars") <= col("__q90"), 1)).as("__hi90"))
    rolled.join(ranks, "lang").select(col("lang"), col("n_parts"),
      col("n_docs"),
      (col("__cnt") === col("n_docs")).as("count_preserved"),
      kllRankBound(col("__lo50"), col("__hi50"), 0.5, col("n_docs"))
        .as("q50_in_bound"),
      kllRankBound(col("__lo90"), col("__hi90"), 0.9, col("n_docs"))
        .as("q90_in_bound"))
  },
    // n_parts counts PART SKETCHES = groupBy(lang, source) groups; a
    // NULL source is a group on the Spark side, so the oracle must
    // count NULL as a distinct value too (chr(1) stand-in), not skip
    // it the way bare count(DISTINCT) would
    """SELECT lang,
      |       count(DISTINCT coalesce(source, chr(1))) AS n_parts,
      |       count(*) AS n_docs,
      |       true AS count_preserved,
      |       true AS q50_in_bound, true AS q90_in_bound
      |FROM documents GROUP BY lang""".stripMargin)

  // r11: the KLL sketch maintained at INGESTION — two real
  // micro-batches write replay-safe per-batch PART sketches
  // (batch_id partitions: KLL merge is not retry-idempotent, so
  // the layout, not the merge, carries exactly-once), the fold on
  // read must satisfy the one-shot batch sketch's contract:
  // lossless count, rank-bounded quantiles (qsk1's oracle shape)
  Q("st26_stream_kll", (s, dir) => {
    val docs = t(s, dir, "documents")
    val base = tmpDir("graft_st26")
    val stream = evenOddStream(s, docs, "doc_id", base)
    val q = graft.streaming.EventStream.streamingKllSketch(
      stream, "lang", col("n_chars"), 200, s"$base/store", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val K = graft.functions.KllExpressions
    val folded = graft.streaming.EventStream
      .kllSketchTable(s, s"$base/store", "lang")
      .select(col("lang"),
        K.kll_count(col("sk")).as("n_docs"),
        K.kll_quantile(col("sk"), 0.5).as("__q50"),
        K.kll_quantile(col("sk"), 0.9).as("__q90"))
    val ranks = docs.join(folded.select("lang", "__q50", "__q90"), "lang")
      .groupBy("lang").agg(
        count(when(col("n_chars") < col("__q50"), 1)).as("__lo50"),
        count(when(col("n_chars") <= col("__q50"), 1)).as("__hi50"),
        count(when(col("n_chars") < col("__q90"), 1)).as("__lo90"),
        count(when(col("n_chars") <= col("__q90"), 1)).as("__hi90"))
    folded.join(ranks, "lang").select(col("lang"), col("n_docs"),
      kllRankBound(col("__lo50"), col("__hi50"), 0.5, col("n_docs"))
        .as("q50_in_bound"),
      kllRankBound(col("__lo90"), col("__hi90"), 0.9, col("n_docs"))
        .as("q90_in_bound"))
  },
    // the stream fold's contract equals the batch sketch's: the
    // lossless count IS the exact per-lang count, the bounds hold
    """SELECT lang, count(*) AS n_docs,
      |       true AS q50_in_bound, true AS q90_in_bound
      |FROM documents GROUP BY lang""".stripMargin)

  // r11: the manifest maintained at INGESTION — per-batch manifest
  // parts fold on read (sums add, digests XOR: a mergeable partial
  // by design). The folded store must be BYTE-IDENTICAL to the
  // one-shot batch manifest — man1's oracle re-verifies the fold,
  // digest and all
  Q("st27_stream_manifest", (s, dir) => {
    val base = tmpDir("graft_st27")
    val stream = evenOddStream(s, t(s, dir, "documents"), "doc_id", base)
    val q = graft.streaming.EventStream.streamingShardManifest(
      stream, "doc_id", "text", 16, s"$base/store", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    graft.streaming.EventStream.manifestTable(s, s"$base/store")
  },
    // the streamed fold must equal the one-shot manifest BYTE-FOR-BYTE
    // (digest included): same oracle
    man1.oracle)

  // r11: content-addressed shard manifest — the reproducibility
  // record pinned next to a corpus generation: counts, char/token
  // totals, id range, and an order-free md5-xor digest per shard
  // (manifest diff localizes changed shards without reading data)
  val man1 = Q("man1_shard_manifest", (s, dir) =>
    Profiling.shardManifest(t(s, dir, "documents"), "doc_id", "text", 16),
    // r11: manifest digests replayed with the dq7 md5-xor convention
    manifestOracle)

  // r11: manifest DIFF between two corpus generations — gen B edits
  // shard 3 (10 docs gain a suffix) and shrinks shard 7 (6 docs
  // dropped); the diff must flag exactly those two shards, moving
  // only 2x16 manifest rows, never documents
  Q("man2_manifest_diff", (s, dir) => {
    val docs = t(s, dir, "documents")
    val gen2 = docs
      .filter(!(pmod(col("doc_id"), lit(16)) === 7 && col("doc_id") < 100))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(16)) === 3 && col("doc_id") < 160,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
    Profiling.manifestDiff(
      Profiling.shardManifest(docs, "doc_id", "text", 16),
      Profiling.shardManifest(gen2, "doc_id", "text", 16))
  },
    // r11: both generations' manifests replayed + the O(shards) diff
    """WITH ra AS (
      |  SELECT doc_id % 16 AS shard_id,
      |         CAST(concat('0x', substr(md5(concat_ws(chr(31),
      |           coalesce(CAST(doc_id AS VARCHAR), chr(1)),
      |           coalesce(text, chr(1)))), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |ma AS (SELECT shard_id, count(*) AS n, bit_xor(h) AS digest
      |       FROM ra GROUP BY shard_id),
      |gb AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 16 = 3 AND doc_id < 160
      |              THEN text || ' [rev2]' ELSE text END AS text
      |  FROM documents
      |  WHERE NOT (doc_id % 16 = 7 AND doc_id < 100)),
      |rb AS (
      |  SELECT doc_id % 16 AS shard_id,
      |         CAST(concat('0x', substr(md5(concat_ws(chr(31),
      |           coalesce(CAST(doc_id AS VARCHAR), chr(1)),
      |           coalesce(text, chr(1)))), 1, 15)) AS BIGINT) AS h
      |  FROM gb),
      |mb AS (SELECT shard_id, count(*) AS n, bit_xor(h) AS digest
      |       FROM rb GROUP BY shard_id)
      |SELECT shard_id,
      |       coalesce(ma.n, 0) AS n_docs_a,
      |       coalesce(mb.n, 0) AS n_docs_b,
      |       coalesce(ma.n, 0) = coalesce(mb.n, 0) AS count_ok,
      |       ma.digest IS NOT DISTINCT FROM mb.digest AS digest_ok
      |FROM ma FULL OUTER JOIN mb USING (shard_id)""".stripMargin)

  // r11: MMR over IVF candidates — the production composition: the
  // scale retriever feeds the diversity pass. Full probe makes the
  // candidate pool bit-identical to brute force (sim2's verified
  // configuration), so mmr1's greedy oracle re-verifies the whole
  // chain; production runs reduced probe with the same plan
  Q("mmr2_diversified_ivf", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val cand = Similarity.ivfTopK(e.filter("vec_id < 10"), e,
      "vec_id", "embedding", 25, nCentroids = 8, nProbe = 8)
    Retrieval.mmrRerank(cand, e, "vec_id", "embedding", k = 5, lambda = 0.5)
  },
    // full-probe IVF candidates == brute-force candidates (sim2's
    // verified configuration), so the SAME greedy oracle adjudicates
    // the composed retrieval->diversify chain
    mmr1.oracle)

  // r10: fill-in-the-middle training triples — the infilling
  // transform code models pretrain with: deterministic idHash cut
  // points, (prefix, middle, suffix) + the PSM-ordered training
  // string; short docs pass through as plain left-to-right examples
  Q("fim1_fill_in_middle", (s, dir) =>
    Chunking.fimSplits(t(s, dir, "documents"), "doc_id", "text"),
    // replay idHash cut points (ids stay far below the 16-bit-limb
    // overflow guard, shuf1's precedent) and the three slices; CASE
    // guards keep the n<3 modulus unevaluated on both engines
    """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |             FROM documents),
      |c AS (SELECT doc_id, l, len(l) AS n,
      |        ((doc_id * 2) * 2654435761) % 4294967296 AS h1,
      |        ((doc_id * 2 + 1) * 2654435761) % 4294967296 AS h2
      |      FROM tok),
      |s1 AS (SELECT doc_id, l, n, h2,
      |         CASE WHEN n >= 3 THEN CAST(h1 % (n - 2) + 1 AS INT) END AS cut1
      |       FROM c),
      |s2 AS (SELECT doc_id, l, n, cut1,
      |         CASE WHEN n >= 3
      |              THEN CAST(cut1 + 1 + h2 % (n - cut1 - 1) AS INT) END AS cut2
      |       FROM s1),
      |parts AS (SELECT doc_id, n >= 3 AS fim_applied,
      |            CAST(n AS BIGINT) AS n_tokens,
      |            CASE WHEN n >= 3 THEN array_to_string(l[1:cut1], ' ')
      |                 ELSE array_to_string(l, ' ') END AS prefix,
      |            CASE WHEN n >= 3
      |                 THEN array_to_string(l[cut1+1:cut2], ' ')
      |                 ELSE '' END AS middle,
      |            CASE WHEN n >= 3 THEN array_to_string(l[cut2+1:n], ' ')
      |                 ELSE '' END AS suffix
      |          FROM s2)
      |SELECT doc_id, fim_applied, n_tokens, prefix, middle, suffix,
      |       CASE WHEN fim_applied THEN '<PRE> ' || prefix || ' <SUF> ' ||
      |            suffix || ' <MID> ' || middle END AS psm
      |FROM parts""".stripMargin)

  // r10: SFT prompt/completion pair construction — one
  // deterministic boundary in the 20-80% band of each doc, with
  // the loss boundary reported as a token index so packing can
  // mask prompt tokens out of the loss; map-only like fim1
  Q("inst1_prompt_completion", (s, dir) =>
    Chunking.promptCompletionPairs(t(s, dir, "documents"),
      "doc_id", "text"),
    // replay the banded idHash boundary (floor/ceil on n*0.2 / n*0.8
    // are IEEE-identical) and the two slices; short docs unsplit
    """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |             FROM documents),
      |c AS (SELECT doc_id, l, len(l) AS n,
      |        (doc_id * 2654435761) % 4294967296 AS h
      |      FROM tok),
      |b AS (SELECT doc_id, l, n, h,
      |        greatest(1, CAST(floor(n * 0.2) AS INT)) AS lo,
      |        least(n - 1, CAST(ceil(n * 0.8) AS INT)) AS hi
      |      FROM c),
      |s AS (SELECT doc_id, l, n,
      |        CASE WHEN n >= 2
      |             THEN CAST(lo + h % (hi - lo + 1) AS INT) END AS cut
      |      FROM b)
      |SELECT doc_id, n >= 2 AS pair_applied, CAST(n AS BIGINT) AS n_tokens,
      |       CASE WHEN n >= 2 THEN CAST(cut AS BIGINT)
      |            ELSE CAST(n AS BIGINT) END AS boundary_tokens,
      |       CASE WHEN n >= 2 THEN array_to_string(l[1:cut], ' ')
      |            ELSE array_to_string(l, ' ') END AS prompt,
      |       CASE WHEN n >= 2 THEN array_to_string(l[cut+1:n], ' ')
      |            ELSE '' END AS completion
      |FROM s""".stripMargin)

  // r10: per-source duplicate-rate rollup — the governance view of
  // dd1's exact-dup groups: per source, how many docs are copies of
  // something (anywhere in the corpus) and how many are redundant
  // (non-first members, dd1's keep rule) — the number a mixture
  // designer discounts a source's token count by. Same 96-bit hash
  // key as dd1, one groupBy + one keyed join back
  Q("dq11_source_dup_rate", (s, dir) => {
    val docs = t(s, dir, "documents")
    val h = docs.select(col("doc_id"), col("source"),
      xxhash64(col("text")).as("__h"), hash(col("text")).as("__h2"))
    val groups = h.groupBy("__h", "__h2")
      .agg(count(lit(1)).as("__n"), min("doc_id").as("__first"))
    h.join(groups, Seq("__h", "__h2"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("doc_id") =!= col("__first"), 1L).otherwise(0L))
          .as("n_redundant"),
        round(sum(when(col("__n") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_rate"))
  },
    // exact-text groups (string equality == the 96-bit hash groups on
    // any collision-free corpus, dd1's precedent), rolled up by source
    """WITH g AS (SELECT text, count(*) AS n, min(doc_id) AS first_id
      |           FROM documents GROUP BY text)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dup_docs,
      |       CAST(sum(CASE WHEN d.doc_id <> g.first_id THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_redundant,
      |       round(sum(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) * 1.0
      |             / count(*), 6) AS dup_rate
      |FROM documents d JOIN g USING (text)
      |GROUP BY d.source""".stripMargin)

  // r10: Zipf rank-frequency slope over the top-1000 tokens — the
  // corpus-health fingerprint (natural text sits near -1; template
  // spam flattens, boilerplate steepens). Vocab-bounded global
  // rank (the freq table, not the corpus, is what sorts — same
  // bounded-global-window class as the percentile grid); OLS via
  // regr_slope/intercept on (ln rank, ln freq), round(4) because
  // double SUMS are aggregation-order-sensitive in the last ulp
  Q("ta11_zipf_slope", (s, dir) => {
    val freq = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(lower(trim(col("text")))))
        .as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val top = freq.orderBy(col("f").desc, col("tok").asc).limit(1000)
      .withColumn("r", row_number().over(
        Window.orderBy(col("f").desc, col("tok").asc)))
    top.agg(count(lit(1)).as("n_top"),
      round(expr("regr_slope(ln(f), ln(r))"), 4).as("zipf_slope"),
      round(expr("regr_intercept(ln(f), ln(r))"), 4).as("zipf_intercept"))
  },
    // top-1000 token ranks (freq desc, token asc — deterministic),
    // OLS over (ln r, ln f) via the same regr_ aggregates
    """WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |            FROM documents),
      |fr AS (SELECT tok, count(*) AS f FROM tk WHERE tok <> '' GROUP BY tok),
      |top AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok ASC) AS r
      |        FROM fr ORDER BY f DESC, tok ASC LIMIT 1000)
      |SELECT CAST(count(*) AS BIGINT) AS n_top,
      |       round(regr_slope(ln(f), ln(r)), 4) AS zipf_slope,
      |       round(regr_intercept(ln(f), ln(r)), 4) AS zipf_intercept
      |FROM top""".stripMargin)

  // r10: distinct-n diversity ACROSS the generation set (Li et al.
  // 2016's distinct-1/2 — the standard mode-collapse signal): one
  // row per n with pooled total vs distinct n-grams. Different
  // axis from the per-doc repetition gates: a sampler can emit
  // individually non-repetitive generations that are all alike
  Q("eval10_distinct_n", (s, dir) => {
    val gens = t(s, dir, "documents").filter(col("doc_id") < 100)
    (1 to 3).map { n =>
      gens.select(explode(
          TextExpressions.word_ngrams(col("text"), n)).as("gram"))
        .groupBy(lit(n).as("n"))
        .agg(count(lit(1)).as("total_grams"),
          countDistinct(col("gram")).as("distinct_grams"))
    }.reduce(_.unionByName(_))
      .select(col("n"), col("total_grams"), col("distinct_grams"),
        round(col("distinct_grams").cast("double") / col("total_grams"), 6)
          .as("distinct_ratio"))
  },
    // pooled n-gram replay per n in 1..3 (range() goes empty when a
    // doc has fewer than n tokens — same as the kernel's empty array)
    """WITH tok AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS l
      |             FROM documents WHERE doc_id < 100),
      |g AS (
      |  SELECT n, unnest([array_to_string(l[i:i+n-1], ' ')
      |                    for i in range(1, greatest(len(l) - n + 2, 1))]) AS gram
      |  FROM tok CROSS JOIN (SELECT unnest([1, 2, 3]) AS n))
      |SELECT CAST(n AS INT) AS n,
      |       CAST(count(*) AS BIGINT) AS total_grams,
      |       CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams,
      |       round(count(DISTINCT gram) * 1.0 / count(*), 6) AS distinct_ratio
      |FROM g GROUP BY n""".stripMargin)

  // cross-run incremental dedup: the corpus's LSH signatures persist
  // as bucketed store tables; the new batch probes them without
  // rescanning the corpus. Exact shingle-Jaccard verify on the
  // candidates -> deterministic output (band generation is seeded;
  // at 64/16 the per-pair miss probability on the >= 0.9 planted
  // dups is ~4e-8, and the whole path is deterministic per dataset)
  Q("dd14_incremental_dedup", (s, dir) => {
    val docs = t(s, dir, "documents")
    // table names scoped by sf dir: this lambda WRITES the store at
    // construction time, so globally-named tables would let a later
    // construction (another sf dir) silently corrupt an earlier
    // not-yet-executed plan's store
    val suffix = java.lang.Integer.toHexString(dir.hashCode)
    val (bandsTable, shinglesTable) =
      (s"dd14_bands_$suffix", s"dd14_shingles_$suffix")
    val (bands, shingles) = Dedup.signatureStore(
      docs.filter(col("doc_id") <= 400), "doc_id", "text",
      shingleSize = 3, numHashes = 64, numBands = 16)
    graft.sources.Bucketing.writeBucketed(bands, bandsTable,
      Seq("bucket"), 8)
    graft.sources.Bucketing.writeBucketed(shingles, shinglesTable,
      Seq("id"), 8)
    Dedup.incrementalDedup(docs.filter(col("doc_id") > 400),
      graft.sources.Bucketing.readBucketed(s, bandsTable),
      graft.sources.Bucketing.readBucketed(s, shinglesTable),
      "doc_id", "text", shingleSize = 3, numHashes = 64,
      numBands = 16, threshold = 0.8)
  },
    // the probe's ground truth: every new-vs-corpus pair at exact
    // 3-gram Jaccard >= 0.8 (the oracle assumes LSH recall 1 on this
    // dataset — deterministic, verified; planted dups sit at >= 0.9)
    trigramSetCtes + """
      |SELECT n.doc_id AS new_id, c.doc_id AS dup_of,
      |       len(list_intersect(n.w, c.w))::DOUBLE /
      |         (len(n.w) + len(c.w) - len(list_intersect(n.w, c.w))) AS jaccard
      |FROM g n JOIN g c ON n.doc_id > 400 AND c.doc_id <= 400
      |WHERE len(list_intersect(n.w, c.w))::DOUBLE /
      |      (len(n.w) + len(c.w) - len(list_intersect(n.w, c.w))) >= 0.8""".stripMargin)

  // blocked fuzzy entity linkage: deterministic name fixture
  // (8-name pool, per-group typo variants: char dropped / char
  // appended), token blocking with a size gate, exact Levenshtein
  // verify — never all-pairs
  Q("link1_fuzzy_match", (s, dir) =>
    Dedup.blockedFuzzyPairs(namedFixture(t(s, dir, "documents")),
      "doc_id", "name", maxDistance = 2, maxBlockSize = 500),
    "WITH " + namedFixtureCtes + """
      |tok AS (
      |  SELECT DISTINCT doc_id, lower(trim(name)) AS name, t.token
      |  FROM nm, unnest(list_filter(
      |    string_split_regex(lower(trim(name)), '\s+'),
      |    x -> length(x) > 0)) AS t(token)),
      |sz AS (SELECT token, count(*) AS bn FROM tok GROUP BY token),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.name AS na, b.name AS nb
      |  FROM tok a JOIN tok b USING (token) JOIN sz USING (token)
      |  WHERE a.doc_id < b.doc_id AND sz.bn BETWEEN 2 AND 500)
      |SELECT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS edit_distance
      |FROM cand WHERE levenshtein(na, nb) <= 2""".stripMargin)

  // entity resolution end-to-end: fuzzy pairs -> transitive closure
  // -> one golden record per entity (shortest-name election);
  // unmatched records survive as singleton entities
  Q("link2_golden_record", (s, dir) => {
    val named = namedFixture(t(s, dir, "documents"))
    val pairs = Dedup.blockedFuzzyPairs(named, "doc_id", "name",
      maxDistance = 2, maxBlockSize = 500)
    Dedup.goldenRecords(named, "doc_id", "name", pairs)
  },
    "WITH RECURSIVE " + namedFixtureCtes + """
      |tok AS (
      |  SELECT DISTINCT doc_id, lower(trim(name)) AS name, t.token
      |  FROM nm, unnest(list_filter(
      |    string_split_regex(lower(trim(name)), '\s+'),
      |    x -> length(x) > 0)) AS t(token)),
      |sz AS (SELECT token, count(*) AS bn FROM tok GROUP BY token),
      |p AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM tok a JOIN tok b USING (token) JOIN sz USING (token)
      |  WHERE a.doc_id < b.doc_id AND sz.bn BETWEEN 2 AND 500
      |    AND levenshtein(a.name, b.name) <= 2),
      |e AS (SELECT id_a AS s, id_b AS d FROM p
      |      UNION SELECT id_b AS s, id_a AS d FROM p),
      |reach AS (
      |  SELECT s AS id, s AS label FROM e
      |  UNION
      |  SELECT e.s AS id, r.label AS label FROM e JOIN reach r ON e.d = r.id),
      |cl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
      |lab AS (
      |  SELECT nm.doc_id AS id, nm.name,
      |         coalesce(cl.cluster, nm.doc_id) AS cluster
      |  FROM nm LEFT JOIN cl ON cl.id = nm.doc_id),
      |rk AS (
      |  SELECT cluster, id, name,
      |         row_number() OVER (PARTITION BY cluster
      |                            ORDER BY length(name), name, id) AS rn,
      |         count(*) OVER (PARTITION BY cluster) AS n_members
      |  FROM lab)
      |SELECT cluster, id AS golden_id, name AS golden_name,
      |       n_members
      |FROM rk WHERE rn = 1""".stripMargin)

  // SymSpell deletion-neighborhood join over the typo'd name
  // vocabulary: guaranteed-recall blocking (shared <=1-deletion
  // key), exact levenshtein verify — hash-matches the full
  // quadratic oracle without ever running it
  Q("ed2_deletion_join", (s, dir) =>
    Dedup.deletionNeighborhoodPairs(
      namedFixture(t(s, dir, "documents")), "name", maxDistance = 1),
    // the oracle IS the quadratic scan the operator avoids — the
    // blocked result must hash-equal it (recall proof, not estimate)
    "WITH " + namedFixtureCtes + """
      |w AS (SELECT DISTINCT lower(trim(name)) AS w FROM nm
      |      WHERE length(lower(trim(name))) > 0)
      |SELECT a.w AS word_a, b.w AS word_b,
      |       CAST(levenshtein(a.w, b.w) AS BIGINT) AS edit_distance
      |FROM w a JOIN w b ON a.w < b.w
      |WHERE abs(length(a.w) - length(b.w)) <= 1
      |  AND levenshtein(a.w, b.w) <= 1""".stripMargin)

  // character-level verify: every non-leader doc paired with its
  // 5-group leader, edit distance + similarity over capped texts
  Q("ed1_edit_distance", (s, dir) => {
    val cands = t(s, dir, "documents")
      .select(col("doc_id").as("a"),
        (col("doc_id") - col("doc_id") % 5).as("b"))
      .filter(col("a") =!= col("b"))
    Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
      cands, "a", "b", maxLen = 256)
  },
    """WITH c AS (
      |  SELECT doc_id AS id_a, doc_id - doc_id % 5 AS id_b
      |  FROM documents WHERE doc_id % 5 <> 0),
      |j AS (
      |  SELECT c.id_a, c.id_b,
      |         substr(a.text, 1, 256) AS ta, substr(b.text, 1, 256) AS tb
      |  FROM c
      |  JOIN documents a ON a.doc_id = c.id_a
      |  JOIN documents b ON b.doc_id = c.id_b)
      |SELECT id_a, id_b,
      |       CAST(levenshtein(ta, tb) AS BIGINT) AS edit_distance,
      |       round(1.0 - levenshtein(ta, tb)::DOUBLE /
      |             greatest(length(ta), length(tb), 1), 4) AS similarity
      |FROM j""".stripMargin)

  // dense equi-width histogram of order values: every bucket
  // present including empty over/underflow
  Q("pf6_histogram", (s, dir) =>
    Profiling.histogram(t(s, dir, "orders"), "o_totalprice",
      lo = 0.0, hi = 500000.0, nBuckets = 10),
    """WITH b AS (
      |  SELECT CASE WHEN o_totalprice < 0 THEN -1
      |              WHEN o_totalprice >= 500000 THEN 10
      |              ELSE CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT)
      |              END AS bucket
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
      |spine AS (SELECT unnest(range(-1, 11)) AS bucket)
      |SELECT s.bucket,
      |       CASE WHEN s.bucket BETWEEN 0 AND 9
      |            THEN round(s.bucket * 50000.0, 4) END AS lo_bound,
      |       CASE WHEN s.bucket BETWEEN 0 AND 9
      |            THEN round((s.bucket + 1) * 50000.0, 4) END AS hi_bound,
      |       COALESCE(c.n, 0) AS n
      |FROM spine s LEFT JOIN c USING (bucket)""".stripMargin)

  // C4-style paragraph dedup over a paragraphed fixture: each doc
  // becomes 3 word-slice paragraphs, the middle one taken from its
  // 5-group leader — planting cross-doc duplicate paragraphs that
  // the operator must excise while reassembling survivors in order
  Q("dd15_paragraph_dedup", (s, dir) => {
    val own = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val leaders = t(s, dir, "documents")
      .select(col("doc_id").as("l_id"), split(col("text"), " ").as("lw"))
    val fixture = own
      .join(broadcast(leaders),
        col("l_id") === col("doc_id") - col("doc_id") % 5)
      .select(col("doc_id"),
        concat_ws("\n\n",
          array_join(slice(col("w"), 1, 4), " "),
          array_join(slice(col("lw"), 5, 4), " "),
          array_join(slice(col("w"), 9, 2), " ")).as("text"))
    Dedup.paragraphDedup(fixture, "doc_id", "text")
  },
    // same fixture construction, then first-occurrence-wins paragraph
    // dedup replayed with window functions; string_agg skips the
    // NULLed losers and reassembles survivors in paragraph order
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |fixture AS (
      |  SELECT b.doc_id,
      |         array_to_string(b.w[1:4], ' ') || chr(10) || chr(10) ||
      |         array_to_string(l.w[5:8], ' ') || chr(10) || chr(10) ||
      |         array_to_string(b.w[9:10], ' ') AS text
      |  FROM base b JOIN base l ON l.doc_id = b.doc_id - b.doc_id % 5),
      |paras AS (
      |  SELECT doc_id, CAST(i - 1 AS INT) AS para_idx, ps[i] AS para
      |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
      |        FROM fixture), unnest([1, 2, 3]) AS t(i)),
      |ranked AS (
      |  SELECT doc_id, para_idx, para,
      |         row_number() OVER (PARTITION BY para
      |                            ORDER BY doc_id, para_idx) AS rk
      |  FROM paras)
      |SELECT doc_id,
      |       string_agg(CASE WHEN rk = 1 THEN para END,
      |                  chr(10) || chr(10) ORDER BY para_idx) AS clean_text,
      |       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN rk <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      |FROM ranked GROUP BY doc_id
      |HAVING sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) > 0""".stripMargin)

  // cluster labeling over a DETERMINISTIC pair source (exact Jaccard,
  // same params as dd4, doc subset to keep it light) so the min-label
  // connected components can be checked against a DuckDB recursive CTE
  val dd6 = Q("dd6_jaccard_clusters", (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 100)
    Dedup.clusters(jaccardPairs(docs))
      .select(col("id").as("doc_id"), col("cluster"))
  },
    jaccardClusterCtes + """
      |SELECT id AS doc_id, min(label) AS cluster FROM reach GROUP BY id""".stripMargin)

  // soft dedup: 1/|cluster| training weight per doc over dd6's
  // components — reweighting instead of removal, singletons weight 1
  Q("dd26_soft_dedup_weights", (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 100)
    Dedup.softDedupWeights(docs, "doc_id", jaccardPairs(docs))
  },
    // dd6's components, then sizes and the inverse weight; unclustered
    // docs are their own singletons
    jaccardClusterCtes + """,
      |cl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
      |lab AS (SELECT d.doc_id AS id, coalesce(cl.cluster, d.doc_id) AS cluster
      |        FROM (SELECT doc_id FROM documents WHERE doc_id <= 100) d
      |        LEFT JOIN cl ON cl.id = d.doc_id),
      |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster)
      |SELECT lab.id AS doc_id, lab.cluster,
      |       CAST(sz.cluster_size AS BIGINT) AS cluster_size,
      |       round(1.0 / sz.cluster_size, 6) AS weight
      |FROM lab JOIN sz USING (cluster)""".stripMargin)

  // SAME pair set through the large-star/small-star contraction path
  // (driverCcMaxEdges = 0 disables the driver union-find shortcut):
  // the branch that actually runs at 100 TB edge counts, verified
  // against the identical recursive-CTE oracle as dd6
  Q("dd6b_clusters_contraction", (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 100)
    Dedup.clusters(jaccardPairs(docs), driverCcMaxEdges = 0L)
      .select(col("id").as("doc_id"), col("cluster"))
  },
    // identical oracle to dd6 — the contraction path must produce the
    // exact same min-label components as the driver union-find
    dd6.oracle)

  // quality-aware survivor per duplicate cluster (same deterministic
  // pair source as dd6; longest doc wins, ties -> min id)
  Q("dd12_cluster_survivors", (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 100)
    Dedup.clustersKeepBest(jaccardPairs(docs), docs, "doc_id", "n_chars")
  },
    // dd6's components + per-cluster argmax on n_chars (ties -> min id)
    jaccardClusterCtes + """,
      |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
      |j AS (SELECT lab.cluster, lab.id, d.n_chars,
      |      row_number() OVER (PARTITION BY lab.cluster
      |                         ORDER BY d.n_chars DESC, lab.id ASC) AS rn
      |      FROM lab JOIN documents d ON d.doc_id = lab.id)
      |SELECT cluster, id AS survivor, n_chars AS score FROM j WHERE rn = 1""".stripMargin)

  /** Deterministic person-name fixture for link1/link2: 8 first
    * names cycled per 3-record family group, with per-record typo
    * variants (truncated / extra letter) so fuzzy matching has real
    * work and the family suffix blocks candidates. */
  private def namedFixture(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id",
      """CASE (doc_id DIV 3) % 8
           WHEN 0 THEN 'john' WHEN 1 THEN 'jane' WHEN 2 THEN 'alice'
           WHEN 3 THEN 'robert' WHEN 4 THEN 'maria' WHEN 5 THEN 'david'
           WHEN 6 THEN 'susan' ELSE 'peter' END AS fn""",
      "doc_id % 3 AS r", "doc_id DIV 3 AS g")
      .selectExpr("doc_id",
        """concat(CASE r WHEN 1 THEN substring(fn, 1, length(fn) - 1)
                         WHEN 2 THEN concat(fn, 'e') ELSE fn END,
                  ' fam', CAST(g AS STRING)) AS name""")

  /** mem2/mem3 planted-generation fixture over the corpus docs
    * 100-199: gens 0-49 are near-verbatim copies with every 20th word
    * edited (1-edit-per-20-words paraphrase), gens 50-99 are novel
    * text over the same vocabulary (token order reversed). Shared
    * verbatim with both oracles' `gensrc` CTE. */
  private def mem2GenFixture(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") - 100).as("gen_id"),
        when(col("doc_id") < 150,
          array_join(transform(toks,
            (w, i) => when((i + 1) % 20 === 0, lit("zqz")).otherwise(w)),
            " "))
          .otherwise(array_join(reverse(toks), " "))
          .as("text"))
  }

  /** KLL contract arm (qsk1/qsk2/st26): the returned element occupies
    * ranks [lo+1, hi]; the estimate is in bound iff the target rank
    * ceil(q*n) sits within eps*n of that interval. eps = 0.05 is 5x
    * the k=200 sketch's expected rank error. */
  private def kllRankBound(lo: Column, hi: Column, q: Double,
      n: Column): Column = {
    val target = ceil(lit(q) * n)
    target >= lo + 1 - lit(0.05) * n && target <= hi + lit(0.05) * n
  }

  /** Word tokens per doc, `tok(doc_id, l)` — lowercased, whitespace-split. */
  private def wordTokCte: String =
    """WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
      |             FROM documents),
      |""".stripMargin

  /** [[wordTokCte]] plus the raw-case ruler `lr` the excision queries
    * measure character offsets on. */
  private def rulerTokCte: String =
    """WITH tok AS (SELECT doc_id,
      |                    string_split_regex(lower(trim(text)), '\s+') AS l,
      |                    string_split_regex(trim(text), '\s+') AS lr
      |             FROM documents),
      |""".stripMargin

  /** Positional word 3-grams `g(doc_id, pos, gram)` over `tok` (struct
    * comprehension keeps pos; a doc of <= 3 words is one gram). */
  private def posTrigramCte: String =
    """g AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(l) <= 3 THEN [{'pos': 0, 'gram': array_to_string(l, ' ')}]
      |         ELSE [{'pos': i - 1, 'gram': array_to_string(l[i:i+2], ' ')}
      |               for i in range(1, len(l) - 1)] END,
      |    recursive := true)
      |  FROM tok),
      |""".stripMargin

  /** dd10's split: eval docs <= 250, train docs above; `isl` numbers
    * each train doc's runs of consecutive matching positions
    * (gaps-and-islands: a run shares pos - row_number). */
  private def evalIslandCtes: String =
    """ev AS (SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id <= 250),
      |tr AS (SELECT doc_id AS train_id, pos, gram FROM g WHERE doc_id > 250),
      |m AS (SELECT train_id, eval_id, pos FROM tr JOIN ev USING (gram)),
      |isl AS (SELECT train_id, eval_id, pos,
      |        pos - row_number() OVER (PARTITION BY train_id, eval_id ORDER BY pos) AS grp
      |        FROM m)""".stripMargin

  /** The dd13 substring-stitch, shared by dd13/dd18/dd23: merge the
    * token-space spans `sp(train_id, s, e)` per doc (touching
    * intervals collapse), map them to char regions on the raw-case
    * ruler — an interior region consumes its trailing separator, a
    * doc-final one its leading separator — and stitch the complement
    * segments back together, with removed-chars / span-count audit
    * columns. */
  private def stitchedExcisionSql: String =
    """tisl AS (SELECT train_id, s, e,
      |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY train_id ORDER BY s, e
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |              THEN 1 ELSE 0 END AS brk
      |         FROM sp),
      |tm AS (SELECT train_id, min(s) AS s, max(e) AS e
      |       FROM (SELECT *, sum(brk) OVER (PARTITION BY train_id ORDER BY s, e) AS grp
      |             FROM tisl)
      |       GROUP BY train_id, grp),
      |reg AS (SELECT tm.train_id,
      |        CASE WHEN tm.e >= len(t.l) AND tm.s > 0
      |             THEN len(array_to_string(t.lr[1:CAST(tm.s AS INT)], ' '))
      |             WHEN tm.s = 0 THEN 0
      |             ELSE len(array_to_string(t.lr[1:CAST(tm.s AS INT)], ' ')) + 1 END AS a,
      |        CASE WHEN tm.e >= len(t.l) THEN len(array_to_string(t.lr, ' '))
      |             ELSE len(array_to_string(t.lr[1:CAST(tm.e AS INT)], ' ')) + 1 END AS b
      |        FROM tm JOIN tok t ON t.doc_id = tm.train_id),
      |seg AS (
      |  SELECT train_id,
      |         coalesce(lag(b) OVER (PARTITION BY train_id ORDER BY a), 0) AS p,
      |         a AS q
      |  FROM reg
      |  UNION ALL
      |  SELECT train_id, max(b) AS p, NULL AS q FROM reg GROUP BY train_id),
      |stitched AS (
      |  SELECT s.train_id,
      |         string_agg(substr(array_to_string(t.lr, ' '), CAST(s.p AS INT) + 1,
      |           CAST(coalesce(s.q, len(array_to_string(t.lr, ' '))) - s.p AS INT)),
      |           '' ORDER BY s.p) AS cleaned,
      |         count(*) - 1 AS n_spans
      |  FROM seg s JOIN tok t ON t.doc_id = s.train_id
      |  GROUP BY s.train_id)
      |SELECT t.doc_id,
      |       coalesce(st.cleaned, array_to_string(t.lr, ' ')) AS clean_text,
      |       CAST(len(array_to_string(t.lr, ' ')) -
      |            len(coalesce(st.cleaned, array_to_string(t.lr, ' '))) AS BIGINT)
      |         AS removed_chars,
      |       CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans
      |FROM tok t LEFT JOIN stitched st ON st.train_id = t.doc_id""".stripMargin

  /** Planted boilerplate for dd23: long enough (19 words, ~120
    * normalized chars) that its interior 8-gram anchors chain into
    * one span comfortably past the 60-char excision floor. */
  private val bpBoiler: String =
    "this dataset is distributed under the standard open license " +
      "terms and conditions described in the accompanying corpus " +
      "governance file"

  /** dd3 oracle: exact replay of [[graft.functions.TextExpressions.tokenHash64]]
    * (rolling-31 fold, then Murmur3 fmix64 as xor/shift plus split
    * 32-bit multiplies — all mod-2^64 HUGEINT arithmetic), the
    * per-bit simhash majority vote over token INSTANCES, and a
    * brute-force hamming join at <= 3. Equivalent to
    * `Dedup.simhashPairs` whenever no signature bucket exceeds
    * `maxBucketSize` (pigeonhole recall is exact at hamming <= 3),
    * which holds on the sf fixtures by orders of magnitude. */
  private def dd3Oracle: String = {
    val c1 = 0xff51afd7ed558ccdL
    val c2 = 0xc4ceb9fe1a85ec53L
    def hi(x: Long): Long = (x >>> 32) & 0xffffffffL
    def lo(x: Long): Long = x & 0xffffffffL
    val m64 = "18446744073709551616"
    val m32 = "4294967296"
    raw"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
       |  FROM documents),
       |rh AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS HUGEINT), ${byteFoldList("w")}),
       |      (h, b) -> (h * 31 + b) % $m64) AS h0
       |  FROM tok),
       |f1 AS (SELECT doc_id, xor(h0, h0 >> 33) AS h FROM rh),
       |m1 AS (SELECT doc_id,
       |         (h * ${lo(c1)} + ((h * ${hi(c1)}) % $m32) * $m32) % $m64 AS h
       |       FROM f1),
       |f2 AS (SELECT doc_id, xor(h, h >> 33) AS h FROM m1),
       |m2 AS (SELECT doc_id,
       |         (h * ${lo(c2)} + ((h * ${hi(c2)}) % $m32) * $m32) % $m64 AS h
       |       FROM f2),
       |hv AS (SELECT doc_id, xor(h, h >> 33) AS h FROM m2),
       |votes AS (
       |  SELECT doc_id, t.r AS bit,
       |         sum(CASE WHEN (h >> t.r) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hv CROSS JOIN range(64) t(r)
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << bit
       |                  ELSE CAST(0 AS HUGEINT) END) AS sig
       |  FROM votes GROUP BY 1)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
  }

  /** The MMR greedy chain replayed in SQL — shared by mmr1 (brute
    * candidates) and mmr2 (full-probe IVF candidates, bit-identical
    * pool): same lambda-0.5 marginal score, the k=5 selection rounds
    * unrolled as CTE levels, ties score-desc / id-asc like the
    * engine's windows. */
  private def mmrGreedyOracle: String = {
      val step = (i: Int) =>
        s"""pick$i AS (
           |  SELECT query_id, neighbor_id AS nid FROM (
           |    SELECT c.query_id, c.neighbor_id,
           |           row_number() OVER (PARTITION BY c.query_id
           |             ORDER BY (0.5 * c.rel - (1.0 - 0.5) * m.ms) DESC,
           |                      c.neighbor_id ASC) AS rn
           |    FROM cand c
           |    JOIN (SELECT p.query_id, p.i, max(p.s) AS ms
           |          FROM pair p JOIN acc${i - 1} s
           |            ON p.query_id = s.query_id AND p.j = s.nid
           |          GROUP BY p.query_id, p.i) m
           |      ON m.query_id = c.query_id AND m.i = c.neighbor_id
           |    WHERE NOT EXISTS (SELECT 1 FROM acc${i - 1} s2
           |                      WHERE s2.query_id = c.query_id
           |                        AND s2.nid = c.neighbor_id))
           |  WHERE rn = 1),
           |acc$i AS (SELECT * FROM acc${i - 1}
           |          UNION ALL SELECT query_id, nid, $i FROM pick$i),""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         sqrt(list_sum(list_transform(range(1, 65),
         |           i -> embedding[i] * embedding[i]))) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         list_sum(list_transform(range(1, 65),
         |           i -> q.embedding[i] * c.embedding[i])) / (q.nrm * c.nrm) AS rel
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
         |  WHERE q.nrm > 0 AND c.nrm > 0),
         |cand AS (
         |  SELECT query_id, neighbor_id, rel FROM (
         |    SELECT query_id, neighbor_id, rel,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY rel DESC, neighbor_id ASC) AS rnk
         |    FROM scored)
         |  WHERE rnk <= 25),
         |pair AS (
         |  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
         |         list_sum(list_transform(range(1, 65),
         |           x -> va.embedding[x] * vb.embedding[x])) / (va.nrm * vb.nrm) AS s
         |  FROM cand a
         |  JOIN cand b ON a.query_id = b.query_id
         |             AND a.neighbor_id <> b.neighbor_id
         |  JOIN e va ON va.vec_id = a.neighbor_id
         |  JOIN e vb ON vb.vec_id = b.neighbor_id),
         |sel1 AS (
         |  SELECT query_id, neighbor_id AS nid FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY rel DESC, neighbor_id ASC) AS rn
         |    FROM cand)
         |  WHERE rn = 1),
         |acc1 AS (SELECT query_id, nid, 1 AS mmr_rank FROM sel1),
         |${(2 to 5).map(step).mkString("\n")}
         |fin AS (SELECT 1)
         |SELECT query_id, nid AS neighbor_id, mmr_rank FROM acc5""".stripMargin
      }

  /** man1/st27 shared oracle: manifest digests replayed with the dq7
    * md5-xor convention — st27's streamed fold must reproduce the
    * one-shot manifest exactly. */
  private def manifestOracle: String =
    """WITH rows AS (
        |  SELECT doc_id % 16 AS shard_id, doc_id,
        |         length(text) AS nc,
        |         len(list_filter(string_split_regex(trim(text), '\s+'),
        |             t -> len(t) > 0)) AS nt,
        |         CAST(concat('0x', substr(md5(concat_ws(chr(31),
        |           coalesce(CAST(doc_id AS VARCHAR), chr(1)),
        |           coalesce(text, chr(1)))), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT shard_id, count(*) AS n_docs,
        |       CAST(sum(nc) AS BIGINT) AS n_chars,
        |       CAST(sum(nt) AS BIGINT) AS n_tokens,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       bit_xor(h) AS digest
        |FROM rows GROUP BY shard_id""".stripMargin

  /** [[namedFixture]] as oracle SQL: `n` derives the first name, typo
    * variant and family group per doc, `nm(doc_id, name)` applies them. */
  private def namedFixtureCtes: String =
    """n AS (
      |  SELECT doc_id,
      |         CASE (doc_id // 3) % 8
      |           WHEN 0 THEN 'john' WHEN 1 THEN 'jane' WHEN 2 THEN 'alice'
      |           WHEN 3 THEN 'robert' WHEN 4 THEN 'maria' WHEN 5 THEN 'david'
      |           WHEN 6 THEN 'susan' ELSE 'peter' END AS fn,
      |         doc_id % 3 AS r, doc_id // 3 AS g
      |  FROM documents),
      |nm AS (
      |  SELECT doc_id,
      |         (CASE r WHEN 1 THEN substr(fn, 1, length(fn) - 1)
      |                 WHEN 2 THEN fn || 'e' ELSE fn END)
      |           || ' fam' || CAST(g AS VARCHAR) AS name
      |  FROM n),""".stripMargin

  /** [[mem2GenFixture]] as oracle SQL: `gensrc(gen_id, text)` and its
    * word tokens `gtok(gen_id, l)`. */
  private def plantedGenerationCtes: String =
    """WITH gensrc AS (
      |  SELECT doc_id - 100 AS gen_id,
      |    CASE WHEN doc_id < 150 THEN
      |      array_to_string([CASE WHEN i % 20 = 0 THEN 'zqz' ELSE l[i] END
      |                       for i in range(1, len(l) + 1)], ' ')
      |    ELSE array_to_string(list_reverse(l), ' ') END AS text
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |        FROM documents WHERE doc_id >= 100 AND doc_id < 200)),
      |gtok AS (SELECT gen_id, string_split_regex(lower(trim(text)), '\s+') AS l
      |         FROM gensrc),
      |gg AS (SELECT gen_id,""".stripMargin

  /** mem2/mem3's corpus side: winnowed word 5-gram fingerprints
    * `cfp(gram)` of the training docs (doc_id >= 100). */
  private def corpusFingerprintCtes: String =
    """ctok AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS l
      |         FROM documents WHERE doc_id >= 100),
      |cg AS (SELECT CASE WHEN len(l) <= 5 THEN [array_to_string(l, ' ')]
      |              ELSE [array_to_string(l[i:i+4], ' ')
      |                    for i in range(1, len(l) - 3)] END AS gl
      |       FROM ctok),
      |csel AS (SELECT CASE WHEN len(gl) <= 4 THEN [list_sort(gl)[1]]
      |                ELSE [list_sort(gl[i+1:i+4])[1]
      |                      for i in range(0, len(gl) - 3)] END AS s
      |         FROM cg),
      |cfp AS (SELECT DISTINCT g AS gram FROM (SELECT unnest(s) AS g FROM csel)),""".stripMargin

  /** ovl1/ovl2's report over per-source gram sets `g(src, gram)`:
    * per-source totals, the pairwise shared count, and the select list
    * up to the containment column (each caller closes the list). */
  private def overlapReportHead: String =
    """tot AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
      |sh AS (SELECT a.src AS source_a, b.src AS source_b,
      |         CAST(count(*) AS BIGINT) AS shared_grams
      |       FROM g a JOIN g b USING (gram)
      |       WHERE a.src < b.src
      |       GROUP BY 1, 2)
      |SELECT ta.src AS source_a, tb.src AS source_b,
      |       COALESCE(sh.shared_grams, 0) AS shared_grams,
      |       ta.n AS grams_a, tb.n AS grams_b,
      |       round(COALESCE(sh.shared_grams, 0) * 1.0 /
      |             (ta.n + tb.n - COALESCE(sh.shared_grams, 0)), 6)
      |         AS jaccard,
      |       round(COALESCE(sh.shared_grams, 0) * 1.0 / least(ta.n, tb.n), 6)
      |         AS containment,""".stripMargin

  /** Each doc's distinct word 3-grams, `g(doc_id, gram)` (a doc of <= 3
    * words is one whole-text gram, never zero). */
  private def distinctTrigramCte: String =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(l) <= 3 THEN [array_to_string(l, ' ')]
      |         ELSE [array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)] END
      |  )) AS gram
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
      |        FROM documents)),""".stripMargin
}
