package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

import Fixtures._
import OracleCtes._

/** Queries: beyond-parity: privacy / quality / scoring / packing. */
object QualityQ extends Family {

  // salted-hash pseudonymization: names become stable SHA-256
  // pseudonyms that still join/group; nulls stay null
  Q("pii2_pseudonymize", (s, dir) =>
    Privacy.pseudonymize(t(s, dir, "customer"),
        Seq("c_name"), salt = "graft-salt")
      .select("c_custkey", "c_name", "c_mktsegment"),
    """SELECT c_custkey,
      |       CASE WHEN c_name IS NOT NULL
      |            THEN sha256('graft-salt' || c_name) END AS c_name,
      |       c_mktsegment
      |FROM customer""".stripMargin)

  // stream-static enrichment: the event stream joins the customer
  // dim (broadcast) per micro-batch — stateless, so no watermark;
  // two input files force a real multi-batch run
  Q("st9_stream_enrich", (s, dir) => {
    val ev = events(s, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val base = tmpDir("graft_st9")
    val in = s"$base/in"
    val cut = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    ev.filter(col("ts") < cut).coalesce(1).write.mode("append").parquet(in)
    ev.filter(col("ts") >= cut).coalesce(1).write.mode("append").parquet(in)
    val schema = s.read.parquet(in).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val joined = stream.join(broadcast(dim), Seq("user_id"), "left")
    val q = graft.streaming.EventStream.writeFileStream(
      joined, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
  },
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |       e.event_type, e.value, c.c_mktsegment
      |FROM events e
      |LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin)

  // train-offline / assign-online: centroids fit in batch, then a
  // REAL two-micro-batch stream routes each vector by topic with a
  // stateless projection; must agree with the batch assignment
  // (same oracle as kmeans1)
  Q("st10_stream_cluster_assign", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val cents = Clustering.kmeansCentroids(e, "vec_id", "embedding",
      k = 8, maxIter = 2)
    val base = tmpDir("graft_st10")
    val stream = evenOddStream(s, e, "vec_id", base)
    val assigned = Clustering.assign(stream, "vec_id", "embedding", cents)
    val q = graft.streaming.EventStream.writeFileStream(
      assigned, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
  },
    // the stream must land exactly where the batch assignment does
    SimilarityQ.kmeans1.oracle)

  // train-offline / encode-online for the PQ index: codebooks fit
  // in batch, then a REAL two-micro-batch stream encodes each
  // vector with the stateless m×k argmin projection — the
  // ingestion-time form of sim9 (vectors get their 32× code
  // payload before landing); must equal the batch codes, so it
  // shares sim9's full-training-replay oracle. Micro-batch order
  // is irrelevant: the encode is stateless, no mtime pinning needed
  Q("st15_stream_pq_codes", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val base = tmpDir("graft_st15")
    val stream = evenOddStream(s, e, "vec_id", base)
    val codes = Similarity.pqEncode(stream, "vec_id", "embedding", books)
    val q = graft.streaming.EventStream.writeFileStream(
      codes, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
      .select(col("id").as("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
  },
    // streaming encode == batch codes (sim9's training replay)
    SimilarityQ.sim9.oracle)

  // r8: st4's attribution interval join run as a REAL stream-stream
  // join — two file streams (views, purchases), each delivered as
  // two time-split micro-batches, joined with watermark-bounded
  // state (2 h watermark over a 1 h window: state for a view is
  // safely retained until no in-window purchase can still arrive,
  // even across the batch-1/batch-2 time cut). Inner stream-stream
  // join with all data eventually arriving == the batch interval
  // join, so it shares st4's oracle
  Q("st19_stream_stream_join", (s, dir) => {
    val ev = events(s, dir).withColumn("ts", col("ts").cast("timestamp"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value"))
    val base = tmpDir("graft_st19")
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    withShufflePartitions(s, 8) {
      val vs = stagedMicroBatches(s, s"$base/v", Seq(
        views.filter(col("view_ts") < cut), views.filter(col("view_ts") >= cut)))
      val ps = stagedMicroBatches(s, s"$base/p", Seq(
        purchases.filter(col("p_ts") < cut), purchases.filter(col("p_ts") >= cut)))
      val joined = graft.streaming.EventStream.intervalJoin(
        vs, ps, Seq("user_id"), "view_ts", "p_ts", "1 hour",
        watermark = "2 hours")
      val q = graft.streaming.EventStream.writeFileStream(
        joined, s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(s"$base/out")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attributed"),
        round(sum("value"), 2).as("attributed_value"))
  },
    // real stream-stream runs of the batch interval join: with every
    // row delivered (and, for the outer form, every outer row flushed
    // by the sentinel watermark push) stream == batch
    StreamingQ.st4.oracle)

  // r8: the LEFT OUTER stream-stream join e2e (st5's "which views
  // never converted") — an outer row may only emit once the
  // watermark PROVES no in-window purchase can still arrive, so
  // after the two real batches each side gets two far-future
  // sentinel micro-batches (user_id -1, filtered out below): the
  // first pushes both watermarks past every real view's match
  // deadline, and the rows evict/emit during the batch that
  // processes the second (the watermark moves at batch boundaries
  // — the StreamingSpec two-round dance, made deterministic here).
  // With every real row flushed, stream == batch: st5's oracle
  Q("st20_stream_outer_join", (s, dir) => {
    val ev = events(s, dir).withColumn("ts", col("ts").cast("timestamp"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value"))
    def sentV(ts: String) = s.range(1).select(lit(-1L).as("user_id"),
      lit(ts).cast("timestamp").as("view_ts"))
    def sentP(ts: String) = s.range(1).select(lit(-1L).as("user_id"),
      lit(ts).cast("timestamp").as("p_ts"), lit(0.0).as("value"))
    val base = tmpDir("graft_st20")
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    withShufflePartitions(s, 8) {
      val vs = stagedMicroBatches(s, s"$base/v", Seq(
        views.filter(col("view_ts") < cut), views.filter(col("view_ts") >= cut),
        sentV("2024-03-01 00:00:00"), sentV("2024-03-10 00:00:00")))
      val ps = stagedMicroBatches(s, s"$base/p", Seq(
        purchases.filter(col("p_ts") < cut), purchases.filter(col("p_ts") >= cut),
        sentP("2024-03-01 00:00:00"), sentP("2024-03-10 00:00:00")))
      val joined = graft.streaming.EventStream.intervalJoin(
        vs, ps, Seq("user_id"), "view_ts", "p_ts", "1 hour",
        watermark = "2 hours", joinType = "left_outer")
      val q = graft.streaming.EventStream.writeFileStream(
        joined, s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(s"$base/out")
      .filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("p_ts").isNull, 1)).as("n_unattributed"))
  }, StreamingQ.st5.oracle)

  // r8: codebook drift guard for st15's train-offline/encode-online
  // split — per-micro-batch mean PQ reconstruction residual vs the
  // training-time baseline; residuals are integer-quantized so the
  // per-batch sums are exact/order-free/mergeable and the oracle
  // replays the whole statistic. The fixture's two parity batches
  // share the training distribution, so both flags stay down;
  // StreamingSpec plants a drifted batch and watches the flag flip
  Q("st16_stream_pq_drift", (s, dir) => {
    val e = t(s, dir, "embeddings")
    val books = trainedPq(s, dir)
    val (baseSq, baseN) = Similarity.pqResidualBaseline(e, "embedding", books)
    val base = tmpDir("graft_st16")
    val stream = evenOddStream(s, e, "vec_id", base)
    val q = graft.streaming.EventStream.pqDriftMonitor(stream, "embedding",
      books, col("vec_id") % 2, baseSq, baseN, tolerance = 1.5,
      s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    // drop the batch-id partition column: it keys the idempotent
    // retry overwrite, not the released statistic
    s.read.parquet(s"$base/out")
      .select("batch_key", "n_vectors", "mean_resid_sq", "retrain_flag")
  },
    // drift monitor replay: same codebook/assignment replay as sim9,
    // then the exact ADC own-code residual doubles, quantized to
    // BIGINTs (order-free sums), grouped by the parity batch key
    st16Oracle)

  // r8: ε-DP released corpus-composition counts — seeded portable
  // geometric noise walked down driver-precomputed CDF literals
  // (no libm in either engine's plan; the oracle replays hash,
  // literals, and walk). Only the noisy counts leave the mechanism
  Q("priv1_dp_counts", (s, dir) =>
    // the PUBLIC group domain (a language-code registry) includes
    // a code absent from the corpus: its row releases noise-only
    // (clamped), so the row SET reveals nothing about presence
    Privacy.dpCounts(t(s, dir, "documents"), "lang",
      epsilon = 0.5, seed = 42L, noiseBound = 64,
      domain = Some(Seq("de", "en", "es", "fr", "ja", "zh"))),
    priv1Oracle)

  // user-level DP sums: per-customer spend clipped to $4M, rounded
  // to 16 levels, per-nation step sums + geometric noise at
  // sensitivity 16 (eps/16 per step). Nation dim = public domain
  Q("priv2_dp_sums", (s, dir) =>
    Privacy.dpSum(privSpendFrame(s, dir), "cust", "n_name",
      col("cents"), clipCents = 400000000L, steps = 16,
      epsilon = 0.5, seed = 42L, noiseBound = 512,
      domain = Some(t(s, dir, "nation").select(col("n_name")))),
    priv2Oracle)

  // composable DP mean: (noisy unit count, noisy sum, quotient);
  // total budget eps_sum + eps_cnt = 1.0 by sequential composition
  Q("priv3_dp_mean", (s, dir) =>
    Privacy.dpMean(privSpendFrame(s, dir), "cust", "n_name",
      col("cents"), clipCents = 400000000L, steps = 16,
      epsSum = 0.5, epsCnt = 0.5, seed = 42L, noiseBound = 512,
      cntBound = 64,
      domain = Some(t(s, dir, "nation").select(col("n_name")))),
    priv3Oracle)

  Q("pii1_redact", (s, dir) => {
    // the corpus itself is synthetic word salad, so deterministic
    // PII is injected per row — the oracle builds the identical
    // string, making the regex semantics the thing under test
    val aug = t(s, dir, "documents").withColumn("text",
      concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"),
        lit("@example.com ip 10.0."),
        (col("doc_id") % 200).cast("string"),
        lit(".7 ssn 123-45-6789 call 555-867-5309")))
    Privacy.scrub(aug, "text")
      .select("doc_id", "pii_email", "pii_ip", "pii_ssn", "pii_card",
        "pii_phone", "pii_total", "text_redacted")
  }, piiOracle)

  Q("qf1_quality_gate", (s, dir) =>
    QualityFilters.gate(t(s, dir, "documents"), "text")
      .select("doc_id", "n_words", "mean_word_len", "max_word_len",
        "symbol_ratio", "stopword_hits", "keep"),
    qualityGateOracle)

  // trained NB log-odds quality classifier: train on 2/3 of the
  // corpus (label = lang=='en'), score the held-out 1/3. Unseen
  // terms ride on the token count (decomposed smoothing), so the
  // model join touches seen terms only
  Q("qf6_nb_classifier", (s, dir) => {
    val docs = t(s, dir, "documents")
    val train = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("is_en", col("lang") === "en")
    val held = docs.filter(col("doc_id") % 3 === 0)
    Scoring.nbLogOdds(train, held, "doc_id", "text", "is_en")
  },
    """WITH train AS (
      |  SELECT doc_id, text, lang = 'en' AS is_en
      |  FROM documents WHERE doc_id % 3 <> 0),
      |held AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |ttoks AS (
      |  SELECT is_en, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM train),
      |model AS (
      |  SELECT term,
      |         sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS np,
      |         sum(CASE WHEN NOT is_en THEN 1 ELSE 0 END) AS nn
      |  FROM ttoks WHERE term <> '' GROUP BY term),
      |tot AS (SELECT sum(np) AS p_tot, sum(nn) AS n_tot, count(*) AS v FROM model),
      |pri AS (SELECT sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS dp,
      |               sum(CASE WHEN NOT is_en THEN 1 ELSE 0 END) AS dn
      |        FROM train),
      |stoks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM held),
      |stc AS (SELECT doc_id, term, count(*) AS tf FROM stoks
      |        WHERE term <> '' GROUP BY 1, 2),
      |dt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens FROM stc GROUP BY 1),
      |seen AS (
      |  SELECT s.doc_id, sum(s.tf * (ln(m.np + 1) - ln(m.nn + 1))) AS ss
      |  FROM stc s JOIN model m USING (term) GROUP BY 1)
      |SELECT dt.doc_id, dt.n_tokens,
      |       round(ln(dp * 1.0 / dn)
      |             + dt.n_tokens * (ln(n_tot + v) - ln(p_tot + v))
      |             + coalesce(ss, 0), 4) AS log_odds,
      |       round(ln(dp * 1.0 / dn)
      |             + dt.n_tokens * (ln(n_tot + v) - ln(p_tot + v))
      |             + coalesce(ss, 0), 4) > 0 AS predicted
      |FROM dt LEFT JOIN seen USING (doc_id), tot, pri""".stripMargin)

  // blocklist scan: ONE Aho-Corasick pass matches every pattern
  // simultaneously (O(text+matches), not O(patterns*text));
  // counting is per-pattern leftmost non-overlapping so the oracle
  // replays it with the replace-length trick. Patterns include a
  // substring pair ("merge" vs "merge data") and a self-overlapping
  // bigram ("batch batch") to pin the semantics.
  Q("qf5_blocklist", (s, dir) => {
    val pats = Seq("merge", "merge data", "batch batch", "slow", "vector")
    QualityFilters.blocklist(t(s, dir, "documents"), "doc_id", "text", pats)
      .select(col("doc_id"), col("n_matches"),
        array_join(col("matched"), ",").as("matched"), col("keep"))
  },
    """WITH kw(k) AS (
      |  SELECT unnest(['merge', 'merge data', 'batch batch', 'slow', 'vector'])),
      |hits AS (
      |  SELECT d.doc_id, kw.k,
      |         CAST((length(d.text) - length(replace(d.text, kw.k, '')))
      |              / length(kw.k) AS BIGINT) AS n
      |  FROM documents d CROSS JOIN kw)
      |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_matches,
      |       coalesce(string_agg(CASE WHEN n > 0 THEN k END, ',' ORDER BY k),
      |                '') AS matched,
      |       sum(n) = 0 AS keep
      |FROM hits GROUP BY 1""".stripMargin)

  // curation-funnel observability: per-source counts through
  // gate -> exact dedup -> decontamination. Train side carries 50
  // PLANTED duplicates (copied ids +10000) so the dedup stage has
  // real work; decon drops docs sharing >= 20 eval 3-grams (the
  // dd8 exact-overlap machinery). Every stage is deterministic, so
  // the whole funnel is one MATCH row per source.
  Q("pipe2_curation_funnel", (s, dir) => {
    val docs = t(s, dir, "documents")
    val evalDocs = docs.filter(col("doc_id") <= 250)
    val planted = docs.filter(col("doc_id") > 250 && col("doc_id") <= 300)
      .withColumn("doc_id", col("doc_id") + 10000)
    val train = docs.filter(col("doc_id") > 250).unionByName(planted)
      .select("doc_id", "source", "text")
    val gated = QualityFilters.gate(train, "text")
      .filter(col("keep")).select("doc_id", "source", "text")
    val deduped = Dedup.exactSurvivors(gated, "doc_id", Seq("text"))
    val contaminated = Decontaminate.bloomContaminatedDocs(
      deduped, evalDocs, "doc_id", "text", gramSize = 3,
      expectedEvalGrams = 1 << 16)
      .filter(col("n_shared_grams") >= 20)
      .select("doc_id")
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    def cnt(df: DataFrame, name: String) =
      df.groupBy("source").agg(count(lit(1)).as(name))
    cnt(train, "n_input")
      .join(cnt(gated, "n_gated"), Seq("source"), "left")
      .join(cnt(deduped, "n_deduped"), Seq("source"), "left")
      .join(cnt(clean, "n_clean"), Seq("source"), "left")
      .select(col("source"), col("n_input"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_deduped"), lit(0L)).as("n_deduped"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"))
  }, pipe2Oracle)

  // URL fixture shared by url1/qf3: two deterministic URLs per doc
  // (one mixed-case host, one with a port + query) appended to the
  // text — the extraction and the gate must find and normalize both
  Q("url1_extract", (s, dir) =>
    QualityFilters.extractUrls(urlFixture(t(s, dir, "documents")),
      "doc_id", "text"),
    """WITH fx AS (
      |  SELECT doc_id,
      |         text || ' http://d' || (doc_id % 7)::VARCHAR ||
      |         '.example/p/' || doc_id::VARCHAR ||
      |         ' https://CDN-d' || (doc_id % 4)::VARCHAR ||
      |         '.Example:8443/x?q=' || doc_id::VARCHAR AS text
      |  FROM documents)
      |SELECT doc_id, regexp_replace(u, '[.,;:!?)\]''"]+$', '') AS url,
      |       lower(regexp_extract(regexp_replace(u, '[.,;:!?)\]''"]+$', ''),
      |                            '^https?://([^/:?#\s]+)', 1)) AS domain
      |FROM fx, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS t(u)""".stripMargin)

  Q("qf3_domain_gate", (s, dir) => {
    import s.implicits._
    val blocked = Seq("d2.example", "d5.example", "cdn-d1.example")
      .toDF("domain")
    QualityFilters.domainGate(urlFixture(t(s, dir, "documents")),
      "doc_id", "text", blocked)
  },
    """WITH fx AS (
      |  SELECT doc_id,
      |         text || ' http://d' || (doc_id % 7)::VARCHAR ||
      |         '.example/p/' || doc_id::VARCHAR ||
      |         ' https://CDN-d' || (doc_id % 4)::VARCHAR ||
      |         '.Example:8443/x?q=' || doc_id::VARCHAR AS text
      |  FROM documents),
      |urls AS (
      |  SELECT doc_id,
      |         lower(regexp_extract(regexp_replace(u, '[.,;:!?)\]''"]+$', ''),
      |                              '^https?://([^/:?#\s]+)', 1)) AS domain
      |  FROM fx, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS t(u)),
      |blocked AS (
      |  SELECT DISTINCT doc_id FROM urls
      |  WHERE domain IN ('d2.example', 'd5.example', 'cdn-d1.example'))
      |SELECT f.doc_id, f.text FROM fx f
      |WHERE f.doc_id NOT IN (SELECT doc_id FROM blocked)""".stripMargin)

  Q("rep1_repetition", (s, dir) =>
    QualityFilters.repetitionSignals(t(s, dir, "documents"),
        "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "top_gram", "top_gram_frac",
        "distinct_word_frac"),
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
      |         unnest(list_transform(generate_series(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i + 1])) AS gram
      |  FROM toks WHERE len(w) >= 2),
      |c AS (
      |  SELECT doc_id, n_words, n_distinct_words, gram, count(*) AS c
      |  FROM g GROUP BY doc_id, n_words, n_distinct_words, gram),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |           ORDER BY c DESC, gram ASC) AS rn
      |  FROM c)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      |       min(gram) FILTER (WHERE rn = 1) AS top_gram,
      |       round(max(c) * 1.0 / greatest(CAST(sum(c) AS BIGINT), 1), 4) AS top_gram_frac,
      |       round(any_value(n_distinct_words) * 1.0 / greatest(any_value(n_words), 1), 4)
      |         AS distinct_word_frac
      |FROM ranked GROUP BY doc_id""".stripMargin)

  Q("tf1_top_terms", (s, dir) =>
    Scoring.topTerms(t(s, dir, "documents"), "doc_id", "text", 3),
    termCountCtes + """
      |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |         tf * ln((SELECT count(*) FROM documents) * 1.0 / df) AS tfidf
      |  FROM tc JOIN dfq USING (term)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |           ORDER BY tfidf DESC, term ASC) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf,
      |       CAST(df AS BIGINT) AS df, round(tfidf, 4) AS tfidf
      |FROM ranked WHERE rank <= 3""".stripMargin)

  // inverted index: exact df/total_tf per token, postings CAPPED at
  // 20 doc ids inside the same token partitioning the aggregate
  // uses — no agg buffer ever exceeds the cap
  Q("ir1_inverted_index", (s, dir) =>
    Retrieval.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
      maxPostings = 20),
    """WITH tok AS (
      |  SELECT doc_id AS doc, t.token
      |  FROM documents, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> length(x) > 0)) AS t(token)),
      |td AS (SELECT token, doc, count(*) AS tf FROM tok GROUP BY 1, 2)
      |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
      |       array_to_string(list_sort(list(doc))[1:20], ',') AS postings
      |FROM td GROUP BY token""".stripMargin)

  // BM25 against a 3-term topic probe; doc lengths one aggregate,
  // term stats broadcast, the tail never enters the df aggregation
  Q("ir2_bm25", (s, dir) =>
    Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
      terms = Seq("join", "vector", "spark")),
    """WITH tok AS (
      |  SELECT doc_id AS doc, t.token
      |  FROM documents, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> length(x) > 0)) AS t(token)),
      |dl AS (SELECT doc, count(*) AS dl FROM tok GROUP BY doc),
      |stats AS (SELECT count(*) AS n_docs,
      |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |q AS (SELECT * FROM tok WHERE token IN ('join', 'vector', 'spark')),
      |dfT AS (SELECT token, count(DISTINCT doc) AS df FROM q GROUP BY token),
      |tf AS (SELECT doc, token, count(*) AS tf FROM q GROUP BY 1, 2)
      |SELECT tf.doc,
      |       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
      |         * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
      |         AS bm25,
      |       count(*) AS n_terms
      |FROM tf JOIN dfT USING (token) JOIN dl USING (doc) CROSS JOIN stats
      |GROUP BY tf.doc""".stripMargin)

  // exact phrase query "stream table hash": the positional-index
  // lookup collapsed to a row-local codegen conjunction — no
  // explode, no join, the filter rides the scan
  Q("ir3_phrase_match", (s, dir) =>
    Retrieval.phraseMatch(t(s, dir, "documents"), "doc_id", "text",
      Seq("stream", "table", "hash")),
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                             x -> length(x) > 0) AS l
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         CASE WHEN len(l) >= 3 THEN
      |           list_filter(range(1, len(l) - 1),
      |             i -> l[i] = 'stream' AND l[i+1] = 'table' AND l[i+2] = 'hash')
      |         ELSE [] END AS ps
      |  FROM tok)
      |SELECT doc_id AS doc, CAST(len(ps) AS BIGINT) AS n_matches,
      |       CAST(ps[1] AS BIGINT) AS first_pos
      |FROM m WHERE len(ps) > 0""".stripMargin)

  // windowed PMI collocations: pair generation row-local inside
  // codegen (no positions self-join), totals broadcast
  Q("pmi1_cooccurrence", (s, dir) =>
    Retrieval.pmiPairs(t(s, dir, "documents"), "text",
      window = 2, minCount = 5),
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                             x -> length(x) > 0) AS l
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest([{'p': i, 'tok': l[i]}
      |                         for i in range(1, len(l) + 1)],
      |                        recursive := true)
      |  FROM tok),
      |pr AS (
      |  SELECT x.tok AS a, y.tok AS b
      |  FROM pos x JOIN pos y
      |    ON x.doc_id = y.doc_id AND y.p > x.p AND y.p <= x.p + 2),
      |pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY 1, 2),
      |uni AS (SELECT tok, count(*) AS n_t FROM pos GROUP BY tok),
      |tot AS (SELECT (SELECT CAST(sum(n_ab) AS BIGINT) FROM pc) AS n_pairs,
      |               (SELECT CAST(sum(n_t) AS BIGINT) FROM uni) AS n_tok)
      |SELECT a, b, n_ab,
      |       round(ln((CAST(n_ab AS DOUBLE) * n_tok * n_tok)
      |         / (CAST(n_pairs AS DOUBLE) * ua.n_t * ub.n_t)), 4) AS pmi
      |FROM pc JOIN uni ua ON pc.a = ua.tok
      |        JOIN uni ub ON pc.b = ub.tok
      |        CROSS JOIN tot
      |WHERE n_ab >= 5""".stripMargin)

  Q("ta4_unigram_logprob", (s, dir) =>
    Scoring.unigramLogProb(t(s, dir, "documents"), "doc_id", "text"),
    termCountCtes + """
      |""".stripMargin + avgLogProbSql)

  // Kneser-Ney smoothed bigram scorer (the CCNet/KenLM smoothing):
  // absolute discount 0.75 + continuation-probability backoff, all
  // exact count ratios in a fixed double tree
  Q("ta9_kn_bigram_logprob", (s, dir) =>
    Scoring.knBigramLogProb(t(s, dir, "documents"), "doc_id", "text"),
    // same bigram CTEs as ta5, then the KN decomposition: history
    // totals + forward/backward continuation counts over MODEL rows
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i + 1])) AS bg
      |  FROM toks WHERE len(w) >= 2),
      |tc AS (
      |  SELECT doc_id, bg, count(*) AS tf FROM g
      |  WHERE bg <> '' GROUP BY doc_id, bg),
      |m0 AS (
      |  SELECT bg, sum(tf) AS c12,
      |         split_part(bg, ' ', 1) AS w1,
      |         split_part(bg, ' ', 2) AS w2
      |  FROM tc GROUP BY bg),
      |hist AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_fwd
      |         FROM m0 GROUP BY w1),
      |cont AS (SELECT w2, count(*) AS n1p_bwd FROM m0 GROUP BY w2),
      |ty AS (SELECT count(*) AS n_types FROM m0),
      |model AS (
      |  SELECT bg,
      |         greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0)
      |           / CAST(c1 AS DOUBLE)
      |         + 0.75 * CAST(n1p_fwd AS DOUBLE) / CAST(c1 AS DOUBLE)
      |           * (CAST(n1p_bwd AS DOUBLE) / CAST(n_types AS DOUBLE)) AS p
      |  FROM m0 JOIN hist USING (w1) JOIN cont USING (w2), ty)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |       round(sum(tf * ln(p)) / sum(tf), 4) AS avg_logprob
      |FROM tc JOIN model USING (bg)
      |GROUP BY doc_id""".stripMargin)

  // CCNet perplexity bands: head/middle/tail at the 0.3/0.7 exact
  // score quantiles, cutoffs broadcast back as a 1-row frame
  Q("qf4_ppl_band", (s, dir) =>
    Scoring.perplexityBands(t(s, dir, "documents"), "doc_id", "text"),
    termCountCtes + """
      |model AS (SELECT term, sum(tf) AS mc FROM tc GROUP BY term),
      |tot AS (SELECT sum(mc) AS total FROM model),
      |scored AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |         round(sum(tf * ln(mc * 1.0 / total)) / sum(tf), 4) AS avg_logprob
      |  FROM tc JOIN model USING (term), tot
      |  GROUP BY doc_id),
      |cuts AS (SELECT round(quantile_cont(avg_logprob, 0.3), 4) AS lo,
      |                round(quantile_cont(avg_logprob, 0.7), 4) AS hi FROM scored)
      |SELECT doc_id, n_tokens, avg_logprob,
      |       CASE WHEN avg_logprob < lo THEN 'tail'
      |            WHEN avg_logprob >= hi THEN 'head'
      |            ELSE 'middle' END AS band
      |FROM scored, cuts""".stripMargin)

  Q("ta5_bigram_logprob", (s, dir) =>
    Scoring.ngramLogProb(t(s, dir, "documents"), "doc_id", "text", n = 2),
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i + 1])) AS term
      |  FROM toks WHERE len(w) >= 2),
      |tc AS (
      |  SELECT doc_id, term, count(*) AS tf FROM g
      |  WHERE term <> '' GROUP BY doc_id, term),
      |""".stripMargin + avgLogProbSql)

  Q("pack1_shards", (s, dir) =>
    Packing.assignShards(t(s, dir, "documents"), "doc_id", "text",
        budget = 2000, buckets = 32)
      .select("doc_id", "n_tokens", "cum", "shard"),
    (packOracleCtes("doc_id") +
      "\nSELECT doc_id, n_tokens, cum, shard FROM a"))

  // packed-file index map: where each doc lands (char offsets)
  // inside its shard's concatenated training file
  Q("pack4_concat_offsets", (s, dir) =>
    Packing.concatOffsets(
      Packing.assignShards(t(s, dir, "documents"), "doc_id", "text",
        budget = 2000, buckets = 32),
      "doc_id", "text"),
    // replay shard assignment, then the per-shard char layout:
    // start = sum of (len + sep) over earlier docs in the shard
    (packOracleCtes("doc_id, text") + """
      |SELECT shard, doc_id,
      |       CAST(sum(length(text) + 2) OVER (PARTITION BY shard ORDER BY doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         - length(text) - 2 AS BIGINT) AS start_char,
      |       CAST(sum(length(text) + 2) OVER (PARTITION BY shard ORDER BY doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         - 2 AS BIGINT) AS end_char
      |FROM a""".stripMargin))

  // the packed shard files themselves: docs joined in id order,
  // one budget-bounded row per shard
  Q("pack5_packed_shards", (s, dir) =>
    Packing.packShards(
      Packing.assignShards(t(s, dir, "documents"), "doc_id", "text",
        budget = 2000, buckets = 32),
      "doc_id", "text"),
    (packOracleCtes("doc_id, text") + """
      |SELECT shard, count(*) AS n_docs,
      |       string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS packed_text,
      |       CAST(length(string_agg(text, chr(10) || chr(10) ORDER BY doc_id))
      |         AS BIGINT) AS packed_len
      |FROM a GROUP BY shard""".stripMargin))

  // tokenizer-aware packing: same distributed prefix sum, budget
  // denominated in BPE-ish subword units instead of whitespace words
  Q("pack2_bpeish_shards", (s, dir) =>
    Packing.assignShards(t(s, dir, "documents"), "doc_id", "text",
        budget = 4000, buckets = 32,
        tokenCounter = TextAnalysis.bpeishTokenCount)
      .select("doc_id", "n_tokens", "cum", "shard"),
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
      |           AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         sum(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum,
      |       CAST(floor((cum - n_tokens) * 1.0 / 4000) AS BIGINT) AS shard
      |FROM c""".stripMargin)

  // context-window chunking: 32-token windows, 8-token overlap —
  // the row-local splitting stage between curation and packing
  Q("ch1_chunk_documents", (s, dir) =>
    Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
      maxTokens = 32, overlap = 8),
    // positional chunk enumeration mirrors the kernel: starts at
    // multiples of stride below max(len - overlap, 1)
    """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |             FROM documents),
      |c AS (SELECT doc_id, len(l) AS n, l,
      |      unnest(range(0, greatest(len(l) - 8, 1), 24)) AS start FROM tok)
      |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
      |       array_to_string(l[start + 1 : start + 32], ' ') AS chunk_text,
      |       CAST(least(start + 32, n) - start AS BIGINT) AS n_tokens
      |FROM c""".stripMargin)

  // sentence-boundary chunking (RAG granularity): chunks never
  // split a sentence; first-token rule on a per-doc window
  Q("ch3_sentence_chunks", (s, dir) =>
    Chunking.chunkBySentences(t(s, dir, "documents"), "doc_id", "text",
      maxTokens = 40),
    """WITH raw AS (
      |  SELECT doc_id,
      |         regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$') AS l
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, unnest([{'si': i, 'sent': trim(l[i])}
      |                         for i in range(1, len(l) + 1)],
      |                        recursive := true)
      |  FROM raw),
      |t AS (
      |  SELECT doc_id, si, sent,
      |         CAST(len(string_split_regex(trim(sent), '\s+')) AS BIGINT) AS n_tok
      |  FROM s),
      |c AS (
      |  SELECT doc_id, si, sent, n_tok,
      |         CAST(sum(n_tok) OVER (PARTITION BY doc_id ORDER BY si)
      |              AS BIGINT) AS cum
      |  FROM t)
      |SELECT doc_id, (cum - n_tok) // 40 AS chunk_idx,
      |       count(*) AS n_sentences, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |       string_agg(sent, ' ' ORDER BY si) AS chunk_text
      |FROM c GROUP BY doc_id, (cum - n_tok) // 40""".stripMargin)

  // corpus-trained subword tokenizer: frequency-ranked vocab (all
  // chars + top substrings), greedy longest-match in codegen; the
  // oracle re-learns the same vocab in SQL and replays the greedy
  // match per distinct word with a recursive CTE
  Q("tok1_subword_tokens", (s, dir) => {
    val vocab = trainedVocab(s, dir)
    t(s, dir, "documents").select(col("doc_id"),
      Tokenizer.subwordCount(vocab)(col("text")).cast("long")
        .as("n_tokens"))
  },
    // shared trainer + greedy-match replay for tok1/pack3/ch2: learns
    // the SAME frequency-ranked vocab in SQL (chars + top substrings,
    // score DESC / token ASC tie-break), then walks each distinct
    // word with a recursive CTE taking the longest vocab prefix per
    // step (single chars always advance) — exactly the codegen
    // matcher's contract
    (subwordCte + "\nSELECT doc_id, n_tokens FROM doctok"))

  // vocabulary coverage on a DRIFTED corpus: ' zq9x7 kafka'
  // appended to every doc — z/9/x/7 are outside the training
  // alphabet (OOV single-codepoint fallbacks), while the unseen
  // word 'kafka' is fully covered by in-vocab pieces; the oracle
  // re-learns the vocab and replays the greedy walk with an OOV
  // counter in the recursion
  val tok12 = Q("tok12_oov_rate", (s, dir) => {
    val vocab = trainedVocab(s, dir)
    val drifted = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" zq9x7 kafka")).as("text"))
    Tokenizer.oovStats(drifted, "doc_id", "text", vocab.toIndexedSeq)
  },
    // vocab re-learned from the ORIGINAL corpus, greedy walk replayed
    // over the DRIFTED words with an OOV counter: a step is OOV iff
    // not even the single character matches the vocab
    tok12OracleSql)

  // the tokenizer-drift monitor at INGESTION: tok12's row-local
  // coverage projection runs unchanged on a real two-micro-batch
  // stream (the per-doc OOV rates a production monitor aggregates
  // into its retrain flag) — stream == batch, tok12's oracle
  Q("st22_stream_oov_gate", (s, dir) => {
    val vocab = trainedVocab(s, dir)
    val drifted = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" zq9x7 kafka")).as("text"))
    val base = tmpDir("graft_st22")
    val stream = evenOddStream(s, drifted, "doc_id", base)
    val gated = Tokenizer.oovStats(stream, "doc_id", "text",
      vocab.toIndexedSeq)
    val q = graft.streaming.EventStream.writeFileStream(
      gated, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out")
  },
    // stream == batch for the stateless coverage gate
    tok12.oracle)

  // the TRAINING step itself as a table: the learned vocabulary in
  // rank order (alphabet first, then substrings by corpus score) —
  // MATCHing the SQL re-learned vocab pins trainVocab end-to-end,
  // not just the counts it produces
  Q("tok2_vocab_table", (s, dir) => {
    import s.implicits._
    trainedVocab(s, dir).zipWithIndex
      .map { case (tk, i) => (tk, (i + 1).toLong) }.toSeq
      .toDF("token", "rank")
  },
    // trainVocab's array order replayed: alphabet sorted asc, then
    // substrings by (score desc, tok asc) with offset ranks
    (subwordCte + """,
      |charrank AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok ASC)
      |                   AS BIGINT) AS rank FROM chars),
      |nch AS (SELECT count(*) AS n FROM chars)
      |SELECT tok AS token, rank FROM charrank
      |UNION ALL
      |SELECT tok AS token, CAST(rn + (SELECT n FROM nch) AS BIGINT) AS rank
      |FROM ranked WHERE rn <= 64 - (SELECT n FROM nch)""".stripMargin))

  // shard packing budgeted in MERGE-FAITHFUL BPE units — the form a
  // production pipeline sizes shards in (pack1 words / pack2
  // regex-heuristic / pack3 BPE; re-based from greedy subwords in
  // r6 — counts changed because the unit changed, the trajectory
  // itself is pinned by tok3/tok4)
  Q("pack3_subword_shards", (s, dir) => {
    val merges = trainedBpe(s, dir).toSeq
    Packing.assignShards(t(s, dir, "documents"), "doc_id", "text",
        budget = 2000, buckets = 32,
        tokenCounter = Tokenizer.bpeCount(merges))
      .select("doc_id", "n_tokens", "cum", "shard")
  },
    (bpeCte(bpeMergeCount) + """,
      |cc AS (SELECT doc_id, n_tokens,
      |       sum(n_tokens) OVER (ORDER BY doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM doctok)
      |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum,
      |       CAST(floor((cum - n_tokens) * 1.0 / 2000) AS BIGINT) AS shard
      |FROM cc""".stripMargin))

  // context windows budgeted in merge-faithful BPE units at word
  // boundaries (ch1's trained-tokenizer sibling; same shuffle-free
  // plan shape; re-based from greedy subwords in r6)
  Q("ch2_subword_chunks", (s, dir) => {
    val merges = trainedBpe(s, dir).toSeq
    Tokenizer.chunkByBpe(t(s, dir, "documents"), "doc_id",
      "text", merges, maxTokens = 64)
  },
    (bpeCte(bpeMergeCount) + """,
      |pw AS (SELECT doc_id, unnest([{'pos': i, 'wr': lr[i]}
      |                              for i in range(1, len(lr)+1)],
      |                             recursive := true)
      |       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS lr
      |             FROM documents)),
      |pc AS (SELECT p.doc_id, p.pos, p.wr, t.n
      |       FROM pw p JOIN wtok t ON t.w = lower(p.wr)),
      |cw AS (SELECT doc_id, pos, wr, n,
      |       sum(n) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM pc),
      |ci AS (SELECT doc_id, (cum - n) // 64 AS chunk_idx, wr, pos, n FROM cw)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |       string_agg(wr, ' ' ORDER BY pos) AS chunk_text,
      |       CAST(sum(n) AS BIGINT) AS n_tokens
      |FROM ci GROUP BY doc_id, chunk_idx""".stripMargin))

  // TRUE BPE training (VERDICT r5 #1): the learned merges table in
  // merge order — the oracle re-runs the identical pair-merge
  // trajectory as an unrolled CTE chain (pair counts from wrapped
  // segmentation strings, argmax with the same count-DESC/pair-ASC
  // tie-break, non-overlapping delimited replace), so MATCHing this
  // row pins the TRAINING LOOP itself, iteration by iteration
  Q("tok3_bpe_merges", (s, dir) => {
    import s.implicits._
    trainedBpe(s, dir).zipWithIndex
      .map { case ((l, r), i) => ((i + 1).toLong, l, r, l + r) }.toSeq
      .toDF("rank", "lhs", "rhs", "merged")
  },
    // the BPE training trajectory replayed iteration-by-iteration as
    // an unrolled CTE chain; the merges table is the output
    (bpeCte(bpeMergeCount) +
      "\nSELECT rank, l AS lhs, r AS rhs, l || r AS merged FROM mg"))

  // WordPiece trajectory (the BERT trainer): same alphabet and
  // merge walk as BPE but the pair picked each step maximizes
  // count(l,r)/(count(l)·count(r)) — the oracle replays the full
  // 16-step chain with per-step symbol counts joined into the
  // ranking (see wordpieceCte)
  Q("tok13_wordpiece_merges", (s, dir) => {
    import s.implicits._
    trainedWordPiece(s, dir).zipWithIndex
      .map { case ((l, r), i) => ((i + 1).toLong, l, r, l + r) }.toSeq
      .toDF("rank", "lhs", "rhs", "merged")
  },
    // WordPiece trajectory: likelihood-score ranking replayed per
    // step (pair counts ⋈ per-step symbol counts)
    (wordpieceCte(wpMergeCount) +
      "\nSELECT rank, l AS lhs, r AS rhs, l || r AS merged FROM mg"))

  // WordPiece application: merge application is score-agnostic, so
  // the BPE codegen kernel applies the WordPiece merge list
  // unchanged; the oracle reads the chain's final segmentation
  // state — training == in-order application, tok4's identity
  Q("tok14_wordpiece_token_counts", (s, dir) => {
    val merges = trainedWordPiece(s, dir).toSeq
    t(s, dir, "documents").select(col("doc_id"),
      Tokenizer.bpeCount(merges)(col("text")).cast("long")
        .as("n_tokens"))
  }, wordpieceCte(wpMergeCount) + "\nSELECT doc_id, n_tokens FROM doctok")

  // BPE APPLICATION through the codegen kernel (merges applied in
  // learned order per word): per-doc token counts in merge-faithful
  // units; the oracle reads the unrolled chain's FINAL segmentation
  // state — training is application, so kernel == final state pins
  // the in-order walk
  Q("tok4_bpe_token_counts", (s, dir) => {
    val merges = trainedBpe(s, dir).toSeq
    t(s, dir, "documents").select(col("doc_id"),
      Tokenizer.bpeCount(merges)(col("text")).cast("long")
        .as("n_tokens"))
  },
    // application == training's final segmentation state
    (bpeCte(bpeMergeCount) + "\nSELECT doc_id, n_tokens FROM doctok"))

  // BYTE-level BPE (GPT-2-class fidelity): symbols are UTF-8 bytes
  // as hex pairs, so budgets are byte-faithful on multibyte text;
  // the oracle replays the trajectory over hex(encode(w)) pairs
  Q("tok7_byte_bpe_merges", (s, dir) => {
    import s.implicits._
    trainedByteBpe(s, dir).zipWithIndex
      .map { case ((l, r), i) => ((i + 1).toLong, l, r, l + r) }.toSeq
      .toDF("rank", "lhs", "rhs", "merged")
  },
    // byte-level trajectory replay: same chain over hex-pair symbols
    (bpeCte(bpeMergeCount, byteLevel = true) +
      "\nSELECT rank, l AS lhs, r AS rhs, l || r AS merged FROM mg"))

  // byte-level application through the codegen kernel: per-doc
  // token counts in byte-BPE units (== final trajectory state)
  Q("tok8_byte_token_counts", (s, dir) => {
    val merges = trainedByteBpe(s, dir).toSeq
    t(s, dir, "documents").select(col("doc_id"),
      Tokenizer.bpeByteCount(merges)(col("text")).cast("long")
        .as("n_tokens"))
  },
    (bpeCte(bpeMergeCount, byteLevel = true) +
      "\nSELECT doc_id, n_tokens FROM doctok"))

  // byte-level id encoding: TOTAL by construction (the 256-byte
  // alphabet covers every input — byte-level BPE's defining
  // property, no OOV possible)
  Q("tok9_byte_token_ids", (s, dir) => {
    val merges = trainedByteBpe(s, dir).toSeq
    val vocab = Tokenizer.bpeByteVocabTable(merges)
    val ids = Tokenizer.bpeByteIds(col("text"), merges, vocab)
    t(s, dir, "documents").select(col("doc_id"),
      size(ids).cast("long").as("n_tokens"),
      array_join(transform(ids, _.cast("string")), " ").as("ids"))
  },
    // byte-id replay: the CLOSED 256-byte alphabet (ids 1..256 in
    // byte order) + merges, final segmentations re-encoded per doc
    (bpeCte(bpeMergeCount, byteLevel = true) +
      bpeVocabCtes(bpeByteAlphabetCv) +
      bpeEncodeCtes(s"s$bpeMergeCount") +
      "\nSELECT doc_id, n_tokens, ids FROM docids"))

  // r8: unigram-LM (SentencePiece-style) tokenizer — the
  // probabilistic family beside greedy WordPiece (tok1) and BPE
  // (tok3+): substring seeding, one hard-EM round, prune. Integer
  // fixed-point log2 scores make the whole training trajectory and
  // the Viterbi argmax engine-reproducible; the oracle replays
  // seeding, E-step (by exhaustive segmentation enumeration —
  // equal to the DP), M-step, prune, and final scores
  Q("tok10_unigram_vocab", (s, dir) => {
    import s.implicits._
    trainedUnigram(s, dir).toSeq.toDF("piece", "piece_count", "qscore")
  }, tok10Oracle)

  // encode under the trained unigram vocab: Viterbi-best pieces
  // per distinct corpus word (the row-local codegen expression a
  // 100 TB encode pass maps over documents)
  // the tok10 LM closing the loop into quality filtering: per-doc
  // mean piece log2-prob gate, all-integer (exact) scoring
  Q("qf10_unigram_lm_gate", (s, dir) =>
    QualityFilters.unigramLmGate(t(s, dir, "documents"), "doc_id",
      "text", trainedUnigram(s, dir).map(v => (v._1, v._3)).toSeq,
      oovQ = -20000L, meanThresholdQ = -5250L),
    qf10Oracle)

  Q("tok11_unigram_encode", (s, dir) => {
    val vocab = trainedUnigram(s, dir).map(v => (v._1, v._3)).toSeq
    val words = t(s, dir, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "").distinct()
    val pieces = Tokenizer.unigramTokens(col("word"), vocab)
    words.select(col("word"),
      array_join(pieces, " ").as("pieces"),
      size(pieces).cast("long").as("n_pieces"))
  }, tok11Oracle)

  // the BPE VOCABULARY table (chars sorted, then merged symbols in
  // learned order; duplicate merged strings keep their first id,
  // HF-style) — the id space tok5's encoding writes in
  Q("tok6_bpe_vocab", (s, dir) => {
    import s.implicits._
    trainedBpeVocab(s, dir).toDF("token", "id")
  },
    // vocab replay: chars ranked ascending, merges offset by |chars|
    // in learned order, duplicate strings keep their min (first) id
    (bpeCte(bpeMergeCount) + bpeVocabCtes(bpeCharAlphabetCv) +
      "\nSELECT tok AS token, id FROM uni"))

  // token-ID encoding, the form a training pipeline actually ships:
  // per-doc BPE token ids (space-joined for the compare) via one
  // codegen tokenize pass + a literal-map lookup — no join, no
  // shuffle; the oracle re-derives ids from the unrolled trajectory's
  // final segmentations joined to the replayed vocab
  val tok5 = Q("tok5_bpe_token_ids", (s, dir) => {
    val merges = trainedBpe(s, dir).toSeq
    val vocab = trainedBpeVocab(s, dir)
    val ids = Tokenizer.bpeIds(col("text"), merges, vocab)
    t(s, dir, "documents").select(col("doc_id"),
      size(ids).cast("long").as("n_tokens"),
      array_join(transform(ids, _.cast("string")), " ").as("ids"))
  },
    // id encoding replay: final segmentations split back to symbols
    // with positions, joined to the replayed vocab, re-joined per doc
    // in word order
    (bpeCte(bpeMergeCount) + bpeVocabCtes(bpeCharAlphabetCv) +
      bpeEncodeCtes(s"s$bpeMergeCount") +
      "\nSELECT doc_id, n_tokens, ids FROM docids"))

  // r10: the tokenizer as a PERSISTED artifact — the third
  // production artifact class (IVF-PQ index store, classifier
  // weights, now merges + vocab): train once, persist with the
  // generation guard (algo tag + config + corpus fingerprint,
  // contiguous-rank/distinct-id integrity), and encode with the
  // LOADED tokenizer — ids must equal tok5's trajectory replay
  // exactly, because merge ORDER is the model
  Q("tok15_tokenizer_store", (s, dir) => {
    val cfg = s"bpe|merges=$bpeMergeCount|char-alphabet"
    val dh = qf9DataHash(s, dir)
    val path = s"${sys.props("java.io.tmpdir")}/graft_bpe_store_" +
      java.lang.Integer.toHexString(dir.hashCode)
    ModelStore.saveTokenizer(s, path, trainedBpe(s, dir).toSeq,
      trainedBpeVocab(s, dir), cfg, dh)
    val (lm, lv) = ModelStore.loadTokenizer(s, path, cfg, dh)
    val ids = Tokenizer.bpeIds(col("text"), lm.toSeq, lv.toSeq)
    t(s, dir, "documents").select(col("doc_id"),
      size(ids).cast("long").as("n_tokens"),
      array_join(transform(ids, _.cast("string")), " ").as("ids"))
  },
    // encoding with the persisted tokenizer == the trajectory replay
    tok5.oracle)

  // the artifact a dataloader memmaps: BPE-budgeted shards with the
  // concatenated token-ID payload per shard, docs in id order
  Q("pack6_token_id_payload", (s, dir) => {
    val merges = trainedBpe(s, dir).toSeq
    val vocab = trainedBpeVocab(s, dir)
    val assigned = Packing.assignShards(t(s, dir, "documents"),
        "doc_id", "text", budget = 2000, buckets = 32,
        tokenCounter = Tokenizer.bpeCount(merges))
      .withColumn("ids", array_join(transform(
        Tokenizer.bpeIds(col("text"), merges, vocab),
        _.cast("string")), " "))
    Packing.packTokenIds(assigned, "doc_id", "ids")
  },
    // id payload replay: tok5's per-doc id strings, pack3's shard
    // assignment over BPE counts, per-shard ordered string_agg
    (bpeCte(bpeMergeCount) + bpeVocabCtes(bpeCharAlphabetCv) +
      bpeEncodeCtes(s"s$bpeMergeCount") + """,
      |cc AS (SELECT doc_id, n_tokens, ids,
      |       sum(n_tokens) OVER (ORDER BY doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM docids)
      |SELECT CAST(floor((cum - n_tokens) * 1.0 / 2000) AS BIGINT) AS shard,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |       string_agg(ids, ' ' ORDER BY doc_id) AS ids_payload
      |FROM cc GROUP BY 1""".stripMargin))

  Q("pf1_corpus_stats", (s, dir) =>
    Profiling.corpusStats(t(s, dir, "documents"), Seq("lang"), "n_chars"),
    """SELECT lang, count(*) AS n_docs, min(n_chars) AS min_len,
      |       max(n_chars) AS max_len, round(avg(n_chars), 4) AS mean_len,
      |       round(quantile_cont(n_chars, 0.5), 4) AS median_len,
      |       round(quantile_cont(n_chars, 0.95), 4) AS p95_len
      |FROM documents GROUP BY lang""".stripMargin)

  Q("pf2_token_freq", (s, dir) =>
    Profiling.tokenFrequencies(t(s, dir, "documents"), Seq("lang"), "text", 5),
    """WITH toks AS (
      |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |counts AS (
      |  SELECT lang, token, count(*) AS n FROM toks
      |  WHERE length(token) > 0 GROUP BY lang, token)
      |SELECT lang, token, n, rank FROM (
      |  SELECT lang, token, n,
      |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
      |  FROM counts) WHERE rank <= 5""".stripMargin)

  // KMV bottom-k distinct sketch: the deterministic, engine-
  // portable sibling of pf5's HLL — bit-reproducible (full hash
  // MATCH, not rows-only) and intersectable. At 100 TB the
  // persisted groups×k sketch store answers every rollup/overlap
  // question without rescanning the corpus
  Q("pf10_kmv_vocab", (s, dir) =>
    Profiling.kmvEstimate(
      Profiling.kmvSketch(kmvTokens(t(s, dir, "documents")),
        "lang", col("token"), 128),
      "lang", 128),
    s"""$kmvSketchCte
      |SELECT lang, CAST(count(*) AS INT) AS sketch_n, max(hs) AS kth_h,
      |       ${kmvEstSql("count(*)", "max(hs)")} AS est_distinct
      |FROM sk GROUP BY lang""".stripMargin)

  // pairwise union / Jaccard / INTERSECTION estimates over the
  // per-lang sketches — the overlap matrix HLL cannot produce;
  // runs on sketch rows only (groups²·k), corpus-size-free
  Q("pf11_kmv_setops", (s, dir) =>
    Profiling.kmvSetOps(
      Profiling.kmvSketch(kmvTokens(t(s, dir, "documents")),
        "lang", col("token"), 128),
      "lang", 128),
    s"""$kmvSketchCte,
      |gl AS (SELECT DISTINCT lang FROM sk),
      |pr AS (SELECT a.lang AS group_a, b.lang AS group_b
      |       FROM gl a JOIN gl b ON a.lang < b.lang),
      |mem AS (SELECT pr.group_a, pr.group_b, s.hs,
      |          max(CASE WHEN s.lang = pr.group_a THEN 1 ELSE 0 END) AS in_a,
      |          max(CASE WHEN s.lang = pr.group_b THEN 1 ELSE 0 END) AS in_b
      |        FROM pr JOIN sk s ON s.lang = pr.group_a OR s.lang = pr.group_b
      |        GROUP BY 1, 2, 3),
      |uu AS (SELECT * FROM (
      |         SELECT mem.*,
      |           row_number() OVER (PARTITION BY group_a, group_b ORDER BY hs) AS rk
      |         FROM mem) WHERE rk <= 128),
      |ag AS (SELECT group_a, group_b, CAST(count(*) AS INT) AS union_n,
      |         max(hs) AS kth, sum(in_a * in_b) AS nboth
      |       FROM uu GROUP BY 1, 2),
      |fin AS (SELECT group_a, group_b, union_n,
      |          ${kmvEstSql("union_n", "kth")} AS est_union,
      |          CAST(nboth AS DOUBLE) / CAST(union_n AS DOUBLE) AS jaccard
      |        FROM ag)
      |SELECT group_a, group_b, union_n, est_union, jaccard,
      |       jaccard * est_union AS est_intersect
      |FROM fin""".stripMargin)

  // exact heavy hitters without shuffling the token tail:
  // Misra-Gries candidates (bounded per-partition maps, merged),
  // then exact counts for candidate rows only — output == the
  // HAVING-clause answer the oracle computes the expensive way
  Q("hh1_heavy_hitters", (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    Profiling.exactHeavyHitters(toks, "token", support = 0.02)
  },
    """WITH toks AS (
      |  SELECT t.token
      |  FROM documents,
      |       unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(token)
      |  WHERE length(t.token) > 0),
      |tot AS (SELECT count(*) AS n_total FROM toks)
      |SELECT token, count(*) AS n, (SELECT n_total FROM tot) AS n_total
      |FROM toks GROUP BY token
      |HAVING count(*) > (SELECT n_total FROM tot) * 0.02""".stripMargin)

  // the 100 TB profiling path: HLL distinct + approx percentiles.
  // r11: the output is the operator's CONTRACT — exact aggregates
  // (oracle-computable) plus bound-check booleans computed from the
  // engine's own estimates (HLL within 5% of exact distinct, approx
  // percentiles within 5% of the exact quantile), so the error
  // bound itself is hash-verified against DuckDB (which emits the
  // exact side + literal true) instead of living in a spec note
  Q("pf3_approx_stats", (s, dir) => {
    val docs = t(s, dir, "documents")
    val agg = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("n_chars")).as("n_distinct_len"),
      min("n_chars").as("min_len"),
      max("n_chars").as("max_len"),
      round(avg("n_chars"), 4).as("mean_len"),
      // rsd 0.01: the 5% contract below is then a 5-sigma bound
      // (the default rsd 0.05 makes 5% a coin-flip 1-sigma claim)
      approx_count_distinct(col("n_chars"), 0.01).as("__hll"),
      expr("approx_percentile(n_chars, 0.5, 10000)").cast("double").as("__amed"),
      expr("approx_percentile(n_chars, 0.95, 10000)").cast("double").as("__ap95"),
      expr("percentile(n_chars, 0.5)").as("__emed"),
      expr("percentile(n_chars, 0.95)").as("__ep95"))
    // percentile() interpolates; approx_percentile returns an
    // ELEMENT. The provable contract is: within 5% of the
    // interpolated exact value OR a bracketing order statistic (no
    // element lies strictly between the two) — the second arm is
    // guaranteed whenever the group fits the sketch (rank error
    // < 1), so tiny/skewed groups can't flip the boolean
    val between = docs.join(agg.select("lang", "__amed", "__ap95", "__emed", "__ep95"), "lang")
      .groupBy("lang").agg(
        count(when(col("n_chars") > least(col("__amed"), col("__emed")) &&
          col("n_chars") < greatest(col("__amed"), col("__emed")), 1))
          .as("__med_between"),
        count(when(col("n_chars") > least(col("__ap95"), col("__ep95")) &&
          col("n_chars") < greatest(col("__ap95"), col("__ep95")), 1))
          .as("__p95_between"))
    agg.join(between, "lang").select(
      col("lang"), col("n_docs"), col("n_distinct_len"),
      col("min_len"), col("max_len"), col("mean_len"),
      (abs(col("__hll") - col("n_distinct_len")) * 20 <= col("n_distinct_len"))
        .as("hll_within_5pct"),
      (abs(col("__amed") - col("__emed")) * 20 <= col("__emed") ||
        col("__med_between") === 0).as("median_bound_ok"),
      (abs(col("__ap95") - col("__ep95")) * 20 <= col("__ep95") ||
        col("__p95_between") === 0).as("p95_bound_ok"))
  },
    // pf3/pf5/qf2 contract oracles (r11): DuckDB computes the exact,
    // deterministic side and literal `true` for each engine-side
    // bound check — the approximation error bound is the contract
    """SELECT lang, count(*) AS n_docs,
      |       count(DISTINCT n_chars) AS n_distinct_len,
      |       min(n_chars) AS min_len, max(n_chars) AS max_len,
      |       round(avg(n_chars), 4) AS mean_len,
      |       true AS hll_within_5pct, true AS median_bound_ok,
      |       true AS p95_bound_ok
      |FROM documents GROUP BY lang""".stripMargin)

  /** Stage each frame in `batches` as ONE parquet file under `path`
    * with strictly ascending mtimes — FileStreamSource discovers by
    * modification time, so with maxFilesPerTrigger=1 each element
    * becomes exactly one micro-batch, in sequence order (st14's
    * pinning, factored for the multi-batch stream-stream queries).
    * Returns the directory opened as that stream. */
  private def stagedMicroBatches(s: SparkSession, path: String,
      batches: Seq[DataFrame]): DataFrame = {
    val t0 = System.currentTimeMillis() - 600000L
    batches.zipWithIndex.foreach { case (b, i) =>
      val before =
        if (i == 0) Set.empty[String]
        else listDataFiles(path).map(_.getName).toSet
      b.coalesce(1).write.mode("append").parquet(path)
      listDataFiles(path).filterNot(f => before(f.getName))
        .foreach(_.setLastModified(t0 + i * 5000L))
    }
    s.readStream.schema(s.read.parquet(path).schema)
      .option("maxFilesPerTrigger", 1).parquet(path)
  }

  /** Corpus-trained subword vocabulary for the tok1/pack3/ch2 family,
    * memoized per sf dir (training is two aggregations + two bounded
    * collects; the tokenizer queries share one table). vocabSize 64
    * on the synthetic corpus (31 distinct words) keeps most FULL
    * words out of the vocab, so the greedy matcher genuinely splits
    * into subwords rather than degenerating to whole-word tokens. */
  private val vocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  private def trainedVocab(s: SparkSession, dir: String): Array[String] =
    vocabCache.computeIfAbsent(dir, _ =>
      Tokenizer.trainVocab(t(s, dir, "documents"), "text",
        vocabSize = 64, maxTokenLen = 8))

  /** TRUE BPE merges for the tok3/tok4/pack3/ch2 family, memoized per
    * sf dir (training is one corpus pass + `bpeMergeCount` bounded
    * iterations on the checkpointed distinct-word table, one-row
    * collect each). 24 merges on the synthetic corpus leaves frequent
    * words as whole tokens and genuinely splits the rest — the
    * regime where merge-order application and greedy longest-match
    * demonstrably differ. */
  private val bpeMergeCount = 24

  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, String)]]()

  private def trainedBpe(s: SparkSession, dir: String): Array[(String, String)] =
    bpeCache.computeIfAbsent(dir, _ =>
      Tokenizer.trainBpeMerges(t(s, dir, "documents"), "text",
        numMerges = bpeMergeCount))

  /** WordPiece merges for tok13/tok14, memoized per sf dir. 16
    * merges: enough to diverge visibly from the BPE trajectory (the
    * likelihood score promotes strongly-bound rare pairs over merely
    * frequent ones) while keeping the per-merge unrolled oracle CTE
    * chain tractable. */
  private val wpMergeCount = 16

  private val wpCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, String)]]()

  private def trainedWordPiece(s: SparkSession, dir: String): Array[(String, String)] =
    wpCache.computeIfAbsent(dir, _ =>
      Tokenizer.trainWordPieceMerges(t(s, dir, "documents"), "text",
        numMerges = wpMergeCount))

  /** Unigram-LM tokenizer (piece, count, qscore) rows, memoized per
    * sf dir — training is one distributed word-count aggregation
    * plus bounded driver EM (see Tokenizer.trainUnigramLm). */
  private val unigramCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, Long, Long)]]()

  private def trainedUnigram(s: SparkSession, dir: String): Array[(String, Long, Long)] =
    unigramCache.computeIfAbsent(dir, _ =>
      Tokenizer.trainUnigramLm(t(s, dir, "documents"), "text",
        vocabSize = 48, seedSize = 96, maxPieceLen = 6))

  private val byteBpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, String)]]()

  private def trainedByteBpe(s: SparkSession, dir: String): Array[(String, String)] =
    byteBpeCache.computeIfAbsent(dir, _ =>
      Tokenizer.trainBpeBytes(t(s, dir, "documents"), "text",
        numMerges = bpeMergeCount))

  private val bpeVocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]()

  private def trainedBpeVocab(s: SparkSession, dir: String): Seq[(String, Long)] =
    bpeVocabCache.computeIfAbsent(dir, _ =>
      Tokenizer.bpeVocabTable(t(s, dir, "documents"), "text",
        trainedBpe(s, dir).toSeq))

  /** Unrolled-CTE replay of the BPE training trajectory (the kmeans1
    * pattern): each word's segmentation is a wrapped string — every
    * symbol delimited by chr(30) on BOTH sides, so two RS chars sit
    * between adjacent symbols — and one merge iteration is (a) pair
    * counts from the split symbols, (b) the argmax pair with the
    * count-DESC/(l,r)-ASC tie-break, requiring count >= 2, (c) a
    * plain `replace` of the delimited pair with the delimited merged
    * symbol. Non-overlapping left-to-right `replace` on the wrapped
    * form is exactly the BPE scan-and-skip walk (a match can only
    * align at a symbol start: a symbol never contains chr(30)), which
    * is exactly the Spark fold in `Tokenizer.applyMerge`. After the
    * last iteration the final segmentations ARE the trained
    * tokenizer's output per distinct word — application falls out of
    * training. Exposes: `mg(rank, l, r)` the merges table, `sN` the
    * final state, `wtok(w, n)` per-word token counts, `doctok` per-doc
    * counts. */
  private def bpeCte(numMerges: Int, byteLevel: Boolean = false): String = {
    // char mode: one symbol per code point; byte mode: one two-hex
    // symbol per UTF-8 byte (hex(encode(w)) sliced in pairs) — the
    // same representation the Spark trainer and kernel use
    val initSyms =
      if (byteLevel)
        "[hex(encode(w))[2*i-1:2*i] for i in range(1, octet_length(encode(w))+1)]"
      else
        charSyms
    mergeTrajectoryCte("bpeCte", numMerges, initSyms) { (k, sep2) =>
      s"""p$k AS MATERIALIZED (SELECT sy[i] AS l, sy[i+1] AS r, sum(f) AS c
        |       FROM (SELECT f, string_split(seg[2:len(seg)-1], $sep2) AS sy
        |             FROM s${k - 1}),
        |            unnest(generate_series(1, len(sy) - 1)) AS ix(i)
        |       GROUP BY 1, 2),
        |b$k AS MATERIALIZED (SELECT l, r FROM p$k WHERE c >= 2
        |       ORDER BY c DESC, l ASC, r ASC LIMIT 1)""".stripMargin
    }
  }

  /** WordPiece trajectory replay — [[bpeCte]] with the ranking key
    * swapped: each step joins the pair counts against per-step SYMBOL
    * counts (u$k) and picks max count(l,r)/(count(l)·count(r)), score
    * computed as one exact-integer product cast to double and one
    * IEEE division on both engines, ties l ASC then r ASC. Same
    * chr(30)-delimited segmentation state, same replace-based merge
    * application, same c >= 2 floor. */
  private def wordpieceCte(numMerges: Int): String =
    mergeTrajectoryCte("wordpieceCte", numMerges, charSyms) { (k, sep2) =>
      s"""x$k AS MATERIALIZED (SELECT f, string_split(seg[2:len(seg)-1], $sep2) AS sy
        |       FROM s${k - 1}),
        |p$k AS MATERIALIZED (SELECT sy[i] AS l, sy[i+1] AS r, sum(f) AS c
        |       FROM x$k, unnest(generate_series(1, len(sy) - 1)) AS ix(i)
        |       GROUP BY 1, 2),
        |u$k AS MATERIALIZED (SELECT sy[i] AS s, sum(f) AS sc
        |       FROM x$k, unnest(generate_series(1, len(sy))) AS ix(i)
        |       GROUP BY 1),
        |b$k AS MATERIALIZED (SELECT p.l, p.r FROM p$k p
        |       JOIN u$k ul ON ul.s = p.l JOIN u$k ur ON ur.s = p.r
        |       WHERE p.c >= 2
        |       ORDER BY CAST(p.c AS DOUBLE) /
        |                (CAST(ul.sc AS DOUBLE) * CAST(ur.sc AS DOUBLE)) DESC,
        |                p.l ASC, p.r ASC LIMIT 1)""".stripMargin
    }

  private val charSyms = "[w[i:i] for i in range(1, len(w)+1)]"

  /** The merge-trajectory skeleton [[bpeCte]] and [[wordpieceCte]]
    * share: word counts, the chr(30)-delimited initial segmentation
    * from `initSyms`, then per step k the caller's pick of the merged
    * pair `b$k(l, r)` (its text given k and the two-RS separator) and
    * its replace-based application `s$k`, then the merge table `mg`
    * and per-word / per-doc token counts. */
  private def mergeTrajectoryCte(caller: String, numMerges: Int,
      initSyms: String)(pickPair: (Int, String) => String): String = {
    val rs = "chr(30)"
    val sep2 = s"$rs || $rs"
    val sb = new StringBuilder
    // the chr(30) wrapping is only unambiguous while no WORD contains
    // U+001E (\s+ does not split on it, so it would survive into a
    // symbol); fail LOUDLY instead of silently diverging from the
    // Spark kernel if the fixture ever grows such a word (r6 advisory)
    sb ++= s"""WITH wcnt AS (
      |  SELECT w, count(*) AS f FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY w),
      |rsguard AS (SELECT CASE WHEN count(*) > 0
      |         THEN error('corpus word contains U+001E: $caller delimiting invalid')
      |         ELSE 0 END AS ok
      |       FROM wcnt WHERE contains(w, $rs)),
      |s0 AS MATERIALIZED (SELECT w, f,
      |         $rs || array_to_string($initSyms,
      |                                $sep2) || $rs AS seg
      |       FROM wcnt CROSS JOIN rsguard
      |       WHERE rsguard.ok = 0)""".stripMargin
    for (k <- 1 to numMerges) {
      val p = k - 1
      sb ++= s""",
        |${pickPair(k, sep2)},
        |s$k AS MATERIALIZED (SELECT w, f, CASE WHEN b.l IS NULL THEN s.seg
        |         ELSE replace(s.seg, $rs || b.l || $sep2 || b.r || $rs,
        |                      $rs || b.l || b.r || $rs) END AS seg
        |       FROM s$p s LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    val ranks = (1 to numMerges)
      .map(k => s"SELECT CAST($k AS BIGINT) AS rank, l, r FROM b$k")
      .mkString("\n        UNION ALL ")
    sb ++= s""",
      |mg AS ($ranks),
      |wtok AS (SELECT w,
      |           len(string_split(seg[2:len(seg)-1], $sep2)) AS n
      |         FROM s$numMerges),
      |dw AS (SELECT doc_id,
      |         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |       FROM documents),
      |cnt AS (SELECT doc_id, sum(n) AS n FROM dw JOIN wtok USING (w)
      |        WHERE w <> '' GROUP BY doc_id),
      |doctok AS (SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens
      |           FROM documents d LEFT JOIN cnt c USING (doc_id))""".stripMargin
    sb.toString
  }

  /** Shared vocab-replay suffix for the BPE id oracles: `alphabetCv`
    * must define cv(tok, id); merges get ids offset by |alphabet|,
    * duplicate token strings keep their min (first) id. Requires `mg`
    * from [[bpeCte]]. */
  private def bpeVocabCtes(alphabetCv: String): String =
    s""",
      |cv AS ($alphabetCv),
      |nch AS (SELECT count(*) AS n FROM cv),
      |mv AS (SELECT l || r AS tok,
      |         CAST(rank + (SELECT n FROM nch) AS BIGINT) AS id FROM mg),
      |uni AS (SELECT tok, min(id) AS id
      |        FROM (SELECT * FROM cv UNION ALL SELECT * FROM mv)
      |        GROUP BY tok)""".stripMargin

  /** The corpus-alphabet cv (char-level: distinct corpus chars ranked
    * ascending) for [[bpeVocabCtes]]. */
  private val bpeCharAlphabetCv: String =
    """SELECT tok, CAST(row_number() OVER (ORDER BY tok ASC)
      |         AS BIGINT) AS id
      |       FROM (SELECT DISTINCT unnest([w[i:i] for i in range(1, len(w)+1)]) AS tok
      |             FROM wcnt)""".stripMargin

  /** The CLOSED byte alphabet cv (ids 1..256 in byte order). */
  private val bpeByteAlphabetCv: String =
    """SELECT upper(lpad(to_hex(i), 2, '0')) AS tok,
      |               CAST(i + 1 AS BIGINT) AS id
      |       FROM (SELECT unnest(range(0, 256)) AS i)""".stripMargin

  /** Shared id-encoding suffix: final segmentations re-split to
    * symbols with positions, joined to `uni`, re-joined per doc in
    * word order; `docids` covers every doc (empty docs get 0 tokens /
    * empty ids). Requires [[bpeVocabCtes]] and the trajectory's final
    * state `s<N>`. */
  private def bpeEncodeCtes(finalState: String): String =
    s""",
      |wsym AS (SELECT w, string_split(seg[2:len(seg)-1], chr(30) || chr(30)) AS syms
      |         FROM $finalState),
      |wse AS (SELECT w, i, syms[i] AS tok
      |        FROM wsym, unnest(generate_series(1, len(syms))) t(i)),
      |wstr AS (SELECT w.w, string_agg(CAST(u.id AS VARCHAR), ' ' ORDER BY w.i) AS ids,
      |                CAST(count(*) AS BIGINT) AS n
      |         FROM wse w JOIN uni u USING (tok) GROUP BY w.w),
      |pw AS (SELECT doc_id, unnest([{'pos': i, 'wr': lr[i]}
      |                              for i in range(1, len(lr)+1)],
      |                             recursive := true)
      |       FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS lr
      |             FROM documents)),
      |pz AS (SELECT p.doc_id, p.pos, ws.ids, ws.n
      |       FROM pw p JOIN wstr ws ON ws.w = lower(p.wr)),
      |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      |               string_agg(ids, ' ' ORDER BY pos) AS ids
      |        FROM pz GROUP BY doc_id),
      |docids AS (SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
      |                  coalesce(a.ids, '') AS ids
      |           FROM documents d LEFT JOIN agg a USING (doc_id))""".stripMargin

  /** Shared CTE prefix for the subword-tokenizer oracles (tok1, pack3,
    * ch2): re-learns Tokenizer.trainVocab's vocabulary in SQL
    * (vocabSize 64, maxTokenLen 8 — the query parameters) and replays
    * the greedy longest-match per distinct word with a recursive CTE,
    * ending in `doctok(doc_id, n_tokens)`. Deliberately NOT closed —
    * each oracle appends its own final select (and further CTEs). */
  private val subwordCte: String =
    subwordVocabCtes + """
      |tk AS (
      |  SELECT w, 1 AS pos, 0 AS n FROM wcnt
      |  UNION ALL
      |  SELECT w, pos + coalesce((SELECT max(len(v.tok)) FROM vocab v
      |                            WHERE v.tok = substr(tk.w, CAST(tk.pos AS INT),
      |                                                 len(v.tok))), 1),
      |         n + 1
      |  FROM tk WHERE pos <= len(w)),
      |wtok AS (SELECT w, n FROM tk WHERE pos > len(w)),
      |dw AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |       FROM documents),
      |cnt AS (SELECT doc_id, sum(n) AS n FROM dw JOIN wtok USING (w)
      |        WHERE w <> '' GROUP BY doc_id),
      |doctok AS (SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens
      |           FROM documents d LEFT JOIN cnt c USING (doc_id))""".stripMargin

  /** Shared by tok12 (batch) and st22 (the identical stateless
    * coverage projection on a two-micro-batch stream). */
  private val tok12OracleSql: String =
    subwordVocabCtes + """
        |docs2 AS (SELECT doc_id, text || ' zq9x7 kafka' AS text FROM documents),
        |w2 AS (SELECT DISTINCT w FROM (
        |         SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |         FROM docs2) WHERE w <> ''),
        |tk AS (
        |  SELECT w, 1 AS pos, 0 AS n, 0 AS oov FROM w2
        |  UNION ALL
        |  SELECT w,
        |         pos + coalesce((SELECT max(len(v.tok)) FROM vocab v
        |                         WHERE v.tok = substr(tk.w, CAST(tk.pos AS INT),
        |                                              len(v.tok))), 1),
        |         n + 1,
        |         oov + CASE WHEN (SELECT max(len(v.tok)) FROM vocab v
        |                          WHERE v.tok = substr(tk.w, CAST(tk.pos AS INT),
        |                                               len(v.tok))) IS NULL
        |                    THEN 1 ELSE 0 END
        |  FROM tk WHERE pos <= len(w)),
        |wtok AS (SELECT w, n, oov FROM tk WHERE pos > len(w)),
        |dw AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |       FROM docs2),
        |cnt AS (SELECT doc_id, sum(n) AS n, sum(oov) AS o FROM dw JOIN wtok USING (w)
        |        WHERE w <> '' GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(c.o, 0) AS BIGINT) AS n_oov,
        |       CASE WHEN coalesce(c.n, 0) > 0
        |            THEN round(CAST(c.o AS DOUBLE) / c.n, 6) ELSE 0.0 END AS oov_rate
        |FROM documents d LEFT JOIN cnt c USING (doc_id)""".stripMargin

  /** pii1 oracle: built from Privacy.categories so both engines run
    * THE SAME patterns (regexes restricted to constructs Java and RE2
    * interpret identically). Counts run on the augmented original,
    * redaction chains the replacements in category order — exactly
    * [[graft.operators.Privacy.scrub]]. */
  private def piiOracle: String = {
    val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) ||" +
      " '@example.com ip 10.0.' || CAST(doc_id % 200 AS VARCHAR) ||" +
      " '.7 ssn 123-45-6789 call 555-867-5309'"
    val counts = Privacy.categories.map { case (name, pattern, _) =>
      s"len(regexp_extract_all(text, '$pattern')) AS pii_$name"
    }.mkString(",\n       ")
    val total = Privacy.categories
      .map { case (name, _, _) => s"pii_$name" }.mkString(" + ")
    val redacted = Privacy.categories.foldLeft("text") {
      case (inner, (_, pattern, token)) =>
        s"regexp_replace($inner, '$pattern', '$token', 'g')"
    }
    s"""WITH aug AS (SELECT doc_id, $aug AS text FROM documents),
       |counted AS (
       |  SELECT doc_id,
       |       $counts,
       |       $redacted AS text_redacted
       |  FROM aug)
       |SELECT doc_id, pii_email, pii_ip, pii_ssn, pii_card, pii_phone,
       |       CAST($total AS BIGINT) AS pii_total, text_redacted
       |FROM counted""".stripMargin
  }

  /** qf1 oracle: mirrors QualityFilters.signals/gate — identical
    * token split, rounded ratios, and threshold comparisons on the
    * ROUNDED values (matching the Spark column the gate reads). */
  private def qualityGateOracle: String = {
    val stop = "\\b(" + QualityFilters.stopwords.mkString("|") + ")\\b"
    val th = QualityFilters.Thresholds()
    raw"""WITH s AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
       |    round(length(regexp_replace(text, '\s', '', 'g')) * 1.0 /
       |      greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS mean_word_len,
       |    CAST(coalesce(list_max(list_transform(
       |      string_split_regex(trim(text), '\s+'), w -> length(w))), 0) AS BIGINT)
       |      AS max_word_len,
       |    round(len(regexp_extract_all(text, '[#@{}<>\\|~^]')) * 1.0 /
       |      greatest(length(text), 1), 4) AS symbol_ratio,
       |    CAST(len(regexp_extract_all(lower(text), '$stop')) AS BIGINT) AS stopword_hits
       |  FROM documents)
       |SELECT doc_id, n_words, mean_word_len, max_word_len, symbol_ratio,
       |       stopword_hits,
       |       (n_words BETWEEN ${th.minWords} AND ${th.maxWords}
       |        AND mean_word_len BETWEEN ${th.minMeanWordLen} AND ${th.maxMeanWordLen}
       |        AND symbol_ratio <= ${th.maxSymbolRatio}
       |        AND stopword_hits >= ${th.minStopwordHits}) AS keep
       |FROM s""".stripMargin
  }

  /** pipe2 oracle: the whole funnel replayed stage by stage — qf1's
    * gate signals, dedup as row_number-over-text, dd8's exact gram
    * overlap with the >= 20 threshold — per-source counts left-joined
    * onto the input tally. */
  private def pipe2Oracle: String = {
    val stop = "\\b(" + QualityFilters.stopwords.mkString("|") + ")\\b"
    val th = QualityFilters.Thresholds()
    raw"""WITH tr AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id > 250
       |  UNION ALL
       |  SELECT doc_id + 10000, source, text FROM documents
       |  WHERE doc_id > 250 AND doc_id <= 300),
       |sig AS (
       |  SELECT doc_id, source, text,
       |    len(string_split_regex(trim(text), '\s+')) AS n_words,
       |    round(length(regexp_replace(text, '\s', '', 'g')) * 1.0 /
       |      greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS mwl,
       |    round(len(regexp_extract_all(text, '[#@{}<>\\|~^]')) * 1.0 /
       |      greatest(length(text), 1), 4) AS sr,
       |    len(regexp_extract_all(lower(text), '$stop')) AS sh
       |  FROM tr),
       |gated AS (
       |  SELECT doc_id, source, text FROM sig
       |  WHERE n_words BETWEEN ${th.minWords} AND ${th.maxWords}
       |    AND mwl BETWEEN ${th.minMeanWordLen} AND ${th.maxMeanWordLen}
       |    AND sr <= ${th.maxSymbolRatio} AND sh >= ${th.minStopwordHits}),
       |ded AS (
       |  SELECT doc_id, source, text FROM (
       |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |    FROM gated) WHERE rn = 1),
       |dg AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(l) <= 3 THEN [array_to_string(l, ' ')]
       |         ELSE [array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)] END
       |  )) AS gram
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
       |        FROM ded)),
       |ev AS (
       |  SELECT DISTINCT unnest(list_distinct(
       |    CASE WHEN len(l) <= 3 THEN [array_to_string(l, ' ')]
       |         ELSE [array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)] END
       |  )) AS gram
       |  FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS l
       |        FROM documents WHERE doc_id <= 250)),
       |cont AS (
       |  SELECT dg.doc_id FROM dg JOIN ev USING (gram)
       |  GROUP BY dg.doc_id HAVING count(*) >= 20),
       |clean AS (
       |  SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM cont))
       |SELECT t.source, t.n_input,
       |       COALESCE(g1.n, 0) AS n_gated,
       |       COALESCE(d1.n, 0) AS n_deduped,
       |       COALESCE(c1.n, 0) AS n_clean
       |FROM (SELECT source, count(*) AS n_input FROM tr GROUP BY source) t
       |LEFT JOIN (SELECT source, count(*) AS n FROM gated GROUP BY source) g1
       |  USING (source)
       |LEFT JOIN (SELECT source, count(*) AS n FROM ded GROUP BY source) d1
       |  USING (source)
       |LEFT JOIN (SELECT source, count(*) AS n FROM clean GROUP BY source) c1
       |  USING (source)""".stripMargin
  }

  /** pack-family oracle prefix (pack1/pack4/pack5): whitespace
    * tokenize, global cumulative sum, first-token shard rule at
    * budget 2000 — the single replay of `Packing.assignShards`'
    * entry parameters. `cols` carries the columns each query needs
    * downstream. Ends with `a` = (cols, n_tokens, cum, shard). */
  private def packOracleCtes(cols: String): String =
    s"""WITH t AS (
       |  SELECT $cols,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT $cols, n_tokens,
       |         sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t),
       |a AS (
       |  SELECT $cols, n_tokens, CAST(cum AS BIGINT) AS cum,
       |         CAST(floor((cum - n_tokens) * 1.0 / 2000) AS BIGINT) AS shard
       |  FROM c)""".stripMargin

  /** st16 oracle: the PQ training replay (c2/a3), then each vector's
    * ADC residual against its OWN codes in the Spark plan's exact
    * double form (per-subspace terms summed ascending-s, plus |v|²),
    * quantized `floor(r²·2^20 + 0.5)` to BIGINT so the per-batch-key
    * sums are exact integers; mean and flag mirror
    * [[graft.operators.Similarity.pqDriftStats]]'s double trees
    * (divide-divide for the mean, cross-multiplied integer sums cast
    * to double for the flag — no division in the comparison). */
  private def st16Oracle: String =
    s"""$pqCte,
       |rterm AS (
       |  SELECT a.vec_id, a.s,
       |    list_sum(list_transform(range(1, 9), i -> ct.cent[i] * ct.cent[i]))
       |    - list_sum(list_transform(range(1, 9), i -> vs.sv[i] * ct.cent[i])) * 2 AS term
       |  FROM a3 a JOIN c2 ct ON ct.s = a.s AND ct.cid = a.cid
       |  JOIN vs ON vs.vec_id = a.vec_id AND vs.s = a.s),
       |racc AS (SELECT vec_id, list_sum(list(term ORDER BY s)) AS dsum
       |         FROM rterm GROUP BY 1),
       |vv AS (SELECT vec_id,
       |         list_sum(list_transform(range(1, 65), i -> e[i] * e[i])) AS qq
       |       FROM v),
       |rq AS (SELECT r.vec_id,
       |         CAST(floor((r.dsum + vv.qq) * 1048576.0 + 0.5) AS BIGINT) AS q
       |       FROM racc r JOIN vv USING (vec_id)),
       |base AS (SELECT CAST(sum(q) AS BIGINT) AS bsq, count(*) AS bn FROM rq)
       |SELECT vec_id % 2 AS batch_key, count(*) AS n_vectors,
       |       round(CAST(sum(q) AS DOUBLE) / count(*) / 1048576.0, 6) AS mean_resid_sq,
       |       CAST(sum(q) AS DOUBLE) * base.bn
       |         > 1.5 * CAST(base.bsq AS DOUBLE) * count(*) AS retrain_flag
       |FROM rq CROSS JOIN base GROUP BY vec_id % 2, base.bn, base.bsq""".stripMargin

  /** Fixed-point log2 as a SQL macro — the same integer ops as
    * `Tokenizer.qlog2` with the SAME driver-computed 128-entry
    * fraction table inlined as a literal list (1-based indexing:
    * the mantissa index lands in [128, 256), so subtracting 127
    * yields the list position). */
  private def qlogSql(x: String): String = {
    val tab = graft.operators.Tokenizer.qlog2Frac.mkString(", ")
    // HUGEINT widening mirrors the Scala side's shift-down overflow
    // guard: BIGINT * 128 would overflow past 2^56
    s"(1024 * (length(format('{:b}', $x)) - 1) + " +
      s"([$tab])[CAST((CAST(($x) AS HUGEINT) * 128 // " +
      s"(CAST(1 AS HUGEINT) << (length(format('{:b}', $x)) - 1))) - 127 AS INT)])"
  }

  /** Unigram-LM training replay — the shared CTE chain for tok10
    * (vocab) and tok11 (encode): word counts, substring seeding
    * (top-96 by (count DESC, piece ASC) plus all chars), smoothed
    * integer log2 seed scores, E-step by BRUTE-FORCE segmentation
    * enumeration (a recursive CTE over (word, pos) — exponential in
    * word length, fine for the fixture's short words, and equal to
    * the Spark Viterbi DP's (score DESC, path ASC) argmax by the
    * exchange argument in UnigramExpressions' scaladoc), M-step
    * counts, prune to 48 keeping all chars, final scores. Exposes
    * `fs` (piece, c, len, q) and `wf` (word, f). */
  private def unigramCte: String = {
    val sep = "chr(31)"
    s"""WITH RECURSIVE wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> '' GROUP BY w),
       |subpos AS (
       |  SELECT wf.w, wf.f, substr(wf.w, CAST(t.i AS INT), CAST(u.l AS INT)) AS p
       |  FROM wf, range(1, 257) t(i), range(1, 7) u(l)
       |  WHERE t.i + u.l - 1 <= length(wf.w)),
       |subcnt AS (SELECT p, CAST(sum(f) AS BIGINT) AS c FROM subpos GROUP BY p),
       |chars AS (SELECT DISTINCT p FROM subpos WHERE length(p) = 1),
       |topseed AS (SELECT p FROM subcnt ORDER BY c DESC, p ASC LIMIT 96),
       |seedp AS (SELECT p FROM topseed UNION SELECT p FROM chars),
       |seed AS (SELECT s.p, sc.c FROM seedp s JOIN subcnt sc USING (p)),
       |stot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS m FROM seed),
       |ss AS (SELECT p, length(p) AS len,
       |         ${qlogSql("c + 1")} - ${qlogSql("st.t + st.m")} AS q
       |       FROM seed CROSS JOIN stot st),
       |walk1 AS (
       |  SELECT w, f, CAST(0 AS BIGINT) AS done, CAST(0 AS BIGINT) AS sc,
       |         '' AS path
       |  FROM wf
       |  UNION ALL
       |  SELECT r.w, r.f, r.done + s.len, r.sc + s.q, r.path || s.p || $sep
       |  FROM walk1 r JOIN ss s
       |    ON r.done + s.len <= length(r.w)
       |   AND substr(r.w, CAST(r.done + 1 AS INT), CAST(s.len AS INT)) = s.p),
       |best1 AS (SELECT w, f, path FROM (
       |    SELECT w, f, path, row_number() OVER (PARTITION BY w
       |      ORDER BY sc DESC, path ASC) AS rn
       |    FROM walk1 WHERE done = length(w)) WHERE rn = 1),
       |p1 AS (SELECT f, unnest(string_split(rtrim(path, $sep), $sep)) AS p
       |       FROM best1),
       |c1 AS (SELECT p, CAST(sum(f) AS BIGINT) AS c FROM p1 GROUP BY p),
       |nch AS (SELECT count(*) AS n FROM chars),
       |keptm AS (SELECT p, c FROM (
       |    SELECT p, c, row_number() OVER (ORDER BY c DESC, p ASC) AS rn
       |    FROM c1 WHERE length(p) > 1) CROSS JOIN nch
       |  WHERE rn <= 48 - nch.n),
       |kept AS (SELECT ch.p, coalesce(c1.c, CAST(0 AS BIGINT)) AS c
       |         FROM chars ch LEFT JOIN c1 ON c1.p = ch.p
       |         UNION ALL SELECT p, c FROM keptm),
       |ftot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS m FROM kept),
       |fs AS (SELECT p, c, length(p) AS len,
       |         ${qlogSql("c + 1")} - ${qlogSql("ft.t + ft.m")} AS q
       |       FROM kept CROSS JOIN ftot ft)""".stripMargin
  }

  private def tok10Oracle: String =
    s"""$unigramCte
       |SELECT p AS piece, c AS piece_count, q AS qscore FROM fs""".stripMargin

  /** qf10 oracle: tok11's Viterbi replay extended to the document
    * gate — per-word best pieces (OOV words fall back to code-point
    * pieces, mirroring the segmenter), per-piece quantized scores
    * from `fs` with the −20000 OOV penalty, exact integer doc sums
    * over word INSTANCES, and the division-free cross-multiplied
    * flag. */
  private def qf10Oracle: String =
    s"""$unigramCte,
       |""".stripMargin + viterbiPathCtes + s""",
       |wpieces AS (
       |  SELECT w, unnest(string_split(rtrim(path, chr(31)), chr(31))) AS p
       |  FROM best2
       |  UNION ALL
       |  SELECT wf.w, substr(wf.w, CAST(t.i AS INT), 1) AS p
       |  FROM wf, range(1, 513) t(i)
       |  WHERE t.i <= length(wf.w)
       |    AND wf.w NOT IN (SELECT w FROM best2)),
       |wsc AS (SELECT a.w, CAST(count(*) AS BIGINT) AS nw,
       |          CAST(sum(coalesce(fs.q, -20000)) AS BIGINT) AS qw
       |        FROM wpieces a LEFT JOIN fs ON fs.p = a.p GROUP BY a.w),
       |dtok AS (SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> ''),
       |doc AS (SELECT dd.doc_id,
       |          CAST(coalesce(sum(ws.nw), 0) AS BIGINT) AS n_pieces,
       |          CAST(coalesce(sum(ws.qw), 0) AS BIGINT) AS q_logprob
       |        FROM documents dd
       |        LEFT JOIN dtok d ON d.doc_id = dd.doc_id
       |        LEFT JOIN wsc ws ON ws.w = d.w
       |        GROUP BY 1)
       |SELECT doc_id, n_pieces, q_logprob,
       |       q_logprob < -5250 * n_pieces AS flagged
       |FROM doc""".stripMargin

  private def tok11Oracle: String =
    s"""$unigramCte,
       |""".stripMargin + viterbiPathCtes + s"""
       |SELECT w AS word,
       |       replace(rtrim(path, chr(31)), chr(31), ' ') AS pieces,
       |       CAST(len(string_split(rtrim(path, chr(31)), chr(31))) AS BIGINT)
       |         AS n_pieces
       |FROM best2""".stripMargin

  /** Suffix-named fmix64 noise-walk CTE chain for the DP oracles:
    * hashes `keyExpr` (a string SQL expression over CTE `src`,
    * carrying `carry` columns through), walks the `cdf` literals,
    * ends with CTE `n{sfx}(carry, noise{sfx})`. Two differently-
    * suffixed walks coexist in one query (priv3's sum + count). */
  private def noiseWalkCtes(src: String, carry: String, keyExpr: String,
      cdf: IndexedSeq[Double], bound: Int, sfx: String): String = {
    val lits = cdf.map(_.toString).mkString(", ")
    val m64 = "18446744073709551616"
    val m32 = "4294967296"
    val c1 = 0xff51afd7ed558ccdL
    val c2 = 0xc4ceb9fe1a85ec53L
    def hi(x: Long): Long = (x >>> 32) & 0xffffffffL
    def lo(x: Long): Long = x & 0xffffffffL
    s"""h0$sfx AS (SELECT $carry,
       |    list_reduce(list_prepend(CAST(0 AS HUGEINT), ${byteFoldList(keyExpr)}),
       |      (h, b) -> (h * 31 + b) % $m64) AS h
       |  FROM $src),
       |f1$sfx AS (SELECT $carry, xor(h, h >> 33) AS h FROM h0$sfx),
       |m1$sfx AS (SELECT $carry,
       |    (h * ${lo(c1)} + ((h * ${hi(c1)}) % $m32) * $m32) % $m64 AS h
       |  FROM f1$sfx),
       |f2$sfx AS (SELECT $carry, xor(h, h >> 33) AS h FROM m1$sfx),
       |m2$sfx AS (SELECT $carry,
       |    (h * ${lo(c2)} + ((h * ${hi(c2)}) % $m32) * $m32) % $m64 AS h
       |  FROM f2$sfx),
       |hv$sfx AS (SELECT $carry, xor(h, h >> 33) AS h FROM m2$sfx),
       |n$sfx AS (SELECT $carry,
       |    len(list_filter([$lits],
       |      c -> c <= CAST(h % 9007199254740992 AS DOUBLE) / 9007199254740992.0))
       |      - $bound AS noise$sfx
       |  FROM hv$sfx)""".stripMargin
  }

  /** Shared base CTEs for the DP sum/mean oracles: the spend frame
    * (orders ⋈ customer ⋈ nation, exact integer cents), per-customer
    * totals, clip to 400M cents, midpoint-round to 16 steps of 25M,
    * per-nation step sums + unit counts, nation-domain left join.
    * Ends with `g(n_name, steps, units)`. */
  private def privStepCtes: String =
    """WITH sp AS (
      |  SELECT o.o_custkey AS cust, n.n_name,
      |         CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |pu AS (SELECT cust, n_name, CAST(sum(cents) AS BIGINT) AS s
      |       FROM sp GROUP BY 1, 2),
      |qz AS (SELECT n_name,
      |         CAST(floor((least(greatest(s, 0), 400000000) + 12500000)
      |                    / 25000000.0) AS BIGINT) AS q
      |       FROM pu),
      |gs AS (SELECT n_name, CAST(sum(q) AS BIGINT) AS steps,
      |         count(*) AS units
      |       FROM qz GROUP BY 1),
      |dom AS (SELECT DISTINCT n_name FROM nation),
      |g AS (SELECT dom.n_name, coalesce(gs.steps, 0) AS steps,
      |             coalesce(gs.units, 0) AS units
      |      FROM dom LEFT JOIN gs USING (n_name))""".stripMargin

  private def priv2Oracle: String =
    s"""$privStepCtes,
       |${noiseWalkCtes("g", "n_name, steps",
            "coalesce(n_name, chr(0)) || ':sum:42'",
            Privacy.geometricCdf(0.5 / 16, 512), 512, "s")}
       |SELECT n_name,
       |       greatest(steps + noises, 0) * 25000000 AS sum_noisy_cents
       |FROM ns""".stripMargin

  private def priv3Oracle: String =
    s"""$privStepCtes,
       |${noiseWalkCtes("g", "n_name, steps, units",
            "coalesce(n_name, chr(0)) || ':sum:42'",
            Privacy.geometricCdf(0.5 / 16, 512), 512, "s")},
       |${noiseWalkCtes("g", "n_name",
            "coalesce(n_name, chr(0)) || ':cnt:42'",
            Privacy.geometricCdf(0.5, 64), 64, "c")},
       |fin AS (
       |  SELECT s.n_name,
       |         greatest(s.units + c.noisec, 0) AS n_noisy,
       |         greatest(s.steps + s.noises, 0) * 25000000 AS sum_noisy_cents
       |  FROM ns s JOIN nc c USING (n_name))
       |SELECT n_name, n_noisy, sum_noisy_cents,
       |       CAST(sum_noisy_cents AS DOUBLE)
       |         / CAST(greatest(n_noisy, 1) AS DOUBLE) AS mean_noisy
       |FROM fin""".stripMargin

  /** priv1 oracle: the DP count release replayed — rolling-31 hash
    * of "lang:seed" (HUGEINT fold, byte-exact), 53-bit uniform
    * (2^53 divides 2^64 so the signed/unsigned residue agrees), the
    * SAME driver-computed CDF doubles as SQL literals (shortest
    * round-trip formatting parses back bit-exactly), count-below
    * walk, 0-clamp. */
  private def priv1Oracle: String = {
    val lits = Privacy.geometricCdf(0.5, 64).map(_.toString).mkString(", ")
    val m64 = "18446744073709551616"
    val m32 = "4294967296"
    val c1 = 0xff51afd7ed558ccdL
    val c2 = 0xc4ceb9fe1a85ec53L
    def hi(x: Long): Long = (x >>> 32) & 0xffffffffL
    def lo(x: Long): Long = x & 0xffffffffL
    s"""WITH dom AS (SELECT * FROM (VALUES ('de'), ('en'), ('es'), ('fr'),
       |                                   ('ja'), ('zh')) d(lang)),
       |gg AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |g AS (SELECT dom.lang, CAST(coalesce(gg.n, 0) AS BIGINT) AS n
       |      FROM dom LEFT JOIN gg USING (lang)),
       |h0 AS (SELECT lang, n,
       |        list_reduce(list_prepend(CAST(0 AS HUGEINT), ${byteFoldList("coalesce(lang, chr(0)) || ':42'")}),
       |          (h, b) -> (h * 31 + b) % $m64) AS h
       |      FROM g),
       |f1 AS (SELECT lang, n, xor(h, h >> 33) AS h FROM h0),
       |m1 AS (SELECT lang, n,
       |         (h * ${lo(c1)} + ((h * ${hi(c1)}) % $m32) * $m32) % $m64 AS h
       |       FROM f1),
       |f2 AS (SELECT lang, n, xor(h, h >> 33) AS h FROM m1),
       |m2 AS (SELECT lang, n,
       |         (h * ${lo(c2)} + ((h * ${hi(c2)}) % $m32) * $m32) % $m64 AS h
       |       FROM f2),
       |hv AS (SELECT lang, n, xor(h, h >> 33) AS h FROM m2),
       |uu AS (SELECT lang, n,
       |         CAST(h % 9007199254740992 AS DOUBLE) / 9007199254740992.0 AS u
       |       FROM hv),
       |z AS (SELECT lang, n,
       |        len(list_filter([$lits], c -> c <= u)) - 64 AS noise
       |      FROM uu)
       |SELECT lang, greatest(n + noise, 0) AS n_noisy FROM z""".stripMargin
  }

  /** (cust, n_name, cents) spend frame for the DP sum/mean releases
    * (priv2/priv3): orders joined to their customer's nation, price
    * in exact integer cents via the mirrored floor(p*100 + 0.5). The
    * privacy UNIT is the customer; nation is an attribute of the
    * unit, so groups are disjoint (the sensitivity precondition
    * dpSum checks). */
  private def privSpendFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_custkey").as("cust"), col("n_name"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).as("cents"))

  /** KMV estimator as SQL, mirroring [[Profiling.kmvEstimate]]'s
    * expression tree step for step (long→double cast, one add, one
    * divide — every op IEEE on exact inputs, so the doubles hash-
    * match unrounded). `n`/`kth` are SQL expressions. */
  private def kmvEstSql(n: String, kth: String): String =
    s"""CASE WHEN $n < 128 THEN CAST($n AS DOUBLE)
       |     WHEN $kth = (-9223372036854775807 - 1) THEN NULL
       |     ELSE 127.0 * 18446744073709551616.0
       |          / (CAST($kth AS DOUBLE) + 9223372036854775808.0) END""".stripMargin

  /** ta4/ta5's maximum-likelihood scorer over term counts
    * `tc(doc_id, term, tf)`: per-doc token count and mean log-prob. */
  private def avgLogProbSql: String =
    """model AS (SELECT term, sum(tf) AS mc FROM tc GROUP BY term),
      |tot AS (SELECT sum(mc) AS total FROM model)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |       round(sum(tf * ln(mc * 1.0 / total)) / sum(tf), 4) AS avg_logprob
      |FROM tc JOIN model USING (term), tot
      |GROUP BY doc_id""".stripMargin

  /** Tokenizer.trainVocab's vocabulary re-learned in SQL (vocabSize 64,
    * maxTokenLen 8): word counts `wcnt`, every code point, then the
    * most frequent substrings, as `vocab(tok)`. */
  private def subwordVocabCtes: String =
    """WITH RECURSIVE wcnt AS (
      |  SELECT w, count(*) AS f FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY w),
      |chars AS (SELECT DISTINCT unnest([w[i:i] for i in range(1, len(w)+1)]) AS tok
      |          FROM wcnt),
      |subs AS (
      |  SELECT unnest(flatten([[w[i:i+l-1] for l in range(2, least(8, len(w)-i+1)+1)]
      |                         for i in range(1, len(w)+1)])) AS tok, f
      |  FROM wcnt),
      |score AS (SELECT tok, sum(f) AS s FROM subs GROUP BY tok),
      |ranked AS (SELECT tok, row_number() OVER (ORDER BY s DESC, tok ASC) AS rn
      |           FROM score),
      |vocab AS (SELECT tok FROM chars
      |          UNION ALL
      |          SELECT tok FROM ranked
      |          WHERE rn <= 64 - (SELECT count(*) FROM chars)),""".stripMargin

  /** tok11's Viterbi replay over the quantized pieces `fs`: every
    * segmentation walk of each word `wf`, and `best2(w, path)`, the
    * max-score path (ties path ASC), pieces joined by chr(31). */
  private def viterbiPathCtes: String =
    """walk2 AS (
      |  SELECT w, CAST(0 AS BIGINT) AS done, CAST(0 AS BIGINT) AS sc,
      |         '' AS path
      |  FROM wf
      |  UNION ALL
      |  SELECT r.w, r.done + s.len, r.sc + s.q, r.path || s.p || chr(31)
      |  FROM walk2 r JOIN fs s
      |    ON r.done + s.len <= length(r.w)
      |   AND substr(r.w, CAST(r.done + 1 AS INT), CAST(s.len AS INT)) = s.p),
      |best2 AS (SELECT w, path FROM (
      |    SELECT w, path, row_number() OVER (PARTITION BY w
      |      ORDER BY sc DESC, path ASC) AS rn
      |    FROM walk2 WHERE done = length(w)) WHERE rn = 1)""".stripMargin

  /** Lowercased whitespace tokens `toks` and per-doc term counts
    * `tc(doc_id, term, tf)`. */
  private def termCountCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tc AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks
      |  WHERE term <> '' GROUP BY doc_id, term),""".stripMargin
}
