package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the properties that decide whether these
  * operators survive a 100 TB scale-up — column pruning and predicate
  * pushdown into the parquet scan, broadcast of small dimensions,
  * partial (map-side) aggregation, whole-stage codegen on the hot
  * expressions. A green result that scans every column or shuffles a
  * dimension table would pass a value check and still be wrong; these
  * tests fail it.
  */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf())
    df.queryExecution.executedPlan.toString
  }

  test("s1 projection is pruned at the parquet scan") {
    val p = planOf("s1_scan_project")
    assert(p.contains("ReadSchema"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_partkey"))
  }

  test("f1 predicate reaches the scan as a pushed filter") {
    val p = planOf("f1_filter_where")
    assert(p.contains("PushedFilters: ["))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("o_totalprice") && pushed.contains("o_orderstatus"))
  }

  test("agg1 pushes the date filter and aggregates partially before the shuffle") {
    val df = SparkEntry.queries("agg1_pricing_summary")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_shipdate")))
    // partial agg (map-side combine) must appear below the exchange
    assert(p.contains("HashAggregate(keys=[l_returnflag"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("j1 broadcasts the nation dimension instead of shuffling it") {
    val p = planOf("j1_join_agg")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("text sketch expressions run inside whole-stage codegen") {
    val df = SparkEntry.queries("ta3_fingerprint")(spark, sf())
    df.collect() // force codegen to actually compile
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" is the whole-stage-codegen stage marker on the node that
    // evaluates the custom expressions
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("rolling_hash")))
    assert(!p.contains("CodegenFallback"))
  }

  test("rep2 token dedup kernel runs inside whole-stage codegen, no shuffle") {
    val df = SparkEntry.queries("rep2_intra_doc_dedup")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(")
      && l.contains("dedup_tokens_in_doc")))
    assert(!p.contains("CodegenFallback"))
    assert(!p.contains("Exchange")) // row-local: scan -> project, nothing else
  }

  test("mb1 pair join is basket-keyed: no cartesian, margins broadcast") {
    val df = SparkEntry.queries("mb1_association_rules")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange")) // margins + basket total
  }

  test("mix4 global rank never funnels through a single partition") {
    val df = SparkEntry.queries("mix4_curriculum")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), s"global window:\n$p")
    assert(p.contains("hashpartitioning")) // bucketed prefix-sum window
  }

  test("hh2 counter table broadcasts; stats aggregates are map-side partial") {
    val cms = SparkEntry.queries("hh2_countmin")(spark, sf())
    assert(cms.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    // ab1's single aggregate carries partial_ conditional sums
    val ab = SparkEntry.queries("ab1_welch_ttest")(spark, sf())
    assert(ab.queryExecution.executedPlan.toString.contains("partial_"))
  }

  test("geo2 radius join buckets on grid cells — no cartesian anywhere") {
    val df = SparkEntry.queries("geo2_pairs_within")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("kmeans2 silhouette is projection + one aggregate, no join stage") {
    val df = SparkEntry.queries("kmeans2_silhouette")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join")) // centroids are literals, not a frame
  }

  test("dd4 auto-dispatch picks the bitset path on the closed-vocab corpus") {
    // the sample gate detects the synthetic corpus's ~30-word
    // vocabulary and routes to the salted popcount path (measured 10x
    // over prefix there); never a cartesian product
    val df = SparkEntry.queries("dd4_ngram_jaccard")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("__salt"))
    assert(!p.contains("CartesianProduct"))
  }

  test("auto on open-vocab data routes to the prefix join; no full-corpus pass") {
    val d = spark.range(1200)
      .select(col("id").as("doc_id"),
        concat(lit("w"), col("id"), lit(" w"), col("id") + 10000).as("text"),
        lit(1).as("blk"))
    val df = graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.5)
    val p = df.queryExecution.executedPlan.toString
    // inverted-index token join, not the salted all-pairs self-join
    assert(p.contains("tok"))
    assert(!p.contains("__salt"))
    assert(!p.contains("CartesianProduct"))
    // r14: the fused shingle-hash base is computed ONCE and
    // materialized (lazy localCheckpoint) — the final plan reads it
    // back as an RDD scan instead of re-deriving it per consumer
    // (DF-rank collect, both prefix sides, both verify sides); the
    // codegen verify kernel still runs in THIS plan
    assert(p.contains("ExistingRDD"))
    assert(p.contains("sorted_intersect_count"))
    assert(!p.contains("CodegenFallback"))
    // r15 (advisor note): the checkpoint hides the shingle-hash scan
    // stage from the final plan, so the codegen contract for THAT
    // stage must be pinned on the pre-checkpoint subplan — build the
    // base frame directly and assert the fused kernel plans inside
    // whole-stage codegen with no fallback
    val basePlan = graft.operators.Dedup
      .hashedShingleBase(d, "doc_id", "text", Seq("blk"), 1)
      .queryExecution.executedPlan.toString
    assert(basePlan.contains("sorted_shingle_hashes"))
    assert(!basePlan.contains("CodegenFallback"))
    assert(basePlan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("sorted_shingle_hashes")))
  }

  test("LSH signature and verify stages stay inside codegen (no HOF fallback)") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val df = graft.operators.Dedup.minhashLshPairs(d, "doc_id", "text",
      shingleSize = 3, numHashes = 32, numBands = 8, threshold = 0.5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("minhash_band_buckets_text"))
    assert(p.contains("sorted_intersect_count"))
    // the only CodegenFallback allowed is the bounded in-bucket pair
    // generation (array HOFs over collected id lists, once per bucket,
    // not per pair) — the per-doc and per-pair kernels must be codegen
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("minhash_band_buckets_text")))
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("sorted_intersect_count")))
  }

  test("auto with a closed vocabHint builds its plan without running any job") {
    val d = spark.range(64)
      .select(col("id").as("doc_id"), lit("a b c").as("text"), lit(1).as("blk"))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.5,
      vocabHint = Some(Seq("a", "b", "c")))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "hinted dispatch must not probe the corpus")
  }

  test("all-pairs jaccard block join is salted: parallelism >> number of blocks") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val df = graft.operators.Dedup.allPairsJaccard(d, "doc_id", "text",
      blockCols = Seq("lang"), shingleSize = 1, threshold = 0.0)
    // 5 language blocks * 32 salts = 160 effective join keys; assert
    // the salt column made it into the join keys
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("__salt"))
  }

  test("ANN dot-product kernel runs inside whole-stage codegen") {
    val df = SparkEntry.queries("sim1_bruteforce_topk")(spark, sf())
    df.collect() // force codegen to actually compile
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("dot_product")))
    assert(!p.contains("CodegenFallback"))
  }

  test("m4 upsert anti join broadcasts the staging key set") {
    val df = SparkEntry.queries("m4_upsert_dataframe")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("pii1/qf1 scrub and gate are shuffle-free single-pass projections") {
    // PII scrubbing and the row-local quality gate must fuse into the
    // scan: at 100 TB an accidental exchange here doubles the job
    for (name <- Seq("pii1_redact", "qf1_quality_gate")) {
      val df = SparkEntry.queries(name)(spark, sf())
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
    }
  }

  test("pack1 prefix sum never runs a global single-partition window") {
    val df = SparkEntry.queries("pack1_shards")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // every window must carry a partition key (the range bucket);
    // windowspecdefinition(...) with a leading order-only spec would
    // mean the whole corpus funnels through one task
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty)
    assert(specs.forall(_.contains("__bucket")),
      s"window without bucket partition key:\n$p")
    // and the offsets come back as a broadcast join, not a shuffle join
    assert(p.contains("BroadcastHashJoin"))
  }

  test("tf1 aggregates partially before each shuffle (map-side combine)") {
    val df = SparkEntry.queries("tf1_top_terms")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // tf and df stages: both HashAggregates appear in partial+final
    // pairs (>= 4 nodes), never a single post-shuffle aggregate
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("tf1 builds its plan without running any job (N is a broadcast frame)") {
    // tfidf used to call df.count() on the driver — an extra full
    // corpus pass at 100 TB; N must now ride in lazily like
    // ngramLogProb's corpus total. In-memory input isolates the
    // operator from the parquet footer-read job.
    val d = spark.range(100)
      .select(col("id").as("doc_id"), lit("a b c").as("text"))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    graft.operators.Scoring.topTerms(d, "doc_id", "text", 3)
      .queryExecution.executedPlan
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "tfidf plan construction must not run a job")
  }

  test("rep1 repetition stats are a shuffle-free codegen projection") {
    // the fused RepetitionStats kernel replaced explode -> two
    // corpus-wide gram-string shuffles; nothing may leave the row
    val df = SparkEntry.queries("rep1_repetition")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"rep1 must not shuffle:\n$p")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("repetition_stats")))
    assert(!p.contains("CodegenFallback"))
  }

  test("dd8 bloom probe filters inside codegen before the verify join's shuffle") {
    val df = SparkEntry.queries("dd8_decontaminate")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the membership probe is a codegen'd Filter on the train side
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("bloom_might_contain_long")))
    assert(!p.contains("CodegenFallback"))
  }

  test("dd3 simhash pairs stream through a bucket join, no per-bucket array") {
    // collect_list + array pair expansion would materialize O(q^2)
    // structs in one row for a big bucket; the pair set must come
    // from a join
    val df = SparkEntry.queries("dd3_dedup_simhash")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("collect_list"), s"dd3 must not collect buckets:\n$p")
    assert(p.contains("Join"))
  }

  test("j3 binned range join is an equi-join on bins, never a nested loop") {
    val p = planOf("j3_range_join")
    assert(p.contains("__bin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // quantity/priority filters reach the scans
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_quantity")))
  }

  test("pp1 prunes partitions statically; pp2 prunes them dynamically via the dim join") {
    val p1 = planOf("pp1_partition_prune")
    assert(p1.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("l_month")), p1)
    val df2 = SparkEntry.queries("pp2_dynamic_prune")(spark, sf())
    df2.collect()
    val p2 = df2.queryExecution.executedPlan.toString
    assert(p2.toLowerCase.contains("dynamicpruning"),
      s"pp2 must inject a runtime partition filter:\n$p2")
  }

  test("qf5 blocklist scan is a shuffle-free codegen projection") {
    val df = SparkEntry.queries("qf5_blocklist")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"qf5 must not shuffle:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("multi_pattern_scan")), p)
    assert(!p.contains("CodegenFallback"))
  }

  test("j7 two-sided overlap join is an equi-join on bins, never a nested loop") {
    val p = planOf("j7_interval_overlap")
    assert(p.contains("__lbin") || p.contains("__rbin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_quantity")))
  }

  test("j8 bloom probe prefilters the fact side in codegen before its exchange") {
    // with broadcast off, the join must shuffle — and the bloom probe
    // must sit on the fact scan side, not after the exchange
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val df = SparkEntry.queries("j8_bloom_join")(spark, sf())
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
        l.contains("*(") && l.contains("bloom_might_contain_long")), p)
      assert(!p.contains("CodegenFallback"))
      // the probe sits BELOW a shuffle: in the textual plan tree the
      // filter line appears under an Exchange printed above it
      val lines = p.linesIterator.toVector
      val bloomIdx = lines.indexWhere(_.contains("bloom_might_contain_long"))
      val exchangeAbove = lines.take(bloomIdx).exists(_.contains("Exchange"))
      assert(exchangeAbove, s"bloom probe must feed an exchange above it:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q3 six-way join broadcasts the dimensions; q4 EXISTS plans as a semi join") {
    val q3 = planOf("q5_local_supplier_volume")
    assert(q3.contains("BroadcastHashJoin") || q3.contains("BroadcastExchange"), q3)
    assert(!q3.contains("CartesianProduct") && !q3.contains("BroadcastNestedLoopJoin"))
    // the date filter reaches the orders scan
    assert(q3.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("o_orderdate")))
    val q4 = planOf("q4_order_priority")
    assert(q4.contains("LeftSemi"), q4) // EXISTS must not materialize matches
  }

  test("ch1 chunking is a shuffle-free codegen generate over the scan") {
    // chunking is the map-only stage before packing: at 100 TB an
    // exchange here would reshuffle the whole corpus for a row-local op
    val df = SparkEntry.queries("ch1_chunk_documents")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"ch1 must not shuffle:\n$p")
    assert(p.contains("chunk_tokens"))
    assert(!p.contains("CodegenFallback"))
  }

  test("subword tokenizer kernels run inside codegen; ch2 never shuffles") {
    // tok1: the greedy matcher is a codegen expression, not a UDF
    val df = SparkEntry.queries("tok1_subword_tokens")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("subword_count")), p)
    assert(!p.contains("CodegenFallback"))
    // ch2: like ch1, chunking is a map-only generate over the scan
    // (r6: re-based onto the merge-faithful BPE kernel)
    val ch = SparkEntry.queries("ch2_subword_chunks")(spark, sf())
    ch.collect()
    val cp = ch.queryExecution.executedPlan.toString
    assert(!cp.contains("Exchange"), s"ch2 must not shuffle:\n$cp")
    assert(cp.contains("bpe_chunks"))
    assert(!cp.contains("CodegenFallback"))
  }

  test("dd10 probes the bloom filter inside codegen before any exchange") {
    val df = SparkEntry.queries("dd10_contaminated_spans")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("bloom_might_contain_long")))
    assert(!p.contains("CodegenFallback"))
    // run detection partitions by the contaminated pair, never order-only
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty)
    assert(specs.forall(s => s.contains("train_id") && s.contains("eval_id")),
      s"window must partition by (train_id, eval_id):\n$p")
  }

  test("new TPC-H shapes broadcast dims and plan subqueries as joins, not loops") {
    val q8 = planOf("q8_market_share")
    assert(q8.contains("BroadcastHashJoin"))
    assert(q8.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("p_type")))
    assert(!q8.contains("CartesianProduct") && !q8.contains("BroadcastNestedLoopJoin"))
    // the 1-row max frame joins as a broadcast equi-join, never a loop
    val q15 = planOf("q15_top_supplier")
    assert(q15.contains("BroadcastHashJoin"))
    assert(!q15.contains("CartesianProduct") && !q15.contains("BroadcastNestedLoopJoin"))
    // both part-key membership tests plan as broadcast semi joins
    val q17 = planOf("q17_small_quantity")
    assert("LeftSemi".r.findAllIn(q17).size >= 2)
    assert(q17.contains("BroadcastHashJoin"))
    assert(!q17.contains("CartesianProduct"))
    // no-order customers prune through an anti join; the global
    // average rides in as a deliberate 1-row broadcast
    val q22 = planOf("q22_global_balance")
    assert(q22.contains("LeftAnti"))
    assert(q22.contains("BroadcastExchange"))
  }

  test("partsupp-fixture TPC-H shapes: broadcasts where small, no loop joins") {
    // the fixture's supplier-count frame joins as a deliberate 1-row
    // broadcast cross (the documented scalar-rider pattern), so only
    // an unbounded CartesianProduct would be a defect here
    val q9 = planOf("q9_product_profit")
    assert(q9.contains("BroadcastHashJoin"))
    assert(!q9.contains("CartesianProduct"))
    // the inventory total must ride back in as a broadcast, and the
    // flagged-supplier NOT IN must plan as an anti join
    val q11 = planOf("q11_important_stock")
    assert(q11.contains("BroadcastExchange"))
    assert(!q11.contains("CartesianProduct"))
    val q16 = planOf("q16_supplier_relationship")
    assert(q16.contains("LeftAnti"))
    assert(!q16.contains("CartesianProduct"))
  }

  test("kmeans assignment is a projection: no join, no exchange, codegen dot kernel") {
    val df = SparkEntry.queries("kmeans1_embedding_clusters")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the centroids ride into the pq_argmin kernel: the final
    // assignment pass must be scan -> project, with the dot products
    // inside that codegen kernel, not an unrolled per-centroid tree
    assert(!p.contains("Exchange"), s"assignment pass shuffles:\n$p")
    assert(!p.contains("Join"), s"assignment pass joins:\n$p")
    assert(p.contains("pq_argmin"))
    assert(!p.contains("array_min"))
    assert(!p.contains("CodegenFallback"))
    // the shuffle budget of the sampler: one exchange for the rank
    // window keyed by cluster, still no join against the corpus
    val dv = SparkEntry.queries("div1_diversity_sample")(spark, sf())
    val pd = dv.queryExecution.executedPlan.toString
    assert(!pd.contains("Join"))
    assert(!pd.contains("CartesianProduct"))
  }

  test("shuf1 windows partition by (epoch, shard), never a global sort") {
    val df = SparkEntry.queries("shuf1_epoch_shuffle")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the position window must hash-partition on the composite key —
    // a SinglePartition window would serialize the whole corpus
    assert(p.contains("hashpartitioning"))
    assert(!p.contains("SinglePartition"), s"global window:\n$p")
    assert(!p.contains("Join"))
  }

  test("dd15 elects paragraph winners on a hash-keyed window, no self-join") {
    val df = SparkEntry.queries("dd15_paragraph_dedup")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the winner election shuffles by the 64-bit paragraph hash
    // (projected as the _w0 window partition column), not by raw
    // text, and there is no pairwise join anywhere
    assert(p.linesIterator.exists(l => l.contains("xxhash64") && l.contains("_w")))
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("_w")))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("ta6 winnowing is a shuffle-free codegen generate over the scan") {
    val df = SparkEntry.queries("ta6_winnow_fingerprints")(spark, sf())
    df.collect() // force codegen compilation
    val p = df.queryExecution.executedPlan.toString
    // fingerprint selection happens in the fused kernel at the scan:
    // no exchange, no join, no window — at 100 TB only the selected
    // ~2/(w+1) density ever leaves the stage
    assert(!p.contains("Exchange"), s"winnowing must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("winnow_fingerprints")))
    assert(!p.contains("CodegenFallback"))
  }

  test("dd18 hot-span excision windows per doc and never shuffles text") {
    val df = SparkEntry.queries("dd18_hot_span_excision")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the islands window partitions by train_id over MATCHED positions
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("train_id")))
    assert(!p.contains("SinglePartition"), s"global window:\n$p")
    // gram traffic is 8-byte hashes: no exchange row carries the text
    // column (text appears only in scan/project/local nodes)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(l => !l.contains("text#")),
      s"text must never shuffle:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"))
  }

  test("dd23 duplicate-substring excision shuffles anchors, never text, " +
      "never a nested loop") {
    val df = SparkEntry.queries("dd23_substring_excision")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // same contract as dd18: anchor traffic is (id, pos, hash)
    // triples; the corpus text stays in scan/project/local nodes
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(l => !l.contains("text#")),
      s"text must never shuffle:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // the islands window is per-doc, never a global single partition
    assert(!p.contains("SinglePartition"), s"global window:\n$p")
  }

  test("qf10 unigram-LM gate is a shuffle-free codegen projection") {
    val df = SparkEntry.queries("qf10_unigram_lm_gate")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"qf10 must not shuffle:\n$p")
    assert(!p.contains("Join"), s"qf10 must not join:\n$p")
    assert(p.contains("unigram_tokens"))
    assert(!p.contains("CodegenFallback"))
  }

  test("pf10 KMV rank filter pushes down as a per-partition group limit") {
    val df = SparkEntry.queries("pf10_kmv_vocab")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the rank<=k filter must become WindowGroupLimit (present on both
    // sides of the exchange in Spark's Partial/Final pair) so map
    // tasks forward at most k rows per group — without it every
    // distinct hash sorts through the window at 100 TB
    assert(p.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$p")
    // hash traffic only: no exchange row carries the text column
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(l => !l.contains("text#")),
      s"text must never shuffle:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"))
  }

  test("tok5 BPE id encoding is a shuffle-free codegen projection") {
    val df = SparkEntry.queries("tok5_bpe_token_ids")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // one tokenize pass + literal-map lookup: no exchange, no join
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("bpe_tokens"))
  }

  test("row-local round-8 ops are exchange-free projections") {
    // phrase search, line repetition, link extraction, JL projection,
    // OOV stats: all row-local — any Exchange is a defect
    for (q <- Seq("ir3_phrase_match", "rep3_line_repetition",
        "html2_extract_links", "emb3_jl_project", "tok12_oov_rate")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q should be shuffle-free:\n$p")
    }
  }

  test("ed2 deletion join is key-equi, sky1 window never single-partition") {
    val ed2 = planOf("ed2_deletion_join")
    assert(!ed2.contains("CartesianProduct") &&
      !ed2.contains("BroadcastNestedLoopJoin"), s"ed2:\n$ed2")
    val sky = planOf("sky1_pareto_front")
    assert(!sky.contains("SinglePartition"), s"global window:\n$sky")
    assert(!sky.contains("CartesianProduct"))
    assert(sky.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("__bucket")),
      s"bucketed running max missing:\n$sky")
  }

  test("eval4/eval5 overlap stats are keyed joins — never a nested loop") {
    // the clipped-match core's full-outer gram join and the pair join
    // must both be hash/merge equi-joins; an all-pairs gram compare
    // would be quadratic in corpus size
    for (q <- Seq("eval4_bleu", "eval5_rouge_n")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q global stage:\n$p")
    }
  }

  test("sim19 skew report: bounded broadcast loops, no shuffled cartesian") {
    // the monitor's only pass over index rows is ONE hashAggregate per
    // occupancy frame; the Gini |ni−nj| sweep is a crossJoin of two
    // ≤nCentroids frames and must plan as a BROADCAST nested loop
    // (bounded side shipped), never a shuffled CartesianProduct.
    // (SinglePartition DOES appear — the final step of the scalar
    // count/sum/max aggregates over ≤nCentroids partials — and is the
    // correct plan for a 1-row result; the index-sized input never
    // crosses it.)
    val p = planOf("sim19_ivf_list_skew")
    assert(!p.contains("CartesianProduct"), s"sim19:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"bounded loop missing:\n$p")
  }

  test("mem1 audit: bloom prefilter rides the gen scan before the gram join") {
    // generations must stream through the codegen bloom_might_contain
    // BEFORE any exchange (the corpus-side distinct set is the only
    // join input), and nothing may plan as a nested loop
    val p = planOf("mem1_novelty_audit")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"mem1:\n$p")
    assert(p.contains("bloom_might_contain"), s"prefilter missing:\n$p")
  }

  test("mem2/mem3 paraphrase audits: bloom prefilter, keyed joins only") {
    // same scale contract as mem1 for the winnowed-fingerprint forms:
    // the generation side streams through the codegen Bloom before
    // the exact-verify join on the fingerprint string; no pairwise
    // doc x doc shape may ever plan
    for (q <- Seq("mem2_paraphrase_audit", "mem3_paraphrase_spans")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(p.contains("bloom_might_contain"), s"$q prefilter missing:\n$p")
    }
    // mem2 materializes its fingerprint frames (localCheckpoint: the
    // winnow kernel runs ONCE, shared by totals and hits), so the
    // kernel is absent from its final plan by design; mem3's gen side
    // is single-consumer and must show the kernel inline in codegen
    assert(planOf("mem3_paraphrase_spans").contains("winnow_fingerprints"),
      s"mem3 kernel missing:\n${planOf("mem3_paraphrase_spans")}")
    // mem3's island detection windows per generation — a global
    // (single-partition) window would serialize the corpus
    val p3 = planOf("mem3_paraphrase_spans")
    assert(!p3.contains("Window [") ||
      !p3.contains("SinglePartition"), s"mem3 global window:\n$p3")
  }

  test("r10 governance/construction queries: keyed joins and map-only shapes") {
    // ovl1: the gram self-join stays keyed (no shuffled cartesian);
    // its only loop join is the broadcast pair SPINE over the S-row
    // totals frame (bounded by source count — the sim19 class)
    val po = planOf("ovl1_source_overlap")
    assert(!po.contains("CartesianProduct"), s"ovl1:\n$po")
    // dq11: strictly keyed, no loop join of any kind
    val pd = planOf("dq11_source_dup_rate")
    assert(!pd.contains("CartesianProduct") &&
      !pd.contains("BroadcastNestedLoopJoin"), s"dq11:\n$pd")
    // fim1 is a pure row-local projection: no exchange anywhere
    val pf = planOf("fim1_fill_in_middle")
    assert(!pf.contains("Exchange"), s"fim1 shuffles:\n$pf")
  }

  test("r11 sketch/manifest/MMR queries: partial aggregation, keyed joins") {
    // qsk1: the KLL TypedImperativeAggregate must aggregate PARTIALLY
    // before the shuffle (ObjectHashAggregate partial + final) — the
    // whole point of a mergeable sketch is that only O(k)-byte states
    // cross the exchange, never values
    val pq = planOf("qsk1_kll_quantiles")
    assert("ObjectHashAggregate".r.findAllIn(pq).size >= 2, s"qsk1:\n$pq")
    assert(pq.contains("partial_kll_sketch") || pq.contains("kll_sketch"),
      s"qsk1 sketch agg missing:\n$pq")
    // man1: one partial-agg pass over the corpus, no join anywhere
    val pm = planOf("man1_shard_manifest")
    assert("HashAggregate".r.findAllIn(pm).size >= 2, s"man1:\n$pm")
    assert(!pm.contains("Join"), s"man1 joins:\n$pm")
    // mmr1: candidate-pair frames are localCheckpoint-pinned, so the
    // final plan must read scans/in-memory relations with keyed joins
    // only — a cartesian or nested-loop would mean a pool^2 blowup
    // re-derived per round instead of the pinned bounded frame
    val px = planOf("mmr1_diversified_topk")
    assert(!px.contains("CartesianProduct") &&
      !px.contains("BroadcastNestedLoopJoin"), s"mmr1:\n$px")
  }
}
