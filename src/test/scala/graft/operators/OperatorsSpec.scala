package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),      // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "unrelated text mentioning training data pipelines")
  ).toDF("doc_id", "text")

  test("paragraph dedup keeps first occurrence, reassembles, drops empty docs") {
    val paraDocs = Seq(
      (1L, "alpha one\n\nshared body\n\nomega one"),
      (2L, "alpha two\n\nshared body\n\nomega two"),   // middle para dup of 1
      (3L, "shared body"),                              // entire doc already seen
      (4L, "alpha one\n\nfresh tail")                   // first para dup of 1
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(paraDocs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L)) // doc 3 fully excised
    assert(out(0) == ((1L, "alpha one\n\nshared body\n\nomega one", 3L, 0L)))
    assert(out(1) == ((2L, "alpha two\n\nomega two", 2L, 1L)))
    assert(out(2) == ((4L, "fresh tail", 1L, 1L)))
  }

  test("exact dedup keeps min id per distinct content with counts") {
    val out = Dedup.exact(docs, "doc_id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2)       // docs 1+2 collapse, survivor = 1
    assert(out.size == 4)
    val survivors = Dedup.exactSurvivors(docs, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L, 4L, 5L))
  }

  test("tokenSortDedup collapses word-order shuffles, not word changes") {
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "fox brown the quick"),     // reorder of 1 -> same bag
      (3L, "The  QUICK brown fox"),    // case/whitespace noise -> same bag
      (4L, "the quick brown wolf"),    // different word -> own bag
      (5L, "the the quick brown fox")) // different multiset -> own bag
      .toDF("doc_id", "text")
    val out = Dedup.tokenSortDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
  }

  test("containmentPairs is directed: the small doc inside the big one") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),                       // A ⊂ B
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text",
      shingleSize = 2, threshold = 0.8, maxGramDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("containment")).toMap
    // A's 3 bigrams all inside B -> containment 1.0; B in A only 3/7
    assert(out == Map((1L, 2L) -> 1.0))
  }

  test("containmentPairs df cap drops boilerplate grams from both sides") {
    // 'x y' appears in every doc: with cap 2 it can't pair anything
    val df = Seq((1L, "x y"), (2L, "x y"), (3L, "x y")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(df, "doc_id", "text", 2, 0.5, 2).count() == 0)
    // raise the cap and all pairs appear, both directions
    assert(Dedup.containmentPairs(df, "doc_id", "text", 2, 0.5, 3).count() == 6)
  }

  test("minhash LSH finds the planted near-duplicate pair and the exact pair") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, numBands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash jaccard verification is exact (dup pair scores 1.0)") {
    val j = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, numBands = 16, threshold = 0.5)
      .filter("id_a = 1 AND id_b = 2").select("jaccard").first().getDouble(0)
    assert(j == 1.0)
  }

  test("band store version guard: untagged, mixed, and mismatched-param " +
      "stores are refused; matching store still probes") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely different document body here"))
      .toDF("doc_id", "text")
    val probe = Seq((9L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val (bands, shingles) = Dedup.signatureStore(docs, "doc_id", "text")
    // the happy path: current-generation store probes fine
    val dup = Dedup.incrementalDedup(probe, bands, shingles,
      "doc_id", "text").collect()
    assert(dup.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((9L, 1L)))
    // pre-tag store (no sig_algo column at all)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(probe, bands.drop("sig_algo"), shingles,
        "doc_id", "text").collect()
    }
    assert(e1.getMessage.contains("sig_algo"))
    // parameter mismatch: a store built under different banding is
    // NOT "no duplicates found", it's an error
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(probe, bands, shingles,
        "doc_id", "text", numBands = 8).collect()
    }
    assert(e2.getMessage.contains("rebuild"))
    // mixed store: an untagged append alongside tagged rows (nulls
    // would slip past min/max alone — the count pair catches them)
    val mixed = bands.unionByName(
      bands.limit(1).withColumn("sig_algo", lit(null: String)))
    val e3 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(probe, mixed, shingles, "doc_id", "text").collect()
    }
    assert(e3.getMessage.contains("untagged"))
    // stale shingle store is guarded independently of the band store
    val e4 = intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(probe, bands,
        shingles.withColumn("sig_algo", lit("minhash-shingles/xxh64-v0/s3")),
        "doc_id", "text").collect()
    }
    assert(e4.getMessage.contains("rebuild"))
  }

  test("simhash pairs catch exact and near duplicates, not strangers") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("blockedFuzzyPairs links typo variants through shared tokens, gates big blocks") {
    val recs = Seq(
      (1L, "John Smith"), (2L, "Jon Smith"),    // shared 'smith', dist 1
      (3L, "John Smyth"),                       // shared 'john' w/ 1, dist 1
      (4L, "Mary Jones"), (5L, "Mary Johnson"), // shared 'mary', dist 3 -> out
      (6L, "Zed Qux"))                          // no shared token
      .toDF("id", "name")
    val out = Dedup.blockedFuzzyPairs(recs, "id", "name", maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (2,3) share NO token ("jon smith" vs "john smyth") — the recall
    // contract: only same-block pairs are candidates
    assert(out == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L))
    // an oversized block is a non-discriminative key: gate at 3 drops
    // the 4-member 'dupe' block entirely
    val big = (1L to 4L).map(i => (i, s"dupe n$i")).toDF("id", "name")
    assert(Dedup.blockedFuzzyPairs(big, "id", "name",
      maxDistance = 2, maxBlockSize = 3).count() == 0)
  }

  test("softDedupWeights: inverse cluster size, singletons weight 1") {
    val allDocs = Seq(1L, 2L, 3L, 4L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.softDedupWeights(allDocs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((1L, 3L, 0.333333)))
    assert(out(2L) == ((1L, 3L, 0.333333)))  // transitive via 2
    assert(out(3L) == ((1L, 3L, 0.333333)))
    assert(out(4L) == ((4L, 1L, 1.0)))       // unmatched singleton
    // total training mass = number of distinct contents (weights are
    // rounded to 6 places, so the sum is off by up to cluster_size ulps)
    assert(math.abs(out.values.map(_._3).sum - 2.0) < 1e-5)
  }

  test("deletionNeighborhoodPairs == brute-force levenshtein at k=1 and k=2") {
    // single-token strings: token blocking has NO shared-token signal
    // here — the deletion keys are the only recall path
    val words = Seq("cat", "car", "cart", "act", "dog", "dogs", "dg",
      "xylophone", "a", "ab").map(Tuple1(_)).toDF("word")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = words.collect().map(_.getString(0)).toSeq
    def brute(k: Int) = (for {
      a <- vocab; b <- vocab if a < b && lev(a, b) <= k
    } yield (a, b, lev(a, b).toLong)).toSet
    for (k <- Seq(1, 2)) {
      val got = Dedup.deletionNeighborhoodPairs(words, "word", maxDistance = k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == brute(k), s"k=$k")
    }
  }

  test("deletionNeighborhoodPairs normalizes case/whitespace and dedups variants") {
    val words = Seq(" Cat ", "cat", "CAT", "bat").map(Tuple1(_)).toDF("word")
    val got = Dedup.deletionNeighborhoodPairs(words, "word")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // the three cat spellings collapse to ONE vocab entry — no self
    // pair, one (bat, cat) pair
    assert(got == Set(("bat", "cat", 1L)))
  }

  test("goldenRecords: transitive closure, shortest-name election, singleton survival") {
    val recs = Seq(
      (1L, "John Smith"), (2L, "Jon Smith"), (3L, "John Smyth"), // one entity
      (4L, "Mary Jones"), (5L, "Mary Johnson"),                  // two (dist 3)
      (6L, "Zed Qux"))                                           // singleton
      .toDF("id", "name")
    val pairs = Dedup.blockedFuzzyPairs(recs, "id", "name", maxDistance = 2)
    val out = Dedup.goldenRecords(recs, "id", "name", pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    // {1,2,3} close transitively through 1 even though (2,3) never paired;
    // "Jon Smith" (9 chars) beats the two 10-char variants
    assert(out(1L) == ((2L, "Jon Smith", 3L)))
    // unmatched records each survive as their own entity
    assert(out(4L) == ((4L, "Mary Jones", 1L)))
    assert(out(5L) == ((5L, "Mary Johnson", 1L)))
    assert(out(6L) == ((6L, "Zed Qux", 1L)))
    assert(out.size == 4)
  }

  test("hammingPairs blocks any 64-bit signature, recall exact within 3 bits") {
    // planted signatures: 1/2 differ by 2 bits, 3 by one flipped
    // 16-bit chunk (hamming 16 but 3 chunks shared), 4 is far
    val sigs = Seq(
      (1L, 0x0123456789ABCDEFL),
      (2L, 0x0123456789ABCDECL), // low 2 bits flipped vs 1
      (3L, 0x0123456789ABFFFFL), // low chunk replaced vs 1
      (4L, 0x7EDCBA9876543210L))
      .toDF("id", "sig")
    val close = Dedup.hammingPairs(sigs, "id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(close.keySet == Set((1L, 2L)))
    assert(close((1L, 2L)) == 2)
    val wide = Dedup.hammingPairs(sigs, "id", "sig", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((1L, 3L)) && wide.contains((1L, 2L)))
    assert(!wide.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard with blocking computes exact similarity") {
    val blocked = docs.withColumn("blk", lit(1))
    val out = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) == (7.0 / 9.0))  // 8-word sets sharing 7
  }

  test("prefix-filtered jaccard equals the all-pairs result exactly (sf0.001)") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(2)).setScale(12,
        BigDecimal.RoundingMode.HALF_UP), r.getString(3))
    val all = Dedup.allPairsJaccard(d, "doc_id", "text",
      blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5)
      .collect().map(key).toSet
    val pref = Dedup.prefixJaccardPairs(d, "doc_id", "text",
      blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5)
      .collect().map(key).toSet
    assert(all.nonEmpty)
    assert(pref == all)
  }

  test("prefix filter stays exact when the vocab map truncates (topVocab=4)") {
    val blocked = docs.withColumn("blk", lit(1))
    val all = Dedup.allPairsJaccard(blocked, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pref = Dedup.prefixJaccardPairs(blocked, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.3, topVocab = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pref == all)
  }

  test("over-cap buckets degrade to star expansion, not a silent drop") {
    val clones = (1L to 6L).map(i => (i, "identical text repeated for every clone row here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(clones, "doc_id", "text",
      shingleSize = 2, numHashes = 32, numBands = 16, threshold = 0.5,
      maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucket of 6 > cap 3: star around the minimum keeps every clone
    // connected to doc 1 (quadratic all-pairs would be 15 pairs)
    assert(pairs == (2L to 6L).map(i => (1L, i)).toSet)
  }

  test("simhash over-cap buckets degrade to star expansion, not a silent drop") {
    val clones = (1L to 6L).map(i => (i, "identical text repeated for every clone row here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(clones, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every chunk bucket holds all 6 clones (> cap 3): the star keeps
    // each clone connected to doc 1 instead of dropping the bucket
    assert(pairs == (2L to 6L).map(i => (1L, i)).toSet)
  }

  test("dedupCorpusKeepBest keeps the best-scored copy at both stages") {
    // 1=2 exact dups (2 higher quality); 3 near-dup of them (highest
    // quality -> survives the cluster); 4 unrelated
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 0.2),
      (2L, "the quick brown fox jumps over the lazy dog", 0.9),
      (3L, "the quick brown fox jumps over the lazy cat", 0.95),
      (4L, "completely different content about spark engines", 0.1))
      .toDF("doc_id", "text", "quality")
    val kept = Dedup.dedupCorpusKeepBest(corpus, "doc_id", "text", "quality",
      shingleSize = 2, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact stage keeps 2 (not min-id 1); near-dup cluster {2,3} keeps 3
    assert(kept == Set(3L, 4L))
  }

  test("clustersKeepBest keeps the highest-scored member, ties to min id") {
    // clusters: {1,2,3} and {10,11}; 4 is a singleton via self-pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (4L, 4L)).toDF("id_a", "id_b")
    val scored = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (10L, 1.0), (11L, 2.0),
      (4L, 7.0)).toDF("doc_id", "quality")
    val out = Dedup.clustersKeepBest(pairs, scored, "doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(
      (1L, 2L, 9.0),   // 2 and 3 tie at 9.0 -> min id 2 survives
      (10L, 11L, 2.0), // higher score beats lower id
      (4L, 4L, 7.0)))  // singleton survives itself
  }

  test("property: simhash star-degrade matches the documented reference model") {
    // The documented contract above maxBucketSize (Dedup.scala): an
    // over-cap bucket emits ONLY hub->member star edges, so a near-dup
    // pair far from the hub keeps connectivity solely via hub-adjacent
    // members — or is knowingly lost. This pins that contract against
    // a pure-Scala reference model on randomized corpora with planted
    // duplicate groups (texts drawn WITH replacement from a small
    // pool, so identical-sig groups blow past the cap).
    import graft.functions.TextExpressions
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val cap = 3
    var sawOverCap = false
    var sawLostPair = false
    for (seed <- 1 to 4; maxH <- Seq(3, 10)) {
      val rnd = new scala.util.Random(seed)
      val pool = Vector.fill(8) {
        val len = 3 + rnd.nextInt(8)
        Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // half the docs append a unique token: many DISTINCT signatures
      // clustered near their template's signature, so distinct-sig
      // chunk buckets still blow past the cap and lose far-from-hub
      // pairs (the documented best-effort regime)
      val docs = (1L to 40L).map { i =>
        val base = pool(rnd.nextInt(pool.size))
        (i, if (rnd.nextBoolean()) base else s"$base u$i")
      }.toDF("doc_id", "text")
      val sigs = docs.select(col("doc_id"),
        TextExpressions.simhash64(TextAnalysis.tokens(lower(col("text")))).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference model, distinct-signature form: (1) equal-sig id
      // groups — cliques up to cap, min-id star above; (2) chunk
      // buckets over DISTINCT sig values — sig-pair cliques up to
      // cap, min-sig star above; expand surviving sig pairs to ids
      val model = scala.collection.mutable.Set[(Long, Long)]()
      sigs.groupBy(_._2).values.map(_.keys.toSeq.sorted).foreach { ids =>
        if (ids.size >= 2 && ids.size <= cap)
          for (i <- ids.indices; j <- i + 1 until ids.size)
            model += ((ids(i), ids(j)))
        else if (ids.size > cap) {
          sawOverCap = true
          ids.tail.foreach(x => model += ((ids.head, x)))
        }
      }
      val distinctSigs = sigs.values.toSeq.distinct
      val sigModel = scala.collection.mutable.Set[(Long, Long)]()
      val coBucketed = scala.collection.mutable.Set[(Long, Long)]()
      for (ci <- 0 until 4) {
        distinctSigs.groupBy(s => (s >>> (ci * 16)) & 0xffffL)
          .values.map(_.sorted).foreach { ss =>
            for (i <- ss.indices; j <- i + 1 until ss.size)
              coBucketed += ((ss(i), ss(j)))
            if (ss.size >= 2 && ss.size <= cap)
              for (i <- ss.indices; j <- i + 1 until ss.size)
                sigModel += ((ss(i), ss(j)))
            else if (ss.size > cap) {
              sawOverCap = true
              ss.tail.foreach(x => sigModel += ((ss.head, x)))
            }
          }
      }
      for ((sa, sb) <- sigModel if hamming(sa, sb) <= maxH;
           a <- sigs.collect { case (id, s) if s == sa => id };
           b <- sigs.collect { case (id, s) if s == sb => id })
        model += ((math.min(a, b), math.max(a, b)))
      val expected = model.toSet
      // documented best-effort loss: within-threshold co-bucketed sig
      // pairs whose every shared bucket was over-cap (no direct edge)
      if (coBucketed.exists { case (sa, sb) =>
          hamming(sa, sb) <= maxH && !sigModel.contains((sa, sb)) })
        sawLostPair = true
      val actual = Dedup.simhashPairs(docs, "doc_id", "text",
        maxHamming = maxH, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(actual == expected, s"seed=$seed maxHamming=$maxH")
    }
    // the generator must actually exercise the degrade path
    assert(sawOverCap)
    assert(sawLostPair)
  }

  test("ngramJaccardPairs strategies all return the same exact result") {
    val blocked = docs.withColumn("blk", lit(1))
    def run(strategy: String, hint: Option[Seq[String]] = None) =
      Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
        blockCols = Seq("blk"), shingleSize = 1, threshold = 0.3,
        strategy = strategy, vocabHint = hint)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = run("allpairs")
    assert(all.nonEmpty)
    assert(run("auto") == all)      // sample gate -> bitset (closed vocab here)
    assert(run("probe") == all)     // opt-in full probe: bitset too
    assert(run("prefix") == all)
    val hint = docs.select(explode(Dedup.shingles(col("text"), 1)).as("t"))
      .distinct().as[String].collect().toSeq
    assert(run("auto", Some(hint)) == all)  // caller-supplied closed vocab
    assertThrows[IllegalArgumentException](run("nope"))
  }

  test("crossJaccardPairs equals the cross-side slice of the all-pairs self-join") {
    val blocked = docs.withColumn("blk", lit(1))
    val l = blocked.filter(col("doc_id") <= 2)
    val r = blocked.filter(col("doc_id") > 2)
    def run(strategy: String) = Dedup.crossJaccardPairs(l, r, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.3,
      strategy = strategy)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    // oracle: the exact self-join over the union, restricted to pairs
    // straddling the split (id_a <= 2 < id_b since id_a < id_b)
    val expected = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.3,
      strategy = "allpairs")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .filter { case (a, b, _) => a <= 2 && b > 2 }.toSet
    assert(expected.nonEmpty)
    assert(run("auto") == expected)    // sample gate -> bitset here
    assert(run("prefix") == expected)
    assert(run("bitset") == expected)
  }

  test("bitset paths stay exact with a multi-word mask (vocab > 64)") {
    // 80-token vocabulary -> 2-long bitmasks: exercises the unrolled
    // popcount over word boundaries in both the self-join and the
    // bipartite kernel
    val vocab = (0 until 80).map(i => s"w$i")
    val text = udf((id: Long) =>
      (0 until 80).filter(i => (i + id) % 3 == 0 || i % (id + 2) == 0)
        .map(i => s"w$i").mkString(" "))
    val corpus = spark.range(1, 21)
      .select(col("id").as("doc_id"), text(col("id")).as("text"), lit(1).as("blk"))
    val all = Dedup.allPairsJaccard(corpus, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val bits = Dedup.bitsetJaccardPairs(corpus, "doc_id", "text",
      blockCols = Seq("blk"), vocab = vocab, shingleSize = 1, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(all.nonEmpty)
    assert(bits == all)
    val l = corpus.filter(col("doc_id") <= 10)
    val r = corpus.filter(col("doc_id") > 10)
    val cross = Dedup.crossBitsetPairs(l, r, "doc_id", "text",
      blockCols = Seq("blk"), vocab = vocab, shingleSize = 1, threshold = 0.3)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    val expectedCross = all.filter { case ((a, b), _) => a <= 10 && b > 10 }
    assert(expectedCross.nonEmpty)
    assert(cross == expectedCross)
  }

  test("bitset paths drop all-out-of-vocab docs instead of emitting NaN pairs") {
    // two docs entirely outside the vocab (and one empty doc) encode
    // to n=0 masks; 0/0 = NaN orders above every threshold in Spark,
    // so without the n>0 guard each such pair would be emitted
    val rows = Seq(
      (1L, "w1 w2 w3"), (2L, "w1 w2 w3"),       // real in-vocab near-dups
      (3L, "zz qq xx"), (4L, "zz qq xx"), (5L, ""))
      .toDF("doc_id", "text").withColumn("blk", lit(1))
    val vocab = Seq("w1", "w2", "w3", "w4")
    val pairs = Dedup.bitsetJaccardPairs(rows, "doc_id", "text",
      blockCols = Seq("blk"), vocab = vocab, shingleSize = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a >= 3L || b >= 3L })
    val cross = Dedup.crossBitsetPairs(
      rows.filter(col("doc_id") % 2 === 1), rows.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", blockCols = Seq("blk"), vocab = vocab,
      shingleSize = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == Set((1L, 2L)))
    // the open-vocab exact path must agree (empty docs have no
    // shingles: 0/0 is undefined, not a match)
    val all = Dedup.allPairsJaccard(rows, "doc_id", "text",
      blockCols = Seq("blk"), shingleSize = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((1L, 2L), (3L, 4L))) // zz-docs are real dups here
    assert(!all.contains((4L, 5L)) && !all.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("clusters converges on a 15-node chain within default iterations") {
    val chain = (1L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.clusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(1L))
    // distributed label-propagation path must agree with union-find
    val dist = Dedup.clusters(chain, driverCcMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == labels)
    assert(labels.size == 15)
  }

  test("cluster assignment labels connected components with min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val c = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) == 1L && c(2L) == 1L && c(3L) == 1L)
    assert(c(10L) == 10L && c(11L) == 10L)
  }

  test("dedupCorpus drops exact and near duplicates, keeps min-id survivors") {
    val out = Dedup.dedupCorpus(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, numBands = 16, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // 2 is an exact dup of 1; 3 is a near dup of 1 -> both dropped
    assert(out == Set(1L, 4L, 5L))
  }

  test("embedding near-dup finds an identical vector pair") {
    val v = Array.tabulate(8)(i => i.toFloat + 1)
    val e = Seq((1L, v.toSeq), (2L, v.toSeq), (3L, v.map(x => -x).toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
      threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("exact cosine pairs: known geometry, and LSH recall is a subset") {
    val e = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 0f, 0f)),   // identical to 1 -> cos 1
      (3L, Seq(1f, 1f, 0f, 0f)),   // 45 deg to 1 -> cos ~0.7071
      (4L, Seq(0f, 0f, 1f, 0f)),   // orthogonal
      (5L, Seq(0f, 0f, 0f, 0f)))   // zero vector: must be excluded
      .toDF("vec_id", "embedding")
    val out = Dedup.exactCosinePairs(e, "vec_id", "embedding", threshold = 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(out((1L, 2L)) == BigDecimal("1.0000"))
    assert(out((1L, 3L)) == BigDecimal("0.7071"))
    // banded LSH verifies with exact cosine, so it can only MISS
    // pairs relative to the exact baseline — and with the auto-tuned
    // OR-amplification it must find >= 90% of them (the r6 verdict's
    // production bar; the single-signature form measured ~15%)
    val embeddings = spark.read.parquet(sf() + "/embeddings.parquet")
    val exact = Dedup.exactCosinePairs(embeddings, "vec_id", "embedding", 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupPairs(embeddings, "vec_id", "embedding",
      threshold = 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"banded LSH recall too low: $recall")
  }

  test("banded embedding LSH: recall >= 0.9 at cosine 0.95 on a planted fixture") {
    // 60 base directions, each with a planted near-duplicate at
    // cosine ~0.98 (small orthogonal-ish perturbation), plus noise
    // vectors — the fixture the r6 verdict asks the recall bar to be
    // measured on. Deterministic seed, dim 16.
    val rnd = new scala.util.Random(7L)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0 until 60).flatMap { i =>
      val b = unit()
      val eps = unit()
      // v2 = normalize(b + 0.2 * eps): cosine(b, v2) >= ~0.95
      val mix = b.zip(eps).map { case (x, e) => x + 0.2f * e }
      val n = math.sqrt(mix.map(x => x.toDouble * x).sum)
      Seq((i * 2L, b.toSeq), (i * 2L + 1L, mix.map(x => (x / n).toFloat).toSeq))
    } ++ (0 until 80).map(i => (1000L + i, unit().toSeq))
    val e = rows.toDF("vec_id", "embedding")
    val exact = Dedup.exactCosinePairs(e, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 50, s"fixture should plant >= 50 pairs, got ${exact.size}")
    val lsh = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"banded LSH recall at cosine 0.95 too low: $recall")
  }

  test("banded embedding LSH: oversized buckets degrade to a hub star, not a clique") {
    // 50 identical vectors collide in EVERY band; with maxBucketSize=10
    // the bucket degrades to a star around the min id -> 49 pairs, all
    // anchored at the hub, instead of 1225 clique pairs
    val v = Seq(1f, 2f, 3f, 4f)
    val e = (0 until 50).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
      threshold = 0.99, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 49, s"expected 49 star pairs, got ${pairs.size}")
    assert(pairs.forall(_._1 == 0L))
  }
}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1f, 0f, 0f)),
    (1L, Seq(0.9f, 0.1f, 0f)),
    (2L, Seq(0f, 1f, 0f)),
    (3L, Seq(0f, 0f, 1f)),
    (4L, Seq(-1f, 0f, 0f))).toDF("id", "v")

  test("brute-force top-k ranks by cosine with id tie-break") {
    val out = Similarity.bruteForceTopK(
      vecs.filter("id = 0"), vecs, "id", "v", 3)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.getDouble(3) > 0.99)
  }

  test("IVF list-skew monitor: planted concentration flips recluster_flag") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 4, maxIter = 2)
    val (index0, cents) = Similarity.pqIndexStore(
      e.filter("vec_id <= 100"), "vec_id", "embedding", books, nCentroids = 8)
    val occ0 = Similarity.ivfListOccupancy(index0, cents)
    assert(occ0.count() == 8) // every list reported, empty or not

    // balanced append (the corpus's own tail) must NOT flip the flag
    val fair = Similarity.pqIndexAppend(
      e.filter("vec_id > 100"), cents, "vec_id", "embedding", books)
    val fairReport = Similarity.ivfListSkewReport(
      Similarity.ivfListOccupancy(index0.unionByName(fair), cents), occ0,
      tolerance = 2.0).collect()(0)
    assert(!fairReport.getBoolean(6),
      s"balanced append flagged: $fairReport")

    // skew-planted append: every new vector = centroid 1's vector ->
    // one list swallows the whole batch; flag must fire and Gini rise
    val planted = e.filter("vec_id = 1")
      .select(org.apache.spark.sql.functions.col("embedding").as("planted"))
    val batch = e.filter("vec_id > 100").select("vec_id")
      .crossJoin(org.apache.spark.sql.functions.broadcast(planted))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("planted").as("embedding"))
    val skewed = Similarity.pqIndexAppend(
      batch, cents, "vec_id", "embedding", books)
    val report = Similarity.ivfListSkewReport(
      Similarity.ivfListOccupancy(index0.unionByName(skewed), cents), occ0,
      tolerance = 2.0).collect()(0)
    assert(report.getBoolean(6), s"planted skew not flagged: $report")
    assert(report.getDouble(2) > report.getDouble(4)) // max_share rose
    assert(report.getDouble(3) > report.getDouble(5)) // gini rose
  }

  test("lshTopK at the pinned 16x2 multi-probe banding equals brute force") {
    // the sim3 recall-1 adjudication, replayed on the sf0.001
    // embeddings: per-band miss (θ/π)^2 over 16 bands -> candidate
    // coverage is certain at any fixture cosine, so the exact-cosine
    // rank stage must reproduce the exhaustive sweep row-for-row
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = e.filter("vec_id < 10")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val lsh = key(Similarity.lshTopK(q, e, "vec_id", "embedding", 5,
      planes = 2, bands = 16))
    val bf = key(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    assert(lsh == bf, s"pinned-banding LSH diverged: ${lsh.diff(bf)} / ${bf.diff(lsh)}")
  }

  test("maxsim ranks docs by their best chunk, tie elects smallest chunk id") {
    val chunks = Seq(
      (0L, 0L, Seq(1f, 0f, 0f)),     // doc 0: perfect chunk
      (1L, 0L, Seq(0.9f, 0.1f, 0f)),
      (10L, 1L, Seq(0f, 1f, 0f)),    // doc 1: orthogonal...
      (11L, 1L, Seq(0.6f, 0.8f, 0f)), // ...and two tied 0.6 chunks
      (12L, 1L, Seq(0.6f, -0.8f, 0f)),
      (20L, 2L, Seq(-1f, 0f, 0f)))   // doc 2: anti-aligned only
      .toDF("id", "doc", "v")
    val q = Seq((100L, Seq(1f, 0f, 0f))).toDF("id", "v")
    val out = Similarity.maxSimTopK(q, chunks, "id", "v", "doc", 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    // doc 0 wins on its perfect chunk; doc 1's best is the 0.6 tie,
    // won by the smaller chunk id; doc 2 falls outside k=2
    assert(out.toSeq == Seq((0L, 0L, 1), (1L, 11L, 2)))
  }

  test("full-probe IVF equals brute force") {
    val bf = Similarity.bruteForceTopK(vecs.filter("id < 2"), vecs, "id", "v", 3)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    val ivf = Similarity.ivfTopK(vecs.filter("id < 2"), vecs, "id", "v", 3,
      nCentroids = 5, nProbe = 5)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    assert(ivf == bf)
  }

  test("centroid assignment: top-1 argmax ties to the smallest cent_id") {
    // r14: the corpus-side assignment is a map-combined
    // min(struct(-sim, cent_id, ...)) aggregate, not a window — ties
    // must still elect the SMALLEST cent_id, the window's
    // (sim DESC, cent_id ASC) order. Coarse centroids are the
    // nCentroids smallest-id vectors, so duplicating vector 0 as
    // vector 1 makes centroids 0 and 1 exact ties for every row
    // nearest them; vector 4 is orthogonal to ALL centroids (every
    // sim 0.0) — the maximal tie.
    val dup = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0.9f, 0.1f, 0f)),
      (4L, Seq(0f, 0f, 1f))).toDF("id", "v")
    val books = Similarity.pqTrain(dup, "id", "v", m = 1, k = 2, maxIter = 0)
    val (index, _) =
      Similarity.pqIndexStore(dup, "id", "v", books, nCentroids = 3)
    val assigned = index.select("neighbor_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 0L,
      4L -> 0L))
  }

  test("reduced multi-probe (1 < nProbe < nCentroids) matches the hand reference") {
    // the window branch of centroidAssign: with centroids = the 4
    // smallest-id vectors and nProbe = 2, q0 (1,0,0) probes lists
    // {c0, c1} and q1 (0.9,0.1,0) probes {c1, c0} (cos(q0,c1) =
    // 0.9/|c1| ≈ 0.9939 beats the orthogonal c2/c3); each corpus row
    // sits in exactly its own nearest list, so after self-exclusion
    // the candidate sets are {1} and {0}
    val out = Similarity.ivfTopK(vecs.filter("id < 2"), vecs, "id", "v", 3,
        nCentroids = 4, nProbe = 2)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set((0L, 1L, 1), (1L, 0L, 1)))
  }

  test("NaN-norm vectors drop identically from the argmax and window branches") {
    // r15 (advisor note): a NaN norm passes a bare `> 0` gate (NaN
    // orders greatest) and then ranks FIRST under the window's
    // sim DESC but LAST under the argmax's min(-sim) — the two
    // branches could disagree on which centroid a NaN row gets. The
    // fix drops NaN norms like zero norms in BOTH branches: the NaN
    // row must appear in neither the top-1 index nor any probe path.
    // An Inf element gives an Inf norm and NaN sims — same hazard,
    // same rule (row 4).
    val withNaN = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(Float.NaN, 1f, 0f)),
      (4L, Seq(Float.PositiveInfinity, 0f, 1f))).toDF("id", "v")
    val books = Similarity.pqTrain(
      withNaN.filter("id < 3"), "id", "v", m = 1, k = 2, maxIter = 0)
    // top-1 argmax branch (corpus-side assignment)
    val (index, _) =
      Similarity.pqIndexStore(withNaN, "id", "v", books, nCentroids = 2)
    val indexed = index.select("neighbor_id").collect().map(_.getLong(0))
    assert(!indexed.contains(3L) && !indexed.contains(4L))
    // window branch (reduced multi-probe): the NaN row is neither a
    // query nor a neighbor
    val probed = Similarity.ivfTopK(withNaN, withNaN, "id", "v", 3,
        nCentroids = 3, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!probed.contains(3L) && !probed.contains(4L) && probed.nonEmpty)
  }

  test("probe-store full probe with a known centroid count drops the rank window") {
    // pqIvfProbeIndex takes the centroid count from the store itself
    // (the generation guard's row count), so a hint-less full probe
    // (nProbe >= that count) plans as the broadcast fan-out — the
    // same single top-k Window as the inline pqIvfTopK — and returns
    // exactly pqIvfTopK's rows
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val books = Similarity.pqTrain(e, "vec_id", "embedding",
      m = 4, k = 4, maxIter = 1)
    val (index, cents) =
      Similarity.pqIndexStore(e, "vec_id", "embedding", books,
        nCentroids = 8)
    val q = e.filter("vec_id < 5")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val stored = Similarity.pqIvfProbeIndex(q, index, cents,
      "vec_id", "embedding", books, 5, nProbe = 8)
    val inline = Similarity.pqIvfTopK(q, e, "vec_id", "embedding", books, 5,
      nCentroids = 8, nProbe = 8)
    assert(rows(stored) == rows(inline) && rows(stored).nonEmpty)
    // the final top-k rank window remains; the PROBE-side rank window
    // (nProbe candidate ranking over n*c rows) must be gone
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(_.contains("Window ["))
    assert(windows(stored) == 1 && windows(inline) == 1)
  }

  test("IVF defaults auto-size centroids from the corpus (sqrt-n rule)") {
    // the sizing rule: sqrt(n), floored at 16 — a FIXED default is
    // the quadratic-mining config the r12 scale probe measured
    assert(Similarity.ivfCentroidsFor(100L) == 16)
    assert(Similarity.ivfCentroidsFor(10000L) == 100)
    assert(Similarity.ivfCentroidsFor(1000000L) == 1000)
    // sentinel resolution scales with n; explicit values pass through
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val n = e.count()
    assert(Similarity.resolveCentroids(Similarity.AutoCentroids, e)
      == Similarity.ivfCentroidsFor(n))
    assert(Similarity.resolveCentroids(
      Similarity.AutoCentroids, spark.range(40000).toDF("v")) == 200)
    assert(Similarity.resolveCentroids(7, e) == 7)
    // the PUBLIC default path IS the auto-sized config: ivfTopK with
    // nCentroids omitted equals ivfTopK pinned at the resolved count
    val q = e.filter("vec_id < 3")
    val auto = Similarity.ivfTopK(q, e, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pinned = Similarity.ivfTopK(q, e, "vec_id", "embedding", 3,
        nCentroids = Similarity.ivfCentroidsFor(n))
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == pinned && auto.nonEmpty)
  }

  test("full-probe quantized IVF equals quantized brute force; recall ~ float") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "v")
    val q = e.filter("id < 10")
    val bfq = Similarity.bruteForceTopKQuantized(q, e, "id", "v", 5)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    val ivfq = Similarity.ivfTopKQuantized(q, e, "id", "v", 5,
      nCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    assert(ivfq == bfq, "full probe must reproduce quantized brute force")
    // int8 noise barely perturbs the float ranking: overlap >= 80%
    val bf = Similarity.bruteForceTopK(q, e, "id", "v", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivfq.map(t => (t.getLong(0), t.getLong(1)))
    assert(got.intersect(bf).size.toDouble / bf.size >= 0.8)
  }

  test("binarySign packs strictly-positive coordinates into 32-bit words") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (0L, Seq.tabulate(34)(i => if (i == 0 || i == 33) 1f else if (i == 1) -1f else 0f)),
      (1L, Seq.tabulate(34)(i => if (i <= 1) 0.5f else 0f)))
      .toDF("id", "v")
    val out = df.select(col("id"), Similarity.binarySign(col("v"), 34).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    // id 0: bit 0 of word 0, bit 1 of word 1 (coord 33); zeros and
    // negatives contribute nothing
    assert(out(0L) == Seq(1L, 2L))
    assert(out(1L) == Seq(3L, 0L))
    val words = df.select(Similarity.packedHamming(
      Similarity.binarySign(col("v"), 34),
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.lit(0L),
        org.apache.spark.sql.functions.lit(0L)), 2).as("h"))
      .collect().map(_.getInt(0)).toSeq
    // hamming vs the zero signature == popcount of the signature
    assert(words == Seq(2, 2))
  }

  test("binary-sign top-k with full candidate set equals brute force") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "v")
    val q = e.filter("id < 10")
    val bf = Similarity.bruteForceTopK(q, e, "id", "v", 5)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    val full = Similarity.binarySignTopK(q, e, "id", "v", 5,
      candidates = 1000000)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    assert(full == bf, "rerank over ALL candidates must reproduce brute force")
  }

  test("binary-sign prefilter at 64 candidates keeps usable recall") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "v")
    val q = e.filter("id < 10")
    val bf = Similarity.bruteForceTopK(q, e, "id", "v", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.binarySignTopK(q, e, "id", "v", 5, candidates = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.6, s"64-candidate sign-bit recall too low: $recall")
  }

  test("zero-norm vectors never rank (NaN cosine would sort first)") {
    val withZero = vecs.unionAll(Seq((9L, Seq(0f, 0f, 0f))).toDF("id", "v"))
    val out = Similarity.bruteForceTopK(
      withZero.filter("id = 0"), withZero, "id", "v", 5).collect()
    assert(out.forall(_.getLong(1) != 9L))
    assert(out.forall(r => !r.getDouble(3).isNaN))
    // a zero-vector QUERY yields no rows rather than NaN rankings
    val zq = Similarity.bruteForceTopK(
      withZero.filter("id = 9"), withZero, "id", "v", 5).collect()
    assert(zq.isEmpty)
    val nd = Dedup.embeddingNearDupPairs(withZero, "id", "v", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!nd.exists(p => p._1 == 9L || p._2 == 9L))
    assert(nd.contains((0L, 1L)))
  }

  test("PQ: codes are m ints in [0, k), deterministic, equal for equal vectors") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, k = 16,
      maxIter = 2)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // deterministic across runs
    val books2 = Similarity.pqTrain(e, "vec_id", "embedding", 8, 16, 2)
    assert(books.flatten.flatten.toSeq == books2.flatten.flatten.toSeq)
    // a duplicated vector encodes identically
    import spark.implicits._
    val twin = e.limit(1).select(lit(999999L).as("vec_id"), col("embedding"))
    val withTwin = e.select("vec_id", "embedding").unionByName(twin)
    val tc = Similarity.pqEncode(withTwin, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val origId = e.limit(1).select("vec_id").as[Long].head()
    assert(tc(999999L) == tc(origId))
  }

  test("PQ: ADC finds planted near neighbors (strong-margin ranking survives " +
      "quantization)") {
    // PQ's contract is reconstruction-BOUNDED ranking: it preserves
    // neighbor relations whose distance margin exceeds quantization
    // noise. Random same-distribution vectors have NO such margin
    // (distances concentrate in high dim), so the meaningful spec is
    // a planted fixture: each base vector gets a close twin; the
    // twin must surface in the base's ADC top-5.
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0 until 50).flatMap { i =>
      val b = unit()
      val eps = unit()
      val mix = b.zip(eps).map { case (x, e) => x + 0.15f * e }
      val n = math.sqrt(mix.map(x => x.toDouble * x).sum)
      Seq((i * 2L, b.toSeq), (i * 2L + 1L, mix.map(x => (x / n).toFloat).toSeq))
    } ++ (0 until 100).map(i => (1000L + i, unit().toSeq))
    val e = rows.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 16,
      maxIter = 3)
    val queries = e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 0)
    val got = Similarity.pqAdcTopK(queries, e, "vec_id", "embedding", books, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 50).count(i => got((i * 2L, i * 2L + 1L)))
    assert(found >= 45, s"planted twin found for only $found/50 queries")
  }

  test("PQ: full-probe IVF-PQ equals brute-force ADC; partial probe never " +
      "beats the full probe's best distance") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = e.filter("vec_id < 10")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", 8, 16, 2)
    val brute = Similarity.pqAdcTopK(q, e, "vec_id", "embedding", books, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Similarity.pqIvfTopK(q, e, "vec_id", "embedding", books, 5,
      nCentroids = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == brute)
    // a partial probe ranks over FEWER candidates, so its best
    // distance per query can never beat the full probe's best
    def best(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val fullBest = best(Similarity.pqIvfTopK(q, e, "vec_id", "embedding",
      books, 5, nCentroids = 16, nProbe = 16))
    val partBest = best(Similarity.pqIvfTopK(q, e, "vec_id", "embedding",
      books, 5, nCentroids = 16, nProbe = 4))
    partBest.foreach { case (qid, d) =>
      assert(d >= fullBest(qid) - 1e-9, s"query $qid: partial beat full")
    }
  }

  test("bitext margin mining recovers a planted cross-side alignment") {
    import spark.implicits._
    val rnd = new scala.util.Random(29L)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 40 "source-language" vectors; each planted "translation" is a
    // small perturbation on the target side; plus unaligned noise on
    // both sides that must NOT pair
    val bases = (0 until 40).map(_ => unit())
    val src = bases.zipWithIndex.map { case (b, i) => (i.toLong, b.toSeq) } ++
      (0 until 20).map(i => (100L + i, unit().toSeq))
    val tgt = bases.zipWithIndex.map { case (b, i) =>
      val eps = unit()
      val mix = b.zip(eps).map { case (x, e) => x + 0.15f * e }
      val n = math.sqrt(mix.map(x => x.toDouble * x).sum)
      (1000L + i, mix.map(x => (x / n).toFloat).toSeq)
    } ++ (0 until 20).map(i => (2000L + i, unit().toSeq))
    val sDf = src.toDF("vec_id", "embedding")
    val tDf = tgt.toDF("vec_id", "embedding")
    val mined = Similarity.bitextMarginPairs(sDf, tDf, "vec_id", "embedding",
      k = 4, marginThreshold = 1.05)
      .select("src_id", "tgt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 40).map(i => (i.toLong, 1000L + i)).toSet
    val recovered = mined.intersect(planted).size
    assert(recovered >= 36, s"recovered only $recovered/40 planted pairs")
    // precision: mutual-best + margin keeps noise out — at most a
    // couple of coincidental noise alignments survive
    assert(mined.diff(planted).size <= 2,
      s"spurious pairs mined: ${mined.diff(planted)}")
    // mutual-best means each endpoint appears at most once
    assert(mined.map(_._1).size == mined.size)
    assert(mined.map(_._2).size == mined.size)
  }

  test("composed IVF mining at full probe is identical to the exact yardsticks") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // bitext: probed candidates + shared margin stage == cross scoring
    val exactB = Similarity.bitextMarginPairs(
        e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
        "vec_id", "embedding", k = 4, marginThreshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val ivfB = Similarity.bitextMarginPairsIvf(
        e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
        "vec_id", "embedding", k = 4, marginThreshold = 1.0,
        nCentroids = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(ivfB == exactB)
    // hard negatives
    val exactH = Similarity.hardNegatives(e.filter("vec_id < 10"), e,
        "vec_id", "embedding", "label", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivfH = Similarity.hardNegativesIvf(e.filter("vec_id < 10"), e,
        "vec_id", "embedding", "label", 5, nCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(ivfH == exactH)
    // maxsim over derived chunk docs
    val chunks = e.withColumn("doc_id", expr("vec_id DIV 10"))
    val exactM = Similarity.maxSimTopK(e.filter("vec_id < 5"), chunks,
        "vec_id", "embedding", "doc_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val ivfM = Similarity.maxSimTopKIvf(e.filter("vec_id < 5"), chunks,
        "vec_id", "embedding", "doc_id", 5, nCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(ivfM == exactM)
  }

  test("two-stage rerank: full config equals brute force; shallow rerank " +
      "recovers what raw ADC ranks miss") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, k = 16,
      maxIter = 2)
    val q = e.filter("vec_id < 20")
    val truth = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // verified configuration: full probe + depth >= corpus == exact
    val full = Similarity.pqIvfRerankTopK(q, e, "vec_id", "embedding",
        books, 5, rerankDepth = 1000000, nCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == truth)
    // production configuration: the float re-rank of ADC's top-25
    // must dominate raw ADC's top-5 (PQ error only picks candidates,
    // it no longer orders the survivors)
    def pairs(s: Set[(Long, Long, Int)]) = s.map(t => (t._1, t._2))
    val adc = Similarity.pqAdcTopK(q, e, "vec_id", "embedding", books, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def rrRecall(depth: Int): Double = {
      val rr = Similarity.pqIvfRerankTopK(q, e, "vec_id", "embedding",
          books, 5, rerankDepth = depth, nCentroids = 16, nProbe = 16)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      rr.intersect(pairs(truth)).size.toDouble / truth.size
    }
    val adcRecall = adc.intersect(pairs(truth)).size.toDouble / truth.size
    val r25 = rrRecall(25)
    val r100 = rrRecall(100)
    info(f"ADC@5 recall $adcRecall%.3f; rerank@5 depth 25: $r25%.3f, " +
      f"depth 100: $r100%.3f")
    // this fixture is PQ's worst case (iid random vectors, near-flat
    // cosine spectrum), so absolute recall bars stay modest — the
    // CONTRACT is that re-ranking strictly repairs ADC misordering
    // and deepening the candidate pool monotonically recovers truth
    assert(r25 >= adcRecall)
    assert(r100 >= r25)
    assert(r100 >= 0.8, s"depth-100 rerank recall too low: $r100")
  }

  test("persisted IVF-PQ index: store round-trip equals inline plan; " +
      "stale/mixed codebook generations are refused") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, k = 16,
      maxIter = 2)
    val q = e.filter("vec_id < 10")
    val (index, cents) = Similarity.pqIndexStore(e, "vec_id", "embedding",
      books, nCentroids = 16)
    val inline = Similarity.pqIvfTopK(q, e, "vec_id", "embedding", books, 5,
        nCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val stored = Similarity.pqIvfProbeIndex(q, index, cents,
        "vec_id", "embedding", books, 5, nProbe = 16)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(stored == inline)
    // a re-train (different iteration budget -> different codebook
    // doubles -> different content hash) must refuse the old store
    val retrained = Similarity.pqTrain(e, "vec_id", "embedding", m = 8,
      k = 16, maxIter = 1)
    assert(Similarity.pqIndexAlgo(retrained) != Similarity.pqIndexAlgo(books))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqIvfProbeIndex(q, index, cents,
        "vec_id", "embedding", retrained, 5, nProbe = 16).collect()
    }
    assert(e1.getMessage.contains("re-encode"))
    // untagged index (pre-guard store) and mixed generations refused
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqIvfProbeIndex(q, index.drop("sig_algo"), cents,
        "vec_id", "embedding", books, 5, nProbe = 16).collect()
    }
    assert(e2.getMessage.contains("sig_algo"))
    val mixed = index.unionByName(
      index.limit(1).withColumn("sig_algo", lit(null: String)))
    val e3 = intercept[IllegalArgumentException] {
      Similarity.pqIvfProbeIndex(q, mixed, cents,
        "vec_id", "embedding", books, 5, nProbe = 16).collect()
    }
    assert(e3.getMessage.contains("untagged"))
  }

  test("IVF-PQ index append: split-build + append rows equal a full " +
      "rebuild; append against foreign codebooks refused") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, k = 16,
      maxIter = 2)
    val (fullIdx, _) = Similarity.pqIndexStore(e, "vec_id", "embedding",
      books, nCentroids = 16)
    val (halfIdx, cents) = Similarity.pqIndexStore(
      e.filter(col("vec_id") <= 100), "vec_id", "embedding", books,
      nCentroids = 16)
    val appended = Similarity.pqIndexAppend(e.filter(col("vec_id") > 100),
      cents, "vec_id", "embedding", books)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("neighbor_id", "cent_id", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    assert(rows(halfIdx.unionByName(appended)) == rows(fullIdx))
    val retrained = Similarity.pqTrain(e, "vec_id", "embedding", m = 8,
      k = 16, maxIter = 1)
    val err = intercept[IllegalArgumentException] {
      Similarity.pqIndexAppend(e.filter(col("vec_id") > 100), cents,
        "vec_id", "embedding", retrained).collect()
    }
    assert(err.getMessage.contains("re-encode"))
    // the streaming-safe literal-centroid argmax is the batch window
    // assignment verbatim (same sim tree, same tie-break)
    val online = Similarity.pqIndexAppendOnline(
      e.filter(col("vec_id") > 100), cents, "vec_id", "embedding", books)
    assert(rows(online) == rows(appended))
  }

  test("IVF-PQ index delete: purge-then-probe equals a rebuild over the " +
      "survivors; purged ids are unreachable") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, k = 16,
      maxIter = 2)
    val q = e.filter("vec_id < 10")
    val (index, cents) = Similarity.pqIndexStore(e, "vec_id", "embedding",
      books, nCentroids = 16)
    val dels = e.filter(col("vec_id") % 3 === 1 && col("vec_id") >= 10)
      .select("vec_id")
    val purged = Similarity.pqIndexDelete(index, dels)
    // identity: probing the purged store == probing an index BUILT on
    // the survivors (with the same frozen centroid frame)
    val survivors = Similarity.pqIndexAppend(
      e.join(dels, Seq("vec_id"), "left_anti"), cents,
      "vec_id", "embedding", books)
    def top(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaPurge = top(Similarity.pqIvfProbeIndex(q, purged, cents,
      "vec_id", "embedding", books, 5, nProbe = 16))
    assert(viaPurge == top(Similarity.pqIvfProbeIndex(q, survivors, cents,
      "vec_id", "embedding", books, 5, nProbe = 16)))
    // no purged id can ever be returned
    val deleted = dels.collect().map(_.getLong(0)).toSet
    assert(viaPurge.forall(t => !deleted.contains(t._2)))
    // guard: a multi-column delete frame is refused loudly
    intercept[IllegalArgumentException](
      Similarity.pqIndexDelete(index, e.select("vec_id", "label")))
  }

  test("reduced-probe IVF bitext mining still recovers the planted alignment") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = (0 until 40).map(_ => unit())
    val src = bases.zipWithIndex.map { case (b, i) => (i.toLong, b.toSeq) } ++
      (0 until 20).map(i => (100L + i, unit().toSeq))
    val tgt = bases.zipWithIndex.map { case (b, i) =>
      val eps = unit()
      val mix = b.zip(eps).map { case (x, e) => x + 0.15f * e }
      val n = math.sqrt(mix.map(x => x.toDouble * x).sum)
      (1000L + i, mix.map(x => (x / n).toFloat).toSeq)
    } ++ (0 until 20).map(i => (2000L + i, unit().toSeq))
    val sDf = src.toDF("vec_id", "embedding")
    val tDf = tgt.toDF("vec_id", "embedding")
    val planted = (0 until 40).map(i => (i.toLong, 1000L + i)).toSet
    // quarter probe: a planted pair collides when the perturbed
    // translation lands in a probed centroid list in EITHER direction.
    // Probing shrinks the candidate k-NN means, so margins inflate
    // slightly — the production precision knob is the margin
    // threshold, nudged up at reduced probe (1.05 -> 1.4)
    val mined = Similarity.bitextMarginPairsIvf(sDf, tDf, "vec_id", "embedding",
        k = 4, marginThreshold = 1.4, nCentroids = 8, nProbe = 2)
      .select("src_id", "tgt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = mined.intersect(planted).size
    info(s"reduced-probe (2/8) bitext recall: $recovered/40, " +
      s"spurious: ${mined.diff(planted).size}")
    assert(recovered >= 30, s"recovered only $recovered/40 planted pairs")
    // precision survives probing: mutual-best + margin still rejects noise
    assert(mined.diff(planted).size <= 3,
      s"spurious pairs mined: ${mined.diff(planted)}")
  }

  test("reduced-probe hard negatives and maxsim keep useful recall vs exact") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val exactH = Similarity.hardNegatives(e.filter("vec_id < 20"), e,
        "vec_id", "embedding", "label", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfH = Similarity.hardNegativesIvf(e.filter("vec_id < 20"), e,
        "vec_id", "embedding", "label", 5, nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallH = ivfH.intersect(exactH).size.toDouble / exactH.size
    info(f"hardNegativesIvf quarter-probe recall: $recallH%.3f")
    assert(recallH >= 0.5, s"hard-negative probe recall too low: $recallH")
    val chunks = e.withColumn("doc_id", expr("vec_id DIV 10"))
    val exactM = Similarity.maxSimTopK(e.filter("vec_id < 20"), chunks,
        "vec_id", "embedding", "doc_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfM = Similarity.maxSimTopKIvf(e.filter("vec_id < 20"), chunks,
        "vec_id", "embedding", "doc_id", 5, nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallM = ivfM.intersect(exactM).size.toDouble / exactM.size
    info(f"maxSimTopKIvf quarter-probe recall: $recallM%.3f")
    assert(recallM >= 0.5, s"maxsim probe recall too low: $recallM")
  }

  test("lsh top-k returns only same-bucket neighbors, never the query itself") {
    val out = Similarity.lshTopK(vecs, vecs, "id", "v", 4, planes = 2)
      .collect()
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("multi-probe recall dominates single-probe recall vs brute force") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "v")
    val q = e.filter("id < 20")
    val truth = Similarity.bruteForceTopK(q, e, "id", "v", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(multiProbe: Boolean): Double = {
      val got = Similarity.lshTopK(q, e, "id", "v", 5, planes = 6,
        multiProbe = multiProbe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val single = recall(multiProbe = false)
    val multi = recall(multiProbe = true)
    assert(multi >= single)
    // r7 production bar (was 0.2 pre-banding): the banded
    // OR-construction must recover >= 80% of the true top-5
    info(f"sim3 banded LSH recall: single-probe $single%.3f multi-probe $multi%.3f")
    assert(multi >= 0.8, s"banded multi-probe recall too low: $multi")
  }

  test("int8 quantization round-trips within tolerance and preserves top-k") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .withColumnRenamed("vec_id", "id").withColumnRenamed("embedding", "v")
    // reconstruction error bounded by scale/2 per component
    val (q, s) = Similarity.quantize(col("v"))
    val err = e.select(array_max(
        zip_with(col("v"), Similarity.dequantize(q, s), (a, b) => abs(a - b))).as("e"))
      .agg(max("e")).first().getFloat(0)
    assert(err < 0.02f, s"max reconstruction error $err")
    // quantized ranking ~= exact ranking (top-1 agreement on 10 queries)
    val truth = Similarity.bruteForceTopK(e.filter("id < 10"), e, "id", "v", 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.bruteForceTopKQuantized(e.filter("id < 10"), e, "id", "v", 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(quant.intersect(truth).size >= 8, s"quantized top-1 agreement ${quant.intersect(truth).size}/10")
  }

  test("dot/norm/cosine column helpers are exact on known vectors") {
    val r = Seq((Seq(3.0, 4.0), Seq(4.0, 3.0))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")),
        Similarity.l2norm(col("a")),
        Similarity.cosine(col("a"), col("b")))
      .first()
    assert(r.getDouble(0) == 24.0)
    assert(r.getDouble(1) == 5.0)
    assert(math.abs(r.getDouble(2) - 0.96) < 1e-12)
  }

  test("semantic decontamination flags exactly the over-threshold train " +
      "rows with their best eval match; zero-norm rows immune") {
    val evalSet = Seq(
      (100L, Seq(1f, 0f, 0f)),
      (101L, Seq(0f, 1f, 0f))).toDF("id", "v")
    val train = Seq(
      (0L, Seq(0.95f, 0.05f, 0f)),  // near eval 100
      (1L, Seq(0.7f, 0.7f, 0f)),    // equidistant: cosine tie -> min id
      (2L, Seq(0f, 0f, 1f)),        // orthogonal to both
      (3L, Seq(0f, 0f, 0f)),        // zero norm: never flagged
      (4L, Seq(-1f, 0f, 0f)))       // anti-aligned
      .toDF("id", "v")
    val out = Similarity.semanticDecontaminate(train, evalSet,
        "id", "v", threshold = 0.7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L)._1 == 100L && out(0L)._2 > 0.99)
    // exact tie between evals 100 and 101: smallest eval id wins
    assert(out(1L)._1 == 100L)
    // eval side is broadcast; the train vectors never shuffle
    val p = Similarity.semanticDecontaminate(train, evalSet,
      "id", "v", 0.7).queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), p)
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).toSeq
    assert(exchanges.forall(l => !l.contains("tv#")),
      s"train vectors must not shuffle:\n${exchanges.mkString("\n")}")
  }
}

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("lexicalRichness: TTR, hapax fraction, case-folded, empty doc absent") {
    val docs = Seq((1L, "a A b"),       // types {a:2, b:1}
      (2L, "x x x x"),                  // one type, no hapax
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalRichness(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((3L, 2L, 0.666667, 0.5)))
    assert(out(2L) == ((4L, 1L, 0.25, 0.0)))
    assert(!out.contains(3L))
  }

  test("token/char/digit/punct counts") {
    val r = Seq("Hello, world 42! ").toDF("t").select(
      TextAnalysis.charCount(col("t")),
      TextAnalysis.tokenCount(col("t")),
      TextAnalysis.digitCount(col("t")),
      TextAnalysis.punctCount(col("t")),
      TextAnalysis.bpeishTokenCount(col("t"))).first()
    assert(r.getInt(0) == 17)
    assert(r.getInt(1) == 3)
    assert(r.getInt(2) == 2)
    assert(r.getInt(3) == 2)      // ',' and '!'
    assert(r.getInt(4) == 6)      // Hello , world 4 2 !
  }

  test("language id picks the dominant marker language, und when none") {
    val out = Seq(
      "the cat and the dog is in the house",
      "der hund und die katze ist nicht hier",
      "le chat est dans la maison et le jardin",
      "xyzzy plugh 12345").toDF("t")
      .select(TextAnalysis.langId(col("t"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "fr", "und"))
  }

  test("paragraphLangRoute: majority election, minority flags, empty paragraphs dropped") {
    val docs = Seq(
      (1L, "the cat and the dog\n\nthe house is the best\n\nder hund und die katze\n\n\n\nxyzzy plugh"),
      (2L, "le chat est dans la maison")).toDF("id", "text")
    val out = TextAnalysis.paragraphLangRoute(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getString(3), r.getBoolean(4)))).toMap
    // doc 1: en x2, de x1, und x1 -> majority en; empty para (pos 3) dropped
    assert(out((1L, 0)) == (("en", "en", false)))
    assert(out((1L, 1)) == (("en", "en", false)))
    assert(out((1L, 2)) == (("de", "en", true)))
    assert(!out.contains((1L, 3)))
    assert(out((1L, 4)) == (("und", "en", true)))
    // doc 2: single paragraph is its own majority
    assert(out((2L, 0)) == (("fr", "fr", false)))
    assert(out.size == 5)
  }

  test("paragraphLangRoute breaks majority ties by the smallest language code") {
    // one 'en' paragraph, one 'de' paragraph -> tie -> 'de' < 'en'
    val docs = Seq((1L, "the cat and the dog\n\nder hund und die katze"))
      .toDF("id", "text")
    val out = TextAnalysis.paragraphLangRoute(docs, "id", "text")
      .collect().map(r => r.getInt(1) -> r.getString(3)).toMap
    assert(out.values.toSet == Set("de"))
  }

  test("quality score penalizes degenerate text") {
    val out = Seq(
      "This is a reasonable sentence with the usual words and structure.",
      "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9 0").toDF("t")
      .select(TextAnalysis.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(out(0) > out(1))
  }

  test("fingerprint is whitespace-normalization invariant") {
    val out = Seq("a  b\tc", "a b c").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).collect().map(_.getLong(0))
    assert(out(0) == out(1))
  }
}

class ModesSpec extends SparkTestBase {
  import spark.implicits._

  test("upsert: staging wins on key collision, unmatched target survives") {
    val target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val staging = Seq((2, "B2"), (4, "d")).toDF("k", "v")
    val out = Modes.upsert(target, staging, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "a", 2 -> "B2", 3 -> "c", 4 -> "d"))
  }

  test("upsert aligns staging columns to target order") {
    val target = Seq((1, "a", 1.0)).toDF("k", "v", "x")
    val staging = Seq((2.0, 2, "b")).toDF("x", "k", "v")
    val out = Modes.upsert(target, staging, Seq("k"))
    assert(out.columns.toSeq == Seq("k", "v", "x"))
    assert(out.count() == 2)
  }

  test("checksumRepair restores the source exactly, touching only bad chunks") {
    import org.apache.spark.sql.functions._
    val src = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val dst = src
      .withColumn("v", when(col("id") === 33, lit("corrupt")).otherwise(col("v")))
      .filter(col("id") =!= 77)
    val repaired = Modes.checksumRepair(src, dst, "id", 10L, Seq("id", "v"))
    assert(repaired.columns.toSeq == dst.columns.toSeq)
    val got = repaired.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0 until 100).map(i => i.toLong -> s"v$i").toMap
    assert(got == want, "repair must equal the source")
    // an identical sink passes through untouched (no chunk qualifies)
    val noop = Modes.checksumRepair(src,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      "id", 10L, Seq("id", "v"))
    assert(noop.count() == 100)
  }

  test("applyChanges: latest-wins per key, deletes remove, inserts add") {
    val target = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
    val changes = Seq(
      (1, "A1", "U", 1L), (1, "x", "D", 0L),  // stale delete loses to update
      (2, "x", "U", 0L), (2, "x", "D", 1L),   // stale update loses to delete
      (5, "e", "I", 1L),                      // insert of a new key
      (3, "C1", "U", 1L), (3, "C2", "U", 2L)  // two updates: later wins
    ).toDF("k", "v", "op", "seq")
    val out = Modes.applyChanges(target, changes, Seq("k"), "op", "seq")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "A1", 3 -> "C2", 4 -> "d", 5 -> "e"))
  }

  test("scdHistory: versions chain half-open, deletes close without opening") {
    val feed = Seq(
      (1, "a", "I", 0L), (1, "b", "U", 5L), (1, "c", "U", 9L),
      (2, "x", "I", 0L), (2, "y", "U", 3L), (2, "", "D", 7L))
      .toDF("k", "v", "op", "seq")
    val out = Modes.scdHistory(feed, Seq("k"), "op", "seq")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getInt(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      (1, "a", 0L, 5L, false), (1, "b", 5L, 9L, false), (1, "c", 9L, -1L, true),
      (2, "x", 0L, 3L, false), (2, "y", 3L, 7L, false)))
    // key 2 has NO current version: the delete closed its history
    assert(!out.filter(_._1 == 2).exists(_._5))
  }

  test("overwritePartitions replaces only the batch's partitions, adds new ones") {
    val path = java.nio.file.Files.createTempDirectory("graft_m10spec")
      .toString + "/t"
    val base = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("id", "p")
    graft.sources.Layout.writeHivePartitioned(base, path, "p")
    // batch: replaces b with ONE new row, introduces d; a and c absent
    val batch = Seq((30L, "b"), (50L, "d")).toDF("id", "p")
    graft.sources.Layout.overwritePartitions(batch, path, "p")
    val out = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "a"), (2L, "a"), (4L, "c"),  // untouched
      (30L, "b"),                                        // replaced
      (50L, "d")))                                       // added
    // the conf is restored: a plain overwrite afterwards is full-table
    assert(spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode").forall(_ != "dynamic"))
  }

  test("applyChanges: full ties resolve stably across runs (content-hash break)") {
    val target = Seq((1, "a")).toDF("k", "v")
    val changes = Seq((1, "X", "U", 1L), (1, "Y", "U", 1L)).toDF("k", "v", "op", "seq")
    val runs = (1 to 3).map(_ =>
      Modes.applyChanges(target, changes, Seq("k"), "op", "seq")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap)
    assert(runs.distinct.size == 1) // same winner every run
    assert(Set("X", "Y").contains(runs.head(1)))
  }
}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("resizeLuma: exact block means on a two-band image, tiny images skip") {
    // 8x8, top 4 rows luma (30+60+90)/3 = 60, bottom (90+30+60)/3 = 60?
    // use distinct bands: top (30,60,90) sum 180, bottom (0,0,60) sum 60
    val media = graft.operators.Multimodal.synthesizePngTable(
      Seq(1L, 2L).toDF("id"), "id",
      width = when(col("id") === 1, 8).otherwise(2),
      height = when(col("id") === 1, 8).otherwise(2),
      topRgb = lit((30 << 16) | (60 << 8) | 90),
      bottomRgb = lit(60))
    val out = graft.operators.Multimodal.resizeLuma(media, 4, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    // image 1: 8x8 -> every block 2x2=4 px; gy 0,1 in the top band
    // (rows 0..3): mean 180/3 = 60.0; gy 2,3 bottom: 60/3 = 20.0
    assert(out((1L, 0, 0)) == ((4L, 60.0)))
    assert(out((1L, 1, 3)) == ((4L, 60.0)))
    assert(out((1L, 2, 0)) == ((4L, 20.0)))
    assert(out((1L, 3, 3)) == ((4L, 20.0)))
    assert(out.count(_._1._1 == 1L) == 16)
    // image 2 is 2x2 < the 4x4 grid: no rows
    assert(!out.exists(_._1._1 == 2L))
  }

  test("audioFingerprint: analytic parities, gain invariance, exact pairing") {
    // expected fingerprint of a square wave: sign flips at the
    // multiples of hp; bit w = parity of flips with (i*64)/n == w
    def expect(n: Int, hp: Int): Long = {
      val bits = new Array[Int](64)
      var j = 1
      while (j * hp <= n - 1) {
        bits(((j.toLong * hp * 64) / n).toInt) ^= 1; j += 1
      }
      bits.zipWithIndex.map { case (b, w) => b.toLong << w }
        .foldLeft(0L)(_ | _)
    }
    val media = graft.operators.Multimodal.synthesizeWavTable(
      Seq((1L, 400, 1000, 3), (2L, 400, 30000, 3),  // same shape, 30x gain
        (3L, 400, 1000, 4), (4L, 555, 1000, 3),     // different hp / length
        // constant-sign clips (hp >= n: no flip ever): decodable,
        // fingerprint 0L — must never pair, with each other or anyone
        (5L, 400, 1000, 400), (6L, 400, 7000, 500))
        .toDF("id", "n", "a", "hp"),
      "id", lit(8000), col("n"), col("a"), col("hp"))
    val fps = graft.operators.Multimodal.audioFingerprint(media)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fps(1L) == ((expect(400, 3), 400L)))
    assert(fps(2L)._1 == expect(400, 3))  // gain cannot move a bit
    assert(fps(3L)._1 == expect(400, 4))
    assert(fps(4L)._1 == expect(555, 3))
    // the planted distinct shapes really are distinct fingerprints
    assert(expect(400, 3) != expect(400, 4) && expect(400, 3) != expect(555, 3))
    // degenerate clips decode (n_samples > 0) but carry zero signal
    assert(fps(5L) == ((0L, 400L)) && fps(6L) == ((0L, 400L)))
    val pairs = graft.operators.Multimodal.audioNearDupPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))  // no (5,6) zero-transition clique
  }

  private def media = Multimodal.toMediaTable(
    Seq((1L, "hello world", "s1"), (2L, "", "s2")).toDF("id", "content", "src"),
    "id", "content", "text/plain", "src")

  test("media table carries payload bytes + typed metadata") {
    val r = media.orderBy("media_id").collect()
    assert(r(0).getStruct(2).getString(0) == "text/plain")
    assert(r(0).getStruct(2).getLong(1) == 11L)
    assert(r(1).getStruct(2).getLong(1) == 0L)
  }

  test("wav round-trip: real javax.sound encode + decode recovers the waveform") {
    val params = Seq((1L, 8000, 100, 2000, 3), (2L, 16000, 257, 32767, 7))
      .toDF("id", "rate", "n", "amp", "hp")
    val wavs = Multimodal.synthesizeWavTable(params, "id",
      col("rate"), col("n"), col("amp"), col("hp"))
    // the payload is a genuine RIFF/WAVE container
    val head = wavs.orderBy("media_id").head()
    val bytes = head.getAs[Array[Byte]]("payload")
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val got = Multimodal.extractAudioFeatures(wavs).orderBy("media_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getInt(4), r.getDouble(5), r.getLong(6)))
    assert(got(0) == ((1L, 8000, 1, 100L, 2000, 2000.0, (100L - 1) / 3)))
    assert(got(1) == ((2L, 16000, 1, 257L, 32767, 32767.0, (257L - 1) / 7)))
  }

  test("non-audio payloads report zeros, never a fabricated waveform") {
    val out = Multimodal.extractAudioFeatures(media).orderBy("media_id").collect()
    out.foreach { r =>
      assert(r.getInt(1) == 0 && r.getInt(2) == 0 && r.getLong(3) == 0L)
      assert(r.getInt(4) == 0 && r.getDouble(5) == 0.0 && r.getLong(6) == 0L)
    }
  }

  test("avi round-trip: real RIFF demux + DIB decode recovers header and pixels") {
    // odd width exercises the 4-byte row stride padding in both
    // the assembler and the decoder
    val params = Seq((1L, 5, 4, 3, 40000, 0x102030, 0xF0E0D0),
      (2L, 16, 8, 2, 33333, 0xFF0000, 0x0000FF))
      .toDF("id", "w", "h", "nf", "mpf", "even", "odd")
    val avis = Multimodal.synthesizeAviTable(params, "id",
      col("w"), col("h"), col("nf"), col("mpf"), col("even"), col("odd"))
    val head = avis.orderBy("media_id").head()
    val bytes = head.getAs[Array[Byte]]("payload")
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "AVI ")
    val got = Multimodal.extractVideoFeatures(avis).orderBy("media_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    // id 1: 3 frames = 2 even + 1 odd
    assert(got(0) == ((1L, 5, 4, 40000, 3L,
      (2 * 0x10 + 0xF0) / 3.0, (2 * 0x20 + 0xE0) / 3.0, (2 * 0x30 + 0xD0) / 3.0)))
    // id 2: 2 frames = 1 red + 1 blue
    assert(got(1) == ((2L, 16, 8, 33333, 2L, 127.5, 0.0, 127.5)))
  }

  test("mjpeg avi: 00dc frames decode through the real imageio jpeg codec") {
    // assemble the container in the test, independently of
    // synthesizeAviTable, so the demuxer is checked against a
    // second writer; the frame is a real imageio JPEG
    javax.imageio.ImageIO.setUseCache(false)
    val w = 16; val h = 8
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x608040)
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jb)
    val jpeg = jb.toByteArray

    val bos = new java.io.ByteArrayOutputStream()
    def le(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
    def cc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val jpad = jpeg.length + (jpeg.length & 1)
    val hdrlSize = 4 + 8 + 40
    val moviSize = 4 + 8 + jpad
    cc("RIFF"); le(4 + 8 + hdrlSize + 8 + moviSize); cc("AVI ")
    cc("LIST"); le(hdrlSize); cc("hdrl")
    cc("avih"); le(40)
    le(50000); le(0); le(0); le(0); le(1); le(0); le(1); le(0); le(w); le(h)
    cc("LIST"); le(moviSize); cc("movi")
    cc("00dc"); le(jpeg.length); bos.write(jpeg)
    if ((jpeg.length & 1) == 1) bos.write(0)

    val avi = Seq((7L, bos.toByteArray)).toDF("media_id", "payload")
    val r = Multimodal.extractVideoFeatures(avi).head()
    assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)) == ((w, h, 50000, 1L)))
    // JPEG is lossy: means land near the solid color, not exactly on it
    assert(math.abs(r.getDouble(5) - 0x60) < 3.0)
    assert(math.abs(r.getDouble(6) - 0x80) < 3.0)
    assert(math.abs(r.getDouble(7) - 0x40) < 3.0)
  }

  test("sampleVideoFrames decodes every stride-th real frame exactly") {
    val params = Seq((1L, 8, 4, 5, 40000, 0x102030, 0xF0E0D0))
      .toDF("id", "w", "h", "nf", "mpf", "even", "odd")
    val avis = Multimodal.synthesizeAviTable(params, "id",
      col("w"), col("h"), col("nf"), col("mpf"), col("even"), col("odd"))
    val got = Multimodal.sampleVideoFrames(avis, stride = 2)
      .orderBy("frame_idx").collect()
      .map(r => (r.getInt(1), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    // frames 0,2,4 sampled; all even -> solid evenRgb exactly
    assert(got.toSeq == Seq(
      (0, 0x10.toDouble, 0x20.toDouble, 0x30.toDouble),
      (2, 0x10.toDouble, 0x20.toDouble, 0x30.toDouble),
      (4, 0x10.toDouble, 0x20.toDouble, 0x30.toDouble)))
    // non-AVI payloads emit no frames at all
    assert(Multimodal.sampleVideoFrames(media, 1).count() == 0)
  }

  test("non-video payloads report zeros, never a fabricated clip") {
    val out = Multimodal.extractVideoFeatures(media).orderBy("media_id").collect()
    out.foreach { r =>
      assert(r.getInt(1) == 0 && r.getInt(2) == 0 && r.getInt(3) == 0)
      assert(r.getLong(4) == 0L)
      assert(r.getDouble(5) == 0.0 && r.getDouble(6) == 0.0 && r.getDouble(7) == 0.0)
    }
  }

  test("non-image payloads fall back to byte stats, never fabricated dims") {
    val f1 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(f1.toSeq == f2.toSeq) // deterministic
    assert(f1(0).getInt(1) == 0 && f1(0).getInt(2) == 0) // text != image
    assert(f1(0).getSeq[Double](4).size == 8) // byte histogram
    assert(math.abs(f1(0).getSeq[Double](4).sum - 1.0) < 1e-9)
    assert(f1(1).getSeq[Double](4).forall(_ == 0.0)) // empty payload
  }

  test("png round-trip: real imageio encode + decode recovers dims and channel means") {
    val base = Seq((7L, 0), (8L, 0)).toDF("id", "pad")
    val synth = Multimodal.synthesizePngTable(base, "id",
      width = lit(10), height = lit(5), // odd height: 2 top rows, 3 bottom
      topRgb = lit(0xff0000), bottomRgb = lit(0x0000ff))
    val m = synth.orderBy("media_id").collect()
    assert(m(0).getStruct(2).getString(0) == "image/png")
    // a real PNG stream: magic bytes
    val bytes = m(0).getAs[Array[Byte]](1)
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
    val f = Multimodal.extractFeatures(synth).orderBy("media_id").collect()
    assert(f(0).getInt(1) == 10 && f(0).getInt(2) == 5)
    val feats = f(0).getSeq[Double](4)
    // means: red band 2/5 rows of 255, blue band 3/5 rows of 255
    assert(math.abs(feats(0) - 255.0 * 2 / 5) < 1e-12)
    assert(feats(1) == 0.0)
    assert(math.abs(feats(2) - 255.0 * 3 / 5) < 1e-12)
  }

  test("dhash: exact bits on bands and gradients; near-identical images collide") {
    // two-band 16x18 (divisible by 9: block rows are exact pixel
    // pairs, boundary row 8/9 splits block y=4): dark-over-bright
    // sets exactly bits y=3,y=4 across all 8 columns
    val bands = Multimodal.synthesizePngTable(
      Seq((1L, 0), (2L, 0), (3L, 0)).toDF("id", "pad"), "id",
      width = lit(16), height = lit(18),
      topRgb = when(col("id") === 1, lit(0x0A0A0A))
        .when(col("id") === 2, lit(0x0C0B09)) // near-dup of id 1
        .otherwise(lit(0xC8C8C8)),            // id 3: inverted bands
      bottomRgb = when(col("id") === 3, lit(0x0A0A0A)).otherwise(lit(0xC8C8C8)))
    val out = Multimodal.imageDHash(bands).orderBy("media_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    val expectedV = 255L * (16777216L + 4294967296L) // bits of bytes 3 and 4
    assert(out(1L) == ((0L, expectedV)))
    assert(out(2L) == ((0L, expectedV))) // perceptual collision
    assert(out(3L) == ((0L, 0L))) // bright-over-dark: no brighter-below bits
    // horizontal gradient: every block column strictly brighter than
    // the previous -> all 64 horizontal bits; vertically uniform
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) {
      val g = x * 16
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val grad = Multimodal.toMediaTable(
      Seq((9L, bos.toByteArray, "s")).toDF("id", "c", "src"),
      "id", "c", "image/png", "src")
    val g9 = Multimodal.imageDHash(grad).head()
    assert(g9.getLong(3) == -1L && g9.getLong(4) == 0L)
    // undecodable payloads: null hashes, never fabricated bits
    val junk = Multimodal.imageDHash(media).orderBy("media_id").collect()
    assert(junk.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("frame sampling splits payloads and keeps every stride-th frame") {
    val payload = ("x" * 1000)
    val m = Multimodal.toMediaTable(
      Seq((1L, payload, "s")).toDF("id", "c", "src"), "id", "c", "bin", "src")
    val frames = Multimodal.sampleFrames(m, frameSize = 256, stride = 2)
      .orderBy("frame_idx").collect()
    // 1000 bytes -> 4 frames (256,256,256,232), stride 2 -> idx 0,2
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 2))
    assert(frames.map(_.getAs[Array[Byte]](2).length).toSeq == Seq(256, 256))
  }

  test("byte-budget repartition sizes from plan stats without an extra job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mmbytes").toString + "/m"
    media.write.parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val sized = Multimodal.repartitionByBytes(onDisk, targetBytesPerPartition = 512)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    // the size estimate reads file-listing stats, no Spark job; the
    // .rdd materialization below may run AQE stages and is not counted
    assert(jobsAfter == jobsBefore, "estimating bytes must not run a Spark job")
    assert(sized.rdd.getNumPartitions >= 1)
    // exact mode still available, and counts the real payload bytes
    val exact = Multimodal.repartitionByBytes(onDisk, 8, exactCount = true)
    assert(exact.rdd.getNumPartitions >= 2) // 11 payload bytes / 8 per task
  }

  test("byte-budget repartition survives sentinel plan stats and clamps the count") {
    // a non-leaf plan without CBO can multiply child estimates toward
    // the Long.MaxValue sentinel; the operator must fall back to the
    // exact aggregate instead of asking repartition() for ~Int.MaxValue
    // partitions, and a tiny target must still respect the clamp
    val clamped = Multimodal.repartitionByBytes(media, 1, maxPartitions = 4)
    assert(clamped.rdd.getNumPartitions <= 4)
    val crossed = media.as("a").crossJoin(media.as("b"))
      .select(col("a.media_id").as("media_id"), col("a.payload").as("payload"),
        col("a.meta").as("meta"))
    val sized = Multimodal.repartitionByBytes(crossed, 1024)
    assert(sized.rdd.getNumPartitions <= (1 << 16))
  }
}

class LinkGraphSpec extends SparkTestBase {
  import spark.implicits._

  private val scale = 1000000000000L

  /** Reference model of the documented integer recurrence. */
  private def model(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val kept = edges.filter(e => nodes.contains(e._2))
    val deg = kept.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size.toLong
    var rank = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(deg.contains).map(rank).sum
      rank = nodes.map { v =>
        val inb = kept.filter(_._2 == v).map { case (u, _) => rank(u) / deg(u) }.sum
        v -> ((15L * scale) / (100L * n) + (85L * (inb + dang / n)) / 100L)
      }.toMap
    }
    rank
  }

  test("pageRank matches the reference integer model exactly") {
    val nodes = (0L until 7L).toSeq
    // node 6 isolated; nodes 2,4,5 in cycles; edge to 99 must be
    // dropped (outside the node set) and not count toward degree
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L),
      (3L, 4L), (4L, 5L), (5L, 4L), (1L, 99L))
    val out = LinkGraph.pageRank(nodes.toDF("id"), edges.toDF("s", "d"),
        "s", "d", iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == model(nodes, edges, 6))
    // rank mass conserved up to defined truncation (strictly bounded
    // by one unit per div per node per iteration)
    val total = out.values.sum
    assert(total <= scale && total > scale - 7L * 6L * 4L)
    // the most-linked node outranks everything
    assert(out.maxBy(_._2)._1 == 2L)
  }

  test("triangles: brute-force parity on a mixed graph, canonicalized input") {
    // K4 on {0,1,2,3} (4 triangles) + pendant 4 + isolated path 5-6;
    // edges arrive duplicated, reversed, and with a self-loop
    val edges = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 0L), (2L, 0L), // reversed duplicates
      (0L, 1L),           // exact duplicate
      (3L, 3L),           // self-loop
      (3L, 4L), (5L, 6L)).toDF("s", "d")
    val out = LinkGraph.triangles(edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((0L, 1L, 2L), (0L, 1L, 3L), (0L, 2L, 3L), (1L, 2L, 3L)))
  }

  test("triangles: star hub alone closes nothing; one cross edge closes one") {
    val star = (1L to 20L).map(i => (0L, i))
    val none = LinkGraph.triangles(star.toDF("s", "d"), "s", "d").count()
    assert(none == 0L, "a pure star has no triangles")
    val one = LinkGraph.triangles((star :+ ((7L, 13L))).toDF("s", "d"), "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(one == Seq((0L, 7L, 13L)))
  }

  test("pageRank keeps a symmetric ring uniform") {
    val nodes = (0L until 5L).toSeq
    val ring = nodes.map(v => v -> ((v + 1L) % 5L))
    val out = LinkGraph.pageRank(nodes.toDF("id"), ring.toDF("s", "d"),
        "s", "d", iterations = 4)
      .collect().map(_.getLong(1)).distinct
    assert(out.length == 1) // perfectly uniform, iteration after iteration
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int = 4): Map[Long, Long] =
    LinkGraph.labelPropagation(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelPropagation: a star converges to the hub label in one sweep and stays") {
    val star = (1L to 9L).map(v => 0L -> v)
    assert(lpa(star, 1) == (0L to 9L).map(_ -> 0L).toMap)
    assert(lpa(star, 4) == (0L to 9L).map(_ -> 0L).toMap) // fixed point
  }

  test("labelPropagation: two bridged cliques keep separate communities") {
    // dense communities have internal PLURALITY, so a bridge cannot
    // flip them (a bridged pure star CAN merge at sweep-1 tie time —
    // the known label-imperialism of deterministic-tie LPA; density
    // is what resists it)
    def k4(base: Long) = (for {
      i <- 0 to 3; j <- i + 1 to 3
    } yield (base + i) -> (base + j)).toSeq
    val out = lpa(k4(0L) ++ k4(10L) :+ (3L -> 13L))
    assert((0L to 3L).forall(v => out(v) == 0L), out)
    assert((10L to 13L).forall(v => out(v) == 10L), out)
  }

  test("labelPropagation: self-loops and duplicate/reversed edges canonicalize away") {
    val messy = Seq((0L, 1L), (1L, 0L), (0L, 1L), (2L, 2L), (1L, 2L))
    val out = lpa(messy)
    // path 0-1-2 (the 2-2 self-loop is dropped): min label wins
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out.values.toSet == Set(0L))
  }

  test("labelPropagation is invariant to input partitioning") {
    val edges = (1L to 40L).map(v => (v % 7) -> (v + 6))
    val viaDf = LinkGraph.labelPropagation(
      edges.toDF("s", "d").repartition(13), "s", "d", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDf == lpa(edges, 3))
  }

  test("kCore keeps a clique intact and peels a pendant tail in one sweep") {
    // K4 (all deg 3) + pendant path 4—5—6; duplicated/reversed edges
    val k4 = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 5L), (1L, 2L)))
      .toDF("s", "t")
    val out = LinkGraph.kCore(edges, "s", "t", k = 3, sweeps = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore peeling cascades one shell per sweep on a chain") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val after2 = LinkGraph.kCore(chain, "s", "t", k = 2, sweeps = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after2 == Map(3L -> 2L)) // sweep1 cuts {1,5}, sweep2 cuts {2,4}
    val after3 = LinkGraph.kCore(chain, "s", "t", k = 2, sweeps = 3)
    assert(after3.count() == 0L) // a chain has no 2-core
  }
}

class IncrementalAggSpec extends SparkTestBase {
  import spark.implicits._

  test("state rejects group columns that collide with reserved piece names") {
    val df = Seq((1L, "a")).toDF("n", "g")
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.state(df, Seq("n"), "g")
    }
    assert(e.getMessage.contains("reserved"))
  }

  private val data = Seq(
    (1L, "a", "x", Option(1.0)), (2L, "a", "x", Option.empty[Double]),
    (3L, "a", "y", Option(5.0)), (4L, "b", "x", Option(2.0)),
    (5L, "b", "x", Option(4.0)), (6L, "c", "z", Option(9.0)))
    .toDF("id", "g1", "g2", "v")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), if (r.isNullAt(4)) null else r.getDouble(4),
      if (r.isNullAt(5)) null else r.getDouble(5),
      if (r.isNullAt(6)) null else r.getDouble(6))).toSet

  test("merge of split states == state of the union (nulls, disjoint groups)") {
    val full = IncrementalAgg.state(data, Seq("g1", "g2"), "v")
    // split leaves group c entirely on the odd side — it must survive
    val merged = IncrementalAgg.merge(
      IncrementalAgg.state(data.filter($"id" % 2 === 0), Seq("g1", "g2"), "v"),
      IncrementalAgg.state(data.filter($"id" % 2 =!= 0), Seq("g1", "g2"), "v"))
    assert(rows(merged) == rows(full))
    // the null value counted in n but not n_v
    val ax = merged.filter($"g1" === "a" && $"g2" === "x").first()
    assert(ax.getLong(2) == 2L && ax.getLong(3) == 1L)
  }

  test("joinDelta: view plus delta equals the from-scratch join, delta has no base-base pairs") {
    val a = Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (9L, "a9")).toDF("ak", "av")
    val da = Seq((2L, "a2new"), (4L, "a4")).toDF("ak", "av")
    val b = Seq((1L, "b1"), (2L, "b2"), (4L, "b4")).toDF("bk", "bv")
    val db = Seq((3L, "b3"), (4L, "b4new")).toDF("bk", "bv")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("av", "bv").as[(String, String)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
    val view0 = a.join(b, a("ak") === b("bk"))
    val delta = IncrementalAgg.joinDelta(a, da, b, db, Seq("ak"), Seq("bk"))
    val maintained = pairs(view0.unionByName(delta))
    val scratch = pairs(a.unionByName(da).join(b.unionByName(db),
      col("ak") === col("bk")))
    assert(maintained == scratch)
    // the delta itself contains no base-base pair (those are in view0)
    val d = pairs(delta)
    assert(!d.contains(("a1", "b1")) && !d.contains(("a2", "b2")))
    // and covers all three delta terms: dA⋈B, A⋈dB, dA⋈dB
    assert(d.contains(("a2new", "b2")))   // dA ⋈ B
    assert(d.contains(("a3", "b3")))      // A ⋈ dB
    assert(d.contains(("a4", "b4new")))   // dA ⋈ dB
  }

  test("rollup answers the coarser grouping from state alone") {
    val st = IncrementalAgg.state(data, Seq("g1", "g2"), "v")
    val up = IncrementalAgg.rollup(st, Seq("g1"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(up("a") == ((3L, 2L, 6.0)))
    assert(up("b") == ((2L, 2L, 6.0)))
    assert(up("c") == ((1L, 1L, 9.0)))
    // avg derives from the non-null count, not the row count
    val avg = IncrementalAgg.withAvg(IncrementalAgg.rollup(st, Seq("g1")))
      .filter($"g1" === "a").select("avg_v").first().getDouble(0)
    assert(avg == 3.0) // (1 + 5) / 2 non-null, NOT / 3 rows
  }

}

class ChatFormatSpec extends SparkTestBase {
  import spark.implicits._

  private val turns = Seq(
    (1L, 1L, "user", "hello there"),
    (1L, 2L, "assistant", "hi, how can I help?"),
    (1L, 3L, "user", "you said: hi, how can I help?"), // quotes the reply
    (1L, 4L, "assistant", "yes I did"),
    (2L, 1L, "user", "solo question"))
    .toDF("conv_id", "ord", "role", "turn_text")

  test("assistant spans slice exactly the response text, even when quoted later") {
    val out = ChatFormat.assistantSpans(turns, "conv_id", "ord", "role", "turn_text")
      .orderBy("conv_id", "turn_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(out.length == 2) // conversation 2 has no assistant turn
    assert(out(0)._5 == "hi, how can I help?")
    assert(out(1)._5 == "yes I did")
    // the quoted copy inside turn 3 does NOT shift turn 4's span:
    // offsets come from arithmetic, not string search
    val rendered = ChatFormat.render(turns, "conv_id", "ord", "role", "turn_text")
      .filter($"conv_id" === 1L).first().getString(1)
    val (s2, e2) = (out(1)._3.toInt, out(1)._4.toInt)
    assert(rendered.substring(s2, e2) == "yes I did")
    // span 1 coordinates too
    assert(rendered.substring(out(0)._3.toInt, out(0)._4.toInt) == "hi, how can I help?")
  }

  test("non-BMP characters in tags keep codepoint offsets exact") {
    // the robot emoji is 2 UTF-16 units but 1 codepoint; tag length
    // must count codepoints to match Spark's substring semantics
    val out = ChatFormat.assistantSpans(turns, "conv_id", "ord", "role",
        "turn_text", userTag = "\uD83D\uDC64u:", asstTag = "\uD83E\uDD16a:",
        turnSep = "\n")
      .orderBy("conv_id", "turn_rank")
      .collect().map(r => r.getString(4))
    assert(out.toSeq == Seq("hi, how can I help?", "yes I did"))
  }

  test("render assembles turns in order with tags and separators") {
    val r = ChatFormat.render(turns, "conv_id", "ord", "role", "turn_text")
      .filter($"conv_id" === 2L).first()
    assert(r.getString(1) == "<|user|>\nsolo question\n")
    assert(r.getLong(2) == 1L)
  }

  test("preferencePairs picks strict-margin extremes with deterministic ties") {
    val cands = Seq(
      // prompt 1: clear winner 11 (score 9), loser 13 (score 2)
      (1L, 11L, 9L), (1L, 12L, 5L), (1L, 13L, 2L),
      // prompt 2: tied top (21, 22 both 7) -> chosen = smaller id;
      // tied bottom (23, 24 both 3) -> rejected = larger id
      (2L, 21L, 7L), (2L, 22L, 7L), (2L, 23L, 3L), (2L, 24L, 3L),
      // prompt 3: all equal -> margin 0, dropped
      (3L, 31L, 4L), (3L, 32L, 4L),
      // prompt 4: single candidate -> dropped
      (4L, 41L, 8L))
      .toDF("prompt_id", "doc_id", "score")
    val out = ChatFormat.preferencePairs(cands, "prompt_id", "doc_id",
      $"score").orderBy("prompt_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 11L && out(0).getLong(3) == 13L
      && out(0).getLong(5) == 7L)
    assert(out(1).getLong(1) == 21L && out(1).getLong(3) == 24L
      && out(1).getLong(5) == 4L)
  }
}

class FunnelSpec extends SparkTestBase {
  import spark.implicits._

  private val ts = (s: String) => java.sql.Timestamp.valueOf(s)

  test("stepLatency: interpolated gap percentiles, empty transition nulls") {
    val ev = Seq(
      (1L, "view", ts("2024-03-01 10:00:00")),
      (1L, "click", ts("2024-03-01 10:00:10")),
      (1L, "purchase", ts("2024-03-01 10:01:10")),
      (2L, "view", ts("2024-03-01 11:00:00")),
      (2L, "click", ts("2024-03-01 11:00:30")),
      (3L, "click", ts("2024-03-01 12:00:00")))  // click w/o view: no funnel
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.stepLatency(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // gaps {10s, 30s}: median 20, p90 = 10 + 0.9*(30-10) = 28
    assert(out(("view", "click")) == ((2L, 20.0, 28.0)))
    assert(out(("click", "purchase")) == ((1L, 60.0, 60.0)))
    // nobody converts at all -> count 0, null latencies
    val none = Funnel.stepLatency(ev.filter(col("event_type") =!= "purchase"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val cp = none(("click", "purchase"))
    assert(cp.getLong(2) == 0L && cp.isNullAt(3) && cp.isNullAt(4))
  }

  test("funnel counts only in-order conversions, strictly after") {
    val ev = Seq(
      // u1: full ordered funnel
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      // u2: purchase BEFORE click -> reaches stage 2 only
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "purchase", ts("2024-01-01 10:30:00")),
      (2L, "click", ts("2024-01-01 11:00:00")),
      // u3: click with NO prior view -> stage 1 not even reached
      (3L, "click", ts("2024-01-01 09:00:00")),
      // u4: click at the SAME instant as view -> strictly-after fails
      (4L, "view", ts("2024-01-01 08:00:00")),
      (4L, "click", ts("2024-01-01 08:00:00")))
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("view" -> 3L, "click" -> 2L, "purchase" -> 1L))
    // per-entity times: u2 has t_2 (the 11:00 click counts, it IS
    // after the view) but no t_3 (no purchase after 11:00)
    val times = Funnel.funnelTimes(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .filter($"user_id" === 2L).first()
    assert(!times.isNullAt(2) && times.isNullAt(3))
  }

  test("retention triangle: cohorts by first week, week-0 row always full") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-08 10:00:00")),
      (1L, ts("2024-01-22 10:00:00")),
      (2L, ts("2024-01-01 12:00:00")),
      (3L, ts("2024-01-10 12:00:00")), (3L, ts("2024-01-15 12:00:00")))
      .toDF("user_id", "ts")
    val out = Funnel.retention(ev, "user_id", "ts")
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      ("2024-01-01", 0L, 2L), // u1+u2 cohort week 0
      ("2024-01-01", 1L, 1L), // u1 back week 1
      ("2024-01-01", 3L, 1L), // u1 back week 3
      ("2024-01-08", 0L, 1L), // u3 cohort (Jan 10 -> week of Jan 8)
      ("2024-01-08", 1L, 1L)))
  }

  test("positionCredit: U-split sums to exactly 10000 bp per conversion") {
    import org.apache.spark.sql.functions.col
    val ev = Seq(
      // u1: 5 touches then a purchase -> 4000 | 666+667+667 | 4000
      (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, 2L, ts("2024-01-01 10:01:00"), "click"),
      (1L, 3L, ts("2024-01-01 10:02:00"), "view"),
      (1L, 4L, ts("2024-01-01 10:03:00"), "view"),
      (1L, 5L, ts("2024-01-01 10:04:00"), "click"),
      (1L, 6L, ts("2024-01-01 11:00:00"), "purchase"),
      // second conversion with ONE touch after the first purchase
      (1L, 7L, ts("2024-01-01 12:00:00"), "view"),
      (1L, 8L, ts("2024-01-01 13:00:00"), "purchase"),
      // trailing touch with no conversion after it: dropped
      (1L, 9L, ts("2024-01-01 14:00:00"), "view"),
      // u2: two touches -> 5000/5000
      (2L, 21L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 22L, ts("2024-01-01 10:30:00"), "click"),
      (2L, 23L, ts("2024-01-01 11:00:00"), "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = Funnel.positionCredit(ev, "user_id", "ts", "event_id",
      isTouch = col("event_type").isin("view", "click"),
      isConv = col("event_type") === "purchase")
    val rows = out.collect()
    assert(rows.length == 8) // 5 + 1 + 2; trailing touch dropped
    val byConv = rows.groupBy(r => r.getAs[Long]("conv_id"))
      .view.mapValues(_.map(_.getAs[Long]("credit_bp")).sorted.toSeq).toMap
    assert(byConv(6L) == Seq(666L, 667L, 667L, 4000L, 4000L))
    assert(byConv(8L) == Seq(10000L))
    assert(byConv(23L) == Seq(5000L, 5000L))
    assert(byConv.values.forall(_.sum == 10000L))
    // middle largest-remainder goes to the EARLIEST middles
    val mid = rows.filter(r => r.getAs[Long]("conv_id") == 6L)
      .sortBy(_.getAs[Long]("position")).map(_.getAs[Long]("credit_bp")).toSeq
    assert(mid == Seq(4000L, 667L, 667L, 666L, 4000L))
  }
}

class PcaSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // 2-D structure embedded in 4-D: dominant spread along (1,1,0,0)/√2,
  // secondary along (0,0,1,-1)/√2, nothing elsewhere
  private def vecs = (1 to 40).map { i =>
    val a = (i % 5).toFloat - 2f   // main axis amplitude, var = 2
    val b = (i % 2).toFloat * 0.5f // secondary amplitude
    (i.toLong, Array(a, a, b, -b))
  }.toDF("vec_id", "embedding")

  test("pcaModel recovers planted axes: variance order, orthonormal, signs") {
    val (mean, comps, lambdas) = Similarity.pcaModel(vecs, "embedding", 2)
    assert(lambdas(0) > lambdas(1) && lambdas(1) > 1e-6)
    for (c <- comps) {
      val nrm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-9)
    }
    val dot01 = comps(0).zip(comps(1)).map { case (x, y) => x * y }.sum
    assert(math.abs(dot01) < 1e-9)
    // axis recovery: pc1 ∝ (1,1,0,0)/√2 with positive pivot sign
    val r2 = 1 / math.sqrt(2)
    assert(comps(0).zip(Array(r2, r2, 0.0, 0.0))
      .forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(comps(1).zip(Array(0.0, 0.0, r2, -r2))
      .forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(mean.length == 4)
  }

  test("pcaProject variance per component equals its eigenvalue") {
    val (_, _, lambdas) = Similarity.pcaModel(vecs, "embedding", 2)
    val proj = Similarity.pcaProject(vecs, "vec_id", "embedding", 2)
    val vars = proj.agg(var_pop($"pc1"), var_pop($"pc2")).head()
    assert(math.abs(vars.getDouble(0) - lambdas(0)) < 1e-3)
    assert(math.abs(vars.getDouble(1) - lambdas(1)) < 1e-3)
    // centered: projections average to ~0
    val means = proj.agg(avg($"pc1"), avg($"pc2")).head()
    assert(math.abs(means.getDouble(0)) < 1e-6)
    assert(math.abs(means.getDouble(1)) < 1e-6)
  }

  test("pcaProject is partitioning-invariant (exact integer moments)") {
    val a = Similarity.pcaProject(vecs, "vec_id", "embedding", 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val b = Similarity.pcaProject(vecs.repartition(7), "vec_id", "embedding", 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(a == b)
  }
}

class AnnRecallSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("annRecall: intersection over exact prefix, missed queries score 0, " +
      "rank prefix enforced") {
    val exact = Seq(
      (1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3),
      (2L, 21L, 1), (2L, 22L, 2), (2L, 23L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val approx = Seq(
      (1L, 12L, 1), (1L, 99L, 2), (1L, 13L, 3),
      (1L, 11L, 4),            // beyond k=3: must NOT count
      (3L, 31L, 1))            // query not in exact: absent from output
      .toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.annRecall(approx, exact, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 2L, 0.666667)))
    assert(out(2L) == ((3L, 0L, 0.0)))     // approx missed q2 entirely
    assert(out.size == 2)
  }
}

class StandardizeSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("standardize: exact z-scores, constant dimension nulls, invariance") {
    // dim 0: values 1.0, 3.0 -> mean 2.0 std 1.0; dim 1: constant
    val df = Seq((1L, Array(1.0f, 5.0f)), (2L, Array(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.standardize(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out((1L, 0)) == Some(-1.0) && out((2L, 0)) == Some(1.0))
    assert(out((1L, 1)).isEmpty && out((2L, 1)).isEmpty) // std 0 -> null
    val rep = Similarity.standardize(df.repartition(5), "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rep == out)
  }
}

class JlProjectSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def sign(seed: String, j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$j:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
  }

  private def vecs = (1 to 30).map { n =>
    (n.toLong, Array.tabulate(8)(i => ((n * 31 + i * 17) % 19 - 9) / 4.5f))
  }
  private def df = vecs.toDF("vec_id", "embedding")

  test("jlProject equals the driver-side reference bit-for-bit") {
    val out = Similarity.jlProject(df, "vec_id", "embedding",
      inDim = 8, outDim = 4, seed = "graft")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val div = 10000.0 * math.sqrt(4.0)
    for ((id, v) <- vecs; j <- 0 until 4) {
      val s = (0 until 8).map(i =>
        BigDecimal(v(i).toDouble * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
          * sign("graft", j, i)).sum
      val expect = BigDecimal(s / div)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out((id, j)) == expect, s"id=$id dim=$j")
    }
  }

  test("jlProject preserves pairwise distances within JL distortion") {
    // 64 -> 16 on spread-out deterministic vectors; squared-distance
    // ratios should sit well inside a loose (1 ± 0.75) band — this is
    // a sanity floor, not the JL bound itself
    val wide = (1 to 12).map { n =>
      (n.toLong, Array.tabulate(64)(i => ((n * 37 + i * 13) % 23 - 11) / 11.0f))
    }
    val proj = Similarity.jlProject(wide.toDF("vec_id", "embedding"),
      "vec_id", "embedding", inDim = 64, outDim = 16)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (a <- 1 to 12; b <- (a + 1) to 12) {
      val orig = d2(wide(a - 1)._2.map(_.toDouble).toSeq,
        wide(b - 1)._2.map(_.toDouble).toSeq)
      val got = d2(proj(a.toLong).toSeq, proj(b.toLong).toSeq)
      assert(got > orig * 0.25 && got < orig * 1.75, s"pair ($a,$b)")
    }
  }

  test("jlProject is partitioning-invariant (exact integer sums)") {
    val a = Similarity.jlProject(df, "vec_id", "embedding", 8, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val b = Similarity.jlProject(df.repartition(7), "vec_id", "embedding", 8, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(a == b)
  }
}

class HardNegativeSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // axis-aligned clusters: label 1 near +x, label 2 near +y, label 3 at -x
  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f), 1), (2L, Array(0.9f, 0.1f), 1),
    (3L, Array(0.8f, 0.2f), 1),
    (10L, Array(0.0f, 1.0f), 2), (11L, Array(0.1f, 0.9f), 2),
    (20L, Array(-1.0f, 0.0f), 3))
    .toDF("vec_id", "embedding", "label")

  test("hard negatives exclude same-label neighbors, rank by similarity") {
    val out = Similarity.hardNegatives(
        vecs.filter($"vec_id" === 1L), vecs, "vec_id", "embedding", "label", 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    // nearest same-label vecs 2,3 are EXCLUDED; closest true negatives
    // are the label-2 cluster (cos > 0), then label 3 would rank last
    assert(out.toSeq == Seq((11L, 2, 1), (10L, 2, 2)))
    // every emitted negative has a different label than the query
    assert(out.forall(_._2 != 1))
  }

  test("meanPool: per-group element-wise means, every position present") {
    val out = Similarity.meanPool(vecs, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1, 0L)) == 0.9 && out((1, 1L)) == 0.1)
    assert(out((3, 0L)) == -1.0 && out((3, 1L)) == 0.0)
    assert(out.size == 6) // 3 labels x 2 positions
  }
}

class TimeSeriesSpec extends SparkTestBase {
  import spark.implicits._

  test("anomalies: spike flagged against trailing baseline that excludes it") {
    // 8 calm hours at ~10, then a spike at 100, then calm again
    val ts = (i: Int) => java.sql.Timestamp.valueOf(f"2024-03-01 ${i}%02d:00:00")
    val grid = ((0 to 7).map(i => (ts(i), 10.0 + (i % 2))) :+
      ((ts(8), 100.0)) :+ ((ts(9), 10.0)))
      .toDF("h", "sum_value")
    val out = TimeSeries.anomalies(grid, "h", "sum_value", trailing = 6, k = 3.0)
      .collect()
    assert(out.map(_.getTimestamp(0)).toSeq == Seq(ts(8)))
    // baseline of the spike row is the calm hours, not the spike
    assert(out.head.getDouble(4) < 12.0) // base_avg
    // hour 9 is NOT flagged backwards: its baseline absorbs the spike
    // via a larger std, and |10 - avg| < 3 std there
  }

  test("maxConcurrencyByDay: cross-midnight carry-in and end-before-start ties") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val iv = Seq(
      // two long intervals spanning into day 2
      (ts("2024-03-01 20:00:00"), ts("2024-03-02 04:00:00")),
      (ts("2024-03-01 22:00:00"), ts("2024-03-02 02:00:00")),
      // day-2 interval starting exactly when one ends: no overlap
      (ts("2024-03-02 02:00:00"), ts("2024-03-02 03:00:00")),
      // lone day-3 interval
      (ts("2024-03-03 10:00:00"), ts("2024-03-03 11:00:00")))
      .toDF("s", "e")
    val out = TimeSeries.maxConcurrencyByDay(iv, "s", "e")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // day 1: both long intervals open -> 2
    // day 2: starts with 2 carried in; the 02:00 end closes BEFORE the
    // 02:00 start opens, so max stays 2 (not 3)
    assert(out == Map("2024-03-01" -> 2L, "2024-03-02" -> 2L,
      "2024-03-03" -> 1L))
  }

  test("resampleHourly: dense spine, zero-count gaps, forward-filled sums") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (ts("2024-03-01 10:15:00"), 1.0), (ts("2024-03-01 10:45:00"), 2.0),
      // 11:00 and 12:00 empty
      (ts("2024-03-01 13:05:00"), 7.0))
      .toDF("ts", "value")
    val out = TimeSeries.resampleHourly(rows, "ts", "value")
      .orderBy("h").collect()
    assert(out.length == 4) // 10,11,12,13 — gaps present
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 0L, 0L, 1L))
    // sum_value null on gaps, ffill carries 3.0 across them
    assert(out(0).getDouble(2) == 3.0 && out(1).isNullAt(2))
    assert(out.map(_.getDouble(3)).toSeq == Seq(3.0, 3.0, 3.0, 7.0))
  }

  test("interpolateLinear fills interior gaps proportionally, leaves edges") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // grid 10:00 null(edge), 11:00=3.0, 12:00 null, 13:00 null, 14:00=9.0
    val grid = Seq(
      (ts("2024-03-01 10:00:00"), None: Option[Double]),
      (ts("2024-03-01 11:00:00"), Some(3.0)),
      (ts("2024-03-01 12:00:00"), None),
      (ts("2024-03-01 13:00:00"), None),
      (ts("2024-03-01 14:00:00"), Some(9.0)))
      .toDF("h", "v")
    val out = TimeSeries.interpolateLinear(grid, "h", "v")
      .orderBy("h").collect()
    assert(out(0).isNullAt(2))              // leading edge: no left neighbor
    assert(out(1).getDouble(2) == 3.0)      // non-null passes through
    assert(out(2).getDouble(2) == 5.0)      // 3 + 6 * 1/3
    assert(out(3).getDouble(2) == 7.0)      // 3 + 6 * 2/3
    assert(out(4).getDouble(2) == 9.0)
  }

  test("ewmaHalf equals the direct recurrence and cuts to the last N") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val xs = Seq(100L, 300L, 500L, 200L, 400L)
    val df = xs.zipWithIndex.map { case (v, i) =>
      (7L, i.toLong, ts(f"2024-03-01 10:0$i:00"), v)
    }.toDF("k", "id", "ts", "v")
    // full history: e1=100, e2=200, e3=350, e4=275, e5=337.5
    val full = TimeSeries.ewmaHalf(df, Seq("k"), Seq("ts", "id"), $"v",
      lastN = 16).orderBy("n").collect().map(_.getAs[Double]("ewma"))
    val expected = xs.tail.scanLeft(xs.head.toDouble)((e, x) => (x + e) / 2.0)
    assert(full.toSeq == expected)
    // lastN = 3 re-anchors on the 3rd-from-last observation
    val cut = TimeSeries.ewmaHalf(df, Seq("k"), Seq("ts", "id"), $"v",
      lastN = 3).orderBy("n").collect()
    assert(cut.length == 3)
    assert(cut.map(_.getAs[Double]("ewma")).toSeq == Seq(500.0, 350.0, 375.0))
  }

  test("ewmaHalf scale converts fixed-point units; bound is enforced") {
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val df = Seq((1L, 1L, ts, 250L)).toDF("k", "id", "ts", "v")
    val r = TimeSeries.ewmaHalf(df, Seq("k"), Seq("ts", "id"), $"v",
      scale = 100.0).collect()(0)
    assert(r.getAs[Double]("ewma") == 2.5)
    intercept[IllegalArgumentException] {
      TimeSeries.ewmaHalf(df, Seq("k"), Seq("ts", "id"), $"v", lastN = 37)
    }
  }

  test("cumulativeUniques: first-seen days only, exact running total") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-03-01 10:00:00")), (1L, ts("2024-03-03 09:00:00")),
      (2L, ts("2024-03-01 23:59:59")), (3L, ts("2024-03-02 00:00:00")))
      .toDF("user_id", "ts")
    val out = TimeSeries.cumulativeUniques(ev, "user_id", "ts")
      .orderBy("d").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    // u1's day-3 return creates no row: only FIRST-seen days appear
    assert(out.toSeq == Seq(("2024-03-01", 2L, 2L), ("2024-03-02", 1L, 3L)))
  }

  test("seasonalIndex: epoch-day weekday buckets, exact index ratios") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // 2024-03-03 is a Sunday (dow 0), 2024-03-04 a Monday (dow 1)
    val ev = Seq(
      (ts("2024-03-03 10:00:00"), 3.0), (ts("2024-03-10 10:00:00"), 5.0),
      (ts("2024-03-04 10:00:00"), 1.0))
      .toDF("ts", "value")
    val out = TimeSeries.seasonalIndex(ev, "ts",
      round(col("value") * 100), scale = 100.0)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // sunday mean 4.0, monday mean 1.0, grand mean 3.0
    assert(out(0) == ((2L, 4.0, 1.333333)))
    assert(out(1) == ((1L, 1.0, 0.333333)))
  }

  test("rollingStats: gaps stay in the frame, counted out by mov_n") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val grid = TimeSeries.resampleHourly(Seq(
      (ts("2024-03-01 10:00:00"), 2.0), (ts("2024-03-01 13:30:00"), 8.0))
      .toDF("ts", "value"), "ts", "value").drop("sum_value_ffill")
    val out = TimeSeries.rollingStats(grid, "h", "sum_value", trailing = 3)
      .orderBy("h").collect()
    assert(out.length == 4)
    // last row's frame spans all four grid hours: two non-empty
    assert(out(3).getLong(3) == 2L)                 // mov_n
    assert(out(3).getDouble(4) == 5.0)              // mov_avg = (2+8)/2
    assert(out(1).getLong(3) == 1L)                 // gap row: frame has 10h only
    assert(out(1).getDouble(5) == 2.0 && out(1).getDouble(6) == 2.0)
  }
}
