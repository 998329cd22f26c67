package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextExpressions

/** Deduplication operators for training-data pipelines (beyond-parity;
  * SURVEY.md §7.3#7): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * Scale notes (the design target is ~100 TB of documents on a
  * 1000-executor cluster):
  *  - Exact dedup is one hash-shuffle on a 64/128-bit content hash —
  *    group on `xxhash64(text)`, never on the raw text, so shuffle
  *    rows are ~16 bytes + key instead of the document body.
  *  - MinHash/SimHash signatures are computed scan-side by custom
  *    codegen expressions (one pass per row), then only the small
  *    signatures shuffle. Band buckets beyond `maxBucketSize`
  *    (mass-templated boilerplate) degrade from all-pairs to a linear
  *    star expansion around the bucket minimum — bounded reducer work
  *    with connectivity preserved for clustering, never a silent drop.
  *  - Pair verification re-joins the two document sides by id; at
  *    scale the candidate side is orders of magnitude smaller than the
  *    corpus, so both joins are shuffle-on-id with AQE skew handling.
  */
object Dedup {

  /** Compute-parallelism guard: the per-document work downstream
    * (shingling, MinHash, mask encoding) is CPU-bound, and a small
    * parquet input arrives as 1-2 scan partitions — which serializes
    * that work on one core no matter how many the cluster has. AQE
    * cannot fix it (it balances BYTES, not compute). Repartition up to
    * default parallelism ONLY when the scan is narrower than that; at
    * real scale inputs already carry thousands of partitions and this
    * is a no-op (no shuffle inserted).
    */
  private[operators] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // estimate the scan width from OPTIMIZER STATS where they carry
    // signal ([[PlanWidth]]): SUM OF LEAF sizes over
    // maxPartitionBytes — leaf sums, not root stats, because a
    // post-join/aggregate root can grossly overestimate sizeInBytes
    // and fake a wide plan (r6 advisory); the leaves are the scans
    // whose width actually matters. Inputs past p*maxPartitionBytes
    // already carry >= p scan tasks and the repartition is skipped
    // with zero planning side effects — the hot 100 TB case pays
    // nothing. When stats are untrusted (any leaf reporting the
    // unknown-size sentinel: JDBC/RDD relations) or say "narrow",
    // the exact physical partition count CONFIRMS before any
    // repartition (toRdd: no Row-conversion lineage, no job) — it
    // stops a small-bytes input that already carries >= p partitions
    // from being shuffled back down to p.
    if (PlanWidth.trustedWidthAtLeast(df, p)) df
    else if (PlanWidth.exactNumPartitions(df) < p) df.repartition(p)
    else df
  }

  /** Word k-shingles of normalized text, distinct.
    *
    * The token array is BOUND as a lambda variable (the 1-element
    * `transform(array(toks), ts => ...)` wrapper) instead of being
    * embedded as a subtree: higher-order functions are CodegenFallback
    * and interpreted eval re-evaluates every embedded subtree on each
    * lambda call — with the split inline, every shingle position
    * re-tokenized the whole document (O(positions × doc length) regex
    * splits per row, the dominant cost of the gram family's scan
    * stage); bound, the split runs once per row. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    array_distinct(flatten(transform(array(toks), ts =>
      when(size(ts) <= k, array(concat_ws(" ", ts)))
        .otherwise(transform(
          sequence(lit(1), size(ts) - (k - 1)),
          i => concat_ws(" ", slice(ts, i, lit(k))))))))
  }

  /** Exact dedup: one surviving id (min) per distinct content value,
    * with the duplicate count. Groups on a 64-bit content hash, not
    * the content itself; `content` is re-derived from the survivor.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    // 96-bit key (xxhash64 + murmur3): a lone 64-bit key has ~50%
    // birthday-collision odds at ~5B documents, and a collision here
    // silently deletes a distinct document
    val h64 = xxhash64(contentCols.map(col): _*)
    val h32 = hash(contentCols.map(col): _*)
    df.withColumn("__h", h64).withColumn("__h2", h32)
      .groupBy(col("__h"), col("__h2"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h", "__h2")
  }

  /** Bag-of-words dedup: [[exact]] on the SORTED-token signature, so
    * documents that differ only in word order (template re-orderings,
    * shuffled boilerplate — invisible to exact dedup, expensive for
    * near-dup) collapse into one group. The signature is built
    * row-locally (lower → split → sort → join) and only its 96-bit
    * hash shuffles — content never leaves the scan, same discipline
    * (and the same hash-equality caveat) as [[exact]]. Returns
    * (keep_id = min id, n_copies) per bag. */
  def tokenSortDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(
      df.select(col(idCol),
        concat_ws(" ",
          array_sort(split(lower(trim(col(textCol))), "\\s+"))).as("__sig")),
      idCol, Seq("__sig"))

  /** Directed containment pairs: |A∩B| / |A| ≥ threshold over word
    * k-shingles — the asymmetric cousin of Jaccard that catches a
    * SMALL document living inside a big one (wire story inside
    * commentary, quote inside thread), which symmetric Jaccard scores
    * near zero. Emits both directions when both qualify.
    *
    * Grams in more than `maxGramDf` documents are dropped from BOTH
    * the numerator and the denominator before pairing — the dd19-style
    * boilerplate cap, a deterministic contract (an oracle replays it)
    * that also bounds the gram self-join at df² per gram. Only 8-byte
    * gram hashes shuffle; text never leaves the scan. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 2, threshold: Double = 0.8,
      maxGramDf: Int = 100): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    // materialized once: the df-cap count and the cap join both
    // consume it, and each otherwise re-runs the shingle explode
    val gh = df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), shingleSize)).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("g"))
      .localCheckpoint(eager = false)
    val dfc = gh.groupBy("g").agg(count(lit(1)).as("__d"))
    val kept = gh
      .join(dfc.filter(col("__d") <= maxGramDf), Seq("g"))
      .select("id", "g")
    // Count-join, MEASURED choice: a dd4-style prefix filter (index
    // only A's smallest |A|−⌈t|A|⌉+1 grams, merge-scan verify per
    // candidate) was tried and ran ~2x SLOWER at sf0.1 — on a
    // duplicate-dense corpus candidates ≈ all co-bucketed pairs, so
    // the prefix prunes nothing while the per-candidate array
    // payloads dominate the shuffle. The count-join's cost is linear
    // in shared-gram pair rows either way, which the df cap bounds.
    val keptC = kept.localCheckpoint() // sizes + both join sides
    val sz = keptC.groupBy("id").agg(count(lit(1)).as("n_a"))
    val shared = keptC.as("a")
      .join(keptC.as("b"), col("a.g") === col("b.g")
        && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sz.withColumnRenamed("id", "id_a"), "id_a")
      .filter(col("n_shared").cast("double") >=
        lit(threshold) * col("n_a").cast("double"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        round(col("n_shared").cast("double") / col("n_a").cast("double"), 6)
          .as("containment"))
  }

  /** Exact-dedup survivors: the full rows that remain. */
  def exactSurvivors(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val keep = exact(df, idCol, contentCols).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle -> minhash signature (numHashes) -> band buckets
    * (numBands x rowsPerBand) -> within-bucket candidate pairs ->
    * exact Jaccard verification >= threshold.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, distinct.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must be divisible by numBands")
    val rowsPerBand = numHashes / numBands

    // Bucket ids only — the heavy shingle arrays never enter the
    // band explode or the pair generation, so all LSH shuffles move
    // (id, band, bucket) triples, not document bodies. Tokenize +
    // shingle + signature + band hashing is ONE codegen pass straight
    // from the text (MinHashBandBucketsFromText): both the HOF
    // band-bucket composition AND the HOF shingle-array construction
    // are CodegenFallback and were the stage's dominant cost.
    val banded = spread(df).select(
      col(idCol).as("id"),
      posexplode(TextExpressions.minhash_band_buckets_text(
        col(textCol), shingleSize, numHashes, numBands))
        .as(Seq("band", "bucket")))

    // Pairs generated inside each bucket after ONE shuffle
    // (groupBy band+bucket -> in-bucket combinations via higher-order
    // functions), instead of a bucket self-join. Buckets over
    // maxBucketSize (mass-templated boilerplate) degrade to a STAR
    // expansion — every id paired with the bucket minimum — linear
    // instead of quadratic, and connectivity is preserved for
    // downstream clustering rather than silently dropped.
    val ids = array_sort(col("ids"))
    val allPairs = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))
    val starPairs = transform(slice(ids, lit(2), size(ids)),
      y => struct(element_at(ids, 1).as("id_a"), y.as("id_b")))
    val candidates = banded
      .groupBy("band", "bucket").agg(collect_list("id").as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(when(size(ids) <= maxBucketSize, allPairs)
        .otherwise(starPairs)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b")

    // Exact verification: re-join the shingle sets for candidate ids
    // only (candidates << corpus at scale), as sorted hashed longs
    // (one fused codegen pass per doc) with the merge-scan intersect
    // per pair — no per-pair string hash sets, no union array.
    // (An earlier attempt at this with the HOF sort∘hash composition
    // regressed: interpreted and re-evaluated per join row once
    // collapsed; the fused expression made it the winning shape.)
    val hs = TextExpressions.sorted_shingle_hashes(col(textCol), shingleSize)
    // materialized once: BOTH verify sides derive from it, and each
    // otherwise re-runs the per-doc shingle-hash pass over the corpus
    val sides = spread(df).select(col(idCol).as("id"), hs.as("hs"), size(hs).as("n"))
      .localCheckpoint(eager = false)
    val a = sides.select(col("id").as("id_a"), col("hs").as("hs_a"), col("n").as("n_a"))
    val b = sides.select(col("id").as("id_b"), col("hs").as("hs_b"), col("n").as("n_b"))
    val inter = TextExpressions
      .sorted_intersect_count(col("hs_a"), col("hs_b")).cast("double")
    val union = col("n_a").cast("double") + col("n_b") - inter
    candidates
      .join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The two frames of a PERSISTENT near-dup signature store — how a
    * production corpus deduplicates INCREMENTALLY: new batches probe
    * the stored signatures instead of rescanning (or re-shingling)
    * the whole corpus.
    *
    * Returns (bands, shingles):
    *  - bands: (bucket, id) — one row per doc per LSH band, the probe
    *    index. `bucket` fuses the band index into the band's bucket
    *    hash (`xxhash64(band, bandBucket)`) so the probe join has ONE
    *    key — exactly the bucketed column. A wider (band, bucket)
    *    join key would disable the bucketed scan (Spark only plans a
    *    bucket join when the join keys equal the bucket spec); the
    *    fused key keeps candidate semantics (equal (band, bucket) ⇔
    *    equal fused key, modulo 64-bit collisions that only ADD
    *    candidates for the exact verify to kill). Persist with
    *    `Bucketing.writeBucketed(bands, table, Seq("bucket"), n)` so
    *    every future probe join reads it EXCHANGE-FREE.
    *  - shingles: (id, hs, n) — each doc's sorted shingle hashes for
    *    the exact verify. Persist bucketed on `id`; candidate pairs
    *    join it exchange-free on the store side.
    *
    * Signature parameters are part of the store's identity: probes
    * must use the same (shingleSize, numHashes, numBands).
    */
  def signatureStore(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64,
      numBands: Int = 16): (DataFrame, DataFrame) = {
    val bands = spread(docs).select(col(idCol).as("id"),
      posexplode(TextExpressions.minhash_band_buckets_text(
        col(textCol), shingleSize, numHashes, numBands))
        .as(Seq("band", "__bb")))
      .select(xxhash64(col("band"), col("__bb")).as("bucket"), col("id"))
      .withColumn("sig_algo",
        lit(minhashBandAlgo(shingleSize, numHashes, numBands)))
    val hs = TextExpressions.sorted_shingle_hashes(col(textCol), shingleSize)
    val shingles = spread(docs)
      .select(col(idCol).as("id"), hs.as("hs"), size(hs).as("n"))
      .withColumn("sig_algo", lit(minhashShingleAlgo(shingleSize)))
    (bands, shingles)
  }

  /** Generation+parameter tag of a MinHash band store. BUMP the
    * version segment when the shingle hash, the MinHash family, or
    * the fused bucket key changes — signatures across generations
    * are unrelated 64-bit values, and a version-blind probe would
    * silently miss every stored duplicate (the failure the simhash
    * [[SimHashAlgo]] guard closes). The PARAMETERS are part of the
    * tag too: a store built with different (shingleSize, numHashes,
    * numBands) produces disjoint buckets, which a tag-blind probe
    * would treat as "no duplicates" rather than an error. */
  def minhashBandAlgo(shingleSize: Int, numHashes: Int, numBands: Int): String =
    s"minhash-bands/xxh64-fused/v1/s$shingleSize-h$numHashes-b$numBands"

  /** Generation+parameter tag of the companion shingle store (exact
    * verify side): depends only on the shingle hash and size. */
  def minhashShingleAlgo(shingleSize: Int): String =
    s"minhash-shingles/rolling31-v1/s$shingleSize"

  /** Require every row of a persisted signature store to carry the
    * expected generation tag — the stale/mixed-store guard shared by
    * [[incrementalDedup]] (band + shingle stores) and
    * [[incrementalDedupGate]] (simhash store). ONE bounded
    * aggregation: min/max over the tag column plus total and
    * non-null counts (min/max alone skip nulls, so an untagged
    * append onto a tagged store — the mixed-store hazard — would
    * slip through without the count pair). All four aggregates
    * reduce map-side over a dictionary/RLE-encoded constant column
    * and ship one row — no distinct shuffle, no full-store
    * materialization (the r7 ADVICE item); with parquet aggregate
    * pushdown enabled they come straight from footer stats. An
    * EMPTY store passes: no rows, no stale signatures. Returns the
    * store's row count, which the same aggregate already computed. */
  private[operators] def requireSigAlgo(store: DataFrame, expected: String,
      what: String, rebuildHint: String): Long = {
    require(store.columns.contains("sig_algo"),
      s"$what store has no sig_algo column — it predates '$expected' and " +
        s"its signatures are unrelated to current ones; $rebuildHint")
    val r = store.agg(min(col("sig_algo")), max(col("sig_algo")),
      count(lit(1)), count(col("sig_algo"))).collect()(0)
    if (r.getLong(2) == 0L) return 0L
    require(r.getLong(3) > 0L,
      s"$what store is entirely untagged (every sig_algo is null) — " +
        s"written before the generation guard or by an external tool; " +
        s"$rebuildHint")
    require(r.getLong(2) == r.getLong(3),
      s"$what store contains ${r.getLong(2) - r.getLong(3)} untagged " +
        s"(null sig_algo) rows alongside tagged ones — a mixed-generation " +
        s"append; $rebuildHint")
    val (lo, hi) = (r.getString(0), r.getString(1))
    require(lo == expected && hi == expected,
      s"$what store carries generation(s) [$lo${if (lo == hi) "" else s" .. $hi"}] " +
        s"but this build expects '$expected'; $rebuildHint")
    r.getLong(2)
  }

  /** New-vs-corpus near-duplicates WITHOUT rescanning the corpus: the
    * incremental form of [[minhashLshPairs]]. `storeBands` /
    * `storeShingles` are a [[signatureStore]] (typically read back
    * from its bucketed tables); `newDocs` is the incoming batch.
    * Returns (new_id, dup_of, jaccard) — every new doc paired with
    * each stored doc whose exact shingle Jaccard ≥ `threshold`,
    * candidates generated by band-bucket collision.
    *
    * Scale shape: the new batch (small) shuffles to the store's
    * bucket layout; the store side reads its bucketed table with NO
    * exchange (BucketingSpec pins it). The exact verify joins
    * candidate ids back — new side by new_id, store side exchange-free
    * on its id-bucketed shingle table. Corpus cost is O(matched
    * buckets), not O(corpus).
    */
  def incrementalDedup(newDocs: DataFrame, storeBands: DataFrame,
      storeShingles: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, numBands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    // refuse stores of another signature generation OR built with
    // different parameters: cross-generation buckets are unrelated
    // values, so a tag-blind probe reports "no duplicates" instead
    // of failing (the simhash-gate hazard, closed for bands in r8)
    requireSigAlgo(storeBands,
      minhashBandAlgo(shingleSize, numHashes, numBands),
      "MinHash band", "rebuild with signatureStore")
    requireSigAlgo(storeShingles, minhashShingleAlgo(shingleSize),
      "shingle", "rebuild with signatureStore")
    // the probe side is, definitionally, a signature store for the
    // new batch — ONE construction of the fused key / shingle frames
    // keeps store and probe colliding by design
    val (probeBands, probeShingles) = signatureStore(
      newDocs, idCol, textCol, shingleSize, numHashes, numBands)
    val candidates = probeBands.withColumnRenamed("id", "new_id")
      .join(storeBands.withColumnRenamed("id", "dup_of"), Seq("bucket"))
      .filter(col("new_id") =!= col("dup_of"))
      .select("new_id", "dup_of")
      .dropDuplicates("new_id", "dup_of")
    val a = probeShingles.select(col("id").as("new_id"),
      col("hs").as("hs_a"), col("n").as("n_a"))
    val b = storeShingles.select(col("id").as("dup_of"),
      col("hs").as("hs_b"), col("n").as("n_b"))
    val inter = TextExpressions
      .sorted_intersect_count(col("hs_a"), col("hs_b")).cast("double")
    val union = col("n_a").cast("double") + col("n_b") - inter
    candidates.join(a, "new_id").join(b, "dup_of")
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select("new_id", "dup_of", "jaccard")
  }

  /** Algorithm tag of the simhash signature family. BUMP THIS when
    * the token hash changes: r7 moved it from xxhash64 to
    * rolling-31 + fmix64 (the SQL-replayable form), which made every
    * pre-r7 signature value unrelated to the post-r7 one — a
    * version-blind gate would compare them and silently pass every
    * duplicate. Stores carry the tag; the gate refuses stores
    * without it or with a different one. */
  val SimHashAlgo = "simhash64/rolling31-fmix64/v2"

  /** One 64-bit simhash per doc — the signature frame
    * [[incrementalDedupGate]] probes — tagged with [[SimHashAlgo]].
    * Same tokenization and signature as
    * `EventStream.streamingNearDedup`, so the within-stream gate
    * and the cross-run gate agree on what "same doc shape" means.
    * Persist with `Bucketing.writeBucketed(_, table, Seq("sig"), n)`
    * for an exchange-free probe. */
  def simhashStore(docs: DataFrame, textCol: String): DataFrame =
    spread(docs).select(TextExpressions.simhash64(
        split(lower(trim(col(textCol))), "\\s+")).as("sig")).distinct()
      .withColumn("sig_algo", lit(SimHashAlgo))

  /** Ingestion-time signature gate against a PERSISTENT store — the
    * cross-run form of `EventStream.streamingNearDedup`: drop any
    * incoming doc whose simhash equals a stored signature, decided by
    * one row-local signature plus one stream-static anti-join
    * (stateless, append-safe — the same call runs unchanged on a
    * STREAMING frame, which is where a production pipeline wants it:
    * before the doc ever lands). Hamming-0 semantics like the
    * within-stream gate: docs at distance 0 are overwhelmingly
    * boilerplate/near-identical; an (astronomically rare) unrelated
    * collision costs one doc. For exact Jaccard-thresholded
    * accounting run the batch [[incrementalDedup]].
    *
    * Refuses a store containing signatures of a different algorithm
    * generation (one bounded min/max/count aggregation — see
    * [[requireSigAlgo]]; the count pair catches MIXED stores, e.g. a
    * v2 append onto an untagged store whose old rows read back as
    * null): signatures across generations are unrelated 64-bit
    * values, so a version-blind anti-join would silently pass every
    * duplicate — rebuild with [[simhashStore]].
    */
  def incrementalDedupGate(newDocs: DataFrame, storeSigs: DataFrame,
      textCol: String): DataFrame = {
    requireSigAlgo(storeSigs, SimHashAlgo, "simhash signature",
      "rebuild with simhashStore")
    var sig = "__sig"
    while (newDocs.columns.contains(sig)) sig += "_"
    newDocs.withColumn(sig, TextExpressions.simhash64(
        split(lower(trim(col(textCol))), "\\s+")))
      .join(storeSigs.select(col("sig").as(sig)), Seq(sig), "left_anti")
      .drop(sig)
  }

  /** SimHash near-duplicate pairs: 64-bit simhash, blocked by the four
    * 16-bit chunks (pigeonhole: hamming distance <= 3 implies at least
    * one identical chunk), verified by exact Hamming distance.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val sig = TextExpressions.simhash64(TextAnalysis.tokens(lower(col(textCol))))
    hammingPairs(spread(df).select(col(idCol).as("id"), sig.as("sig")),
      "id", "sig", maxHamming, maxBucketSize)
  }

  /** Near-dup pairs among ANY 64-bit signatures by Hamming distance —
    * the chunk-blocked core of [[simhashPairs]], reusable for other
    * signature modalities (e.g. [[Multimodal.imageDHash]] perceptual
    * image hashes). Blocking: 4 x 16-bit signature chunks; two
    * signatures within Hamming distance 3 share at least one chunk
    * exactly (pigeonhole), so recall is guaranteed at `maxHamming`
    * <= 3 and remains guaranteed whenever the differing bits touch
    * at most 3 chunks; oversized buckets degrade to a linear star
    * expansion (best-effort recall, documented below).
    *
    * Candidate generation runs over DISTINCT signature VALUES, not
    * rows — mass-duplicated signatures (boilerplate text, template
    * images) would otherwise inflate every chunk bucket quadratically
    * while adding zero information (measured 10x on a 5K-image
    * corpus with a handful of distinct hashes). Equal-signature id
    * pairs (hamming 0) expand separately under their own
    * `maxBucketSize` star-degrade; cross-signature pairs expand by
    * joining ids back onto the surviving signature pairs. A
    * side-benefit: duplicate signatures can no longer crowd a chunk
    * bucket past the cap, so recall on mixed corpora strictly
    * improves over row-level blocking. */
  def hammingPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    // Materialize (id, sig) once: FIVE consumers below (groups,
    // members, distinctSigs, and the two id join-backs) — without
    // this the upstream signature projection (simhash over the full
    // text, a perceptual image hash, ...) re-ran per consumer: the
    // r14 before-plan shows 28 scans / 25 simhash64 evaluations of
    // the same corpus. 16 bytes per row, bounded by the input.
    val withSig = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint(eager = false)
    // equal-signature groups: full cliques up to the cap, hub star
    // above it (identical signatures at corpus scale are millions of
    // boilerplate copies — m² pairs is the blowup the cap bounds)
    val groups = withSig.groupBy("sig")
      .agg(count(lit(1)).as("__n"), min("id").as("__hub"))
    val members = withSig.join(groups, "sig")
    val sameSmall = members.filter(col("__n").between(2, maxBucketSize))
    val samePairs = sameSmall.select(col("sig"), col("id").as("id_a"))
      .join(sameSmall.select(col("sig"), col("id").as("id_b")), Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val sameStar = members.filter(col("__n") > maxBucketSize)
      .filter(col("id") =!= col("__hub"))
      .select(col("__hub").as("id_a"), col("id").as("id_b"))
    val ham0 = samePairs.unionByName(sameStar)
      .withColumn("hamming", lit(0))
    // chunk-blocked candidates over distinct signatures. In-bucket
    // pairs come from a bucket-keyed SELF-JOIN, not collect_list +
    // array expansion: an O(q²) pair array materialized in one row is
    // a multi-GB allocation at q ~ 10^4; the join streams the same
    // pairs through whole-stage codegen. Bucket size and hub ride in
    // from one aggregate over the same shuffle key.
    val distinctSigs = withSig.select("sig").distinct()
    val chunked = distinctSigs.select(col("sig"),
      posexplode(array((0 until 4).map(ci =>
        shiftrightunsigned(col("sig"), ci * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("chunk_idx", "chunk")))
    val stats = chunked.groupBy("chunk_idx", "chunk")
      .agg(count(lit(1)).as("n"), min(col("sig")).as("hub"))
    val sized = chunked.join(stats, Seq("chunk_idx", "chunk"))
    val small = sized.filter(col("n").between(2, maxBucketSize))
    val smallPairs = small
      .select(col("chunk_idx"), col("chunk"), col("sig").as("sig_a"))
      .join(small.select(col("chunk_idx"), col("chunk"),
        col("sig").as("sig_b")), Seq("chunk_idx", "chunk"))
      .filter(col("sig_a") < col("sig_b"))
    // Oversized buckets (correlated signature chunks) degrade to a
    // STAR around the bucket-minimum signature — linear, not
    // quadratic. Above maxBucketSize recall is BEST-EFFORT: a pair
    // survives only when each signature is within maxHamming of the
    // hub (connectivity otherwise flows via hub-adjacent members).
    // Still strictly better than a silent drop.
    val starPairs = sized.filter(col("n") > maxBucketSize)
      .filter(col("sig") =!= col("hub"))
      .select(col("hub").as("sig_a"), col("sig").as("sig_b"))
    val sigPairs = smallPairs.select("sig_a", "sig_b")
      .unionByName(starPairs)
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("sig_a", "sig_b")
    val cross = sigPairs
      .join(withSig.select(col("sig").as("sig_a"), col("id").as("__ia")), "sig_a")
      .join(withSig.select(col("sig").as("sig_b"), col("id").as("__ib")), "sig_b")
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    ham0.unionByName(cross)
  }

  /** Exact n-gram (word k-gram) Jaccard similarity pairs within the
    * same blocking key. All strategies return identical results (each
    * is exact); the dispatcher only picks the execution shape:
    *
    *  - `"auto"` (default, NO full-corpus scan on open-vocabulary
    *    data): `vocabHint` present and <= `bitsetVocabCap` distinct
    *    shingles → [[bitsetJaccardPairs]] (popcount kernel over
    *    fixed-width bitmasks — the winning shape on small-domain
    *    corpora, where output is dense and candidate pruning cannot
    *    win; measured 10x over the prefix path on such corpora).
    *    Without a hint, a BOUNDED sample gate reads `sampleDocs`
    *    documents (one CollectLimit job — seconds at any corpus
    *    size): > cap distinct shingles in the sample (every real text
    *    corpus) routes straight to the open-vocabulary path with no
    *    further probing; <= cap is closed-vocab evidence, and only
    *    then does the full distinct-count confirmation run — a full
    *    pass spent exactly when the 10x bitset payoff is on the
    *    table. The bitset path also requires the corpus to be small
    *    (`bitsetMaxRows`, checked with a bounded limit+count): its
    *    all-pairs enumeration is quadratic in block size, so on big
    *    corpora the prefix join wins even on closed vocabularies
    *    (measured: 5 K docs bitset 7 s / prefix 17 s, but 50 K docs
    *    bitset 185 s / prefix 62 s). Open path: `threshold > 0` →
    *    [[prefixJaccardPairs]] (exact prefix-filtered join, no
    *    quadratic stage); `threshold == 0` → the full in-block
    *    matrix, where no filter can prune — [[allPairsJaccard]],
    *    salted.
    *  - `"probe"` (OPT-IN): full-corpus distinct-shingle probe before
    *    dispatching, skipping the sample gate.
    *  - `"bitset"` / `"prefix"` / `"allpairs"`: force a path.
    *
    * `vocabHint` is a CONTRACT: it must contain every shingle the
    * corpus can produce (a closed domain known to the caller — enum
    * fields, tag sets, controlled vocabularies). Tokens outside the
    * hint would be silently ignored by the bitset encoding, so an
    * incomplete hint under-counts intersections. At 100 TB, callers
    * with closed-vocab data should pass the hint and skip even the
    * confirmation pass.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleSize: Int = 1,
      threshold: Double = 0.0,
      saltBuckets: Int = 32,
      bitsetVocabCap: Int = 256,
      strategy: String = "auto",
      vocabHint: Option[Seq[String]] = None,
      sampleDocs: Int = 512,
      bitsetMaxRows: Long = 8192): DataFrame = {
    def openVocabPath(): DataFrame =
      if (threshold > 0)
        prefixJaccardPairs(df, idCol, textCol, blockCols, shingleSize, threshold)
      else
        allPairsJaccard(df, idCol, textCol, blockCols, shingleSize, threshold, saltBuckets)
    def bitset(vocab: Seq[String]): DataFrame =
      bitsetJaccardPairs(df, idCol, textCol, blockCols, vocab.sorted.distinct,
        shingleSize, threshold, saltBuckets)
    strategy match {
      case "auto" => vocabHint match {
        case Some(v) if v.size <= bitsetVocabCap => bitset(v)
        case Some(_) => openVocabPath()
        case None =>
          autoClosedVocab(df, textCol, shingleSize, bitsetVocabCap,
            sampleDocs, bitsetMaxRows) match {
            case Some(vocab) => bitset(vocab)
            case None => openVocabPath()
          }
      }
      case "probe" =>
        val vocab = vocabHint.getOrElse(
          fullVocabProbe(df, textCol, shingleSize, bitsetVocabCap))
        if (vocab.size <= bitsetVocabCap) bitset(vocab) else openVocabPath()
      case "bitset" =>
        val vocab = vocabHint.getOrElse(
          fullVocabProbe(df, textCol, shingleSize, bitsetVocabCap))
        require(vocab.size <= bitsetVocabCap,
          s"bitset strategy needs <= $bitsetVocabCap distinct shingles, got > ${vocab.size - 1}")
        bitset(vocab)
      case "prefix" =>
        prefixJaccardPairs(df, idCol, textCol, blockCols, shingleSize, threshold)
      case "allpairs" =>
        allPairsJaccard(df, idCol, textCol, blockCols, shingleSize, threshold, saltBuckets)
      case other => throw new IllegalArgumentException(
        s"unknown ngramJaccardPairs strategy: $other (auto|probe|bitset|prefix|allpairs)")
    }
  }

  /** Full-corpus distinct-shingle probe, truncated at `cap + 1`. */
  private def fullVocabProbe(texts: DataFrame, textCol: String,
      shingleSize: Int, cap: Int): Seq[String] = texts
    .select(explode(shingles(col(textCol), shingleSize)).as("tok"))
    .distinct().limit(cap + 1).collect().map(_.getString(0)).toSeq

  /** The bounded auto-dispatch gate shared by the self-join and
    * bipartite Jaccard entry points: Some(vocab) exactly when a
    * `sampleDocs`-document sample AND a limit+count row bound both
    * signal a small closed-vocabulary corpus, confirmed by the full
    * distinct probe. Every job here is bounded except the confirm,
    * which runs only on positive closed-vocab evidence — open-vocab
    * (real text) corpora never pay a full pass. */
  private def autoClosedVocab(texts: DataFrame, textCol: String,
      shingleSize: Int, cap: Int, sampleDocs: Int,
      maxRows: Long): Option[Seq[String]] = {
    def sampleIsClosed = texts.select(col(textCol)).limit(sampleDocs)
      .select(explode(shingles(col(textCol), shingleSize)).as("tok"))
      .distinct().limit(cap + 1).count() <= cap
    def smallCorpus = texts.select(col(textCol))
      .limit((maxRows + 1).toInt).count() <= maxRows
    if (!sampleIsClosed || !smallCorpus) None
    else Some(fullVocabProbe(texts, textCol, shingleSize, cap))
      .filter(_.size <= cap)
  }

  /** In-block Jaccard pairs over a CLOSED vocabulary (<= a few hundred
    * distinct shingles): each document's shingle set is encoded as a
    * fixed-width bitmask (`ceil(|V|/64)` longs), so
    *
    *   |A ∩ B| = Σ popcount(a_i & b_i),  |A ∪ B| = |A| + |B| - |A ∩ B|
    *
    * and the pairwise kernel is a handful of codegen'd AND+POPCNT ops
    * with no array allocation. The salted join that enumerates pairs
    * shuffles ~(8·w + 24)-byte rows instead of the full shingle
    * arrays — on dense-output corpora (most in-block pairs qualify,
    * where pruning is impossible by construction) this is the whole
    * cost. Results are identical to [[allPairsJaccard]]: the vocab
    * index maps raw shingle STRINGS (no hashing), so not even a
    * hash-collision caveat applies.
    */
  def bitsetJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      vocab: Seq[String],
      shingleSize: Int = 1,
      threshold: Double = 0.0,
      saltBuckets: Int = 32): DataFrame =
    bitsetPairsFromEncoded(
      bitsetEncode(df, idCol, textCol, blockCols, vocab, shingleSize),
      blockCols, (vocab.size + 63) / 64, threshold, saltBuckets)

  /** (id, m: array<long> bitmask, n: popcount, blockCols...) encoding
    * of each document's shingle set over a closed vocabulary — ONE
    * codegen projection per row (`bitset_shingle_mask`: tokenize →
    * k-gram → vocab lookup → set bit, vocab map shipped inside the
    * expression), with `n` recovered as the mask's popcount.
    *
    * Replaced the earlier relational encode (explode + broadcast vocab
    * join + `bit_or` aggregate — itself chosen over array HOFs, which
    * are CodegenFallback and get re-evaluated per join-output row when
    * collapsed): the fused expression keeps the one-pass guarantee
    * WITHOUT the explode blow-up or the groupBy shuffle. Docs whose
    * shingles all fall outside the vocabulary keep an all-zero mask
    * (n=0); the pair joins must filter n > 0 explicitly (0/0 = NaN
    * and NaN compares above every threshold) to match the old inner
    * vocab join's drop semantics.
    */
  def bitsetEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      vocab: Seq[String],
      shingleSize: Int = 1): DataFrame = {
    val words = (vocab.size + 63) / 64
    require(words <= 16, s"bitset path needs |vocab| <= 1024, got ${vocab.size}")
    val mask = TextExpressions.bitset_shingle_mask(col(textCol), shingleSize, vocab)
    val n = (0 until words)
      .map(w => bit_count(element_at(col("m"), w + 1)).cast("long"))
      .reduce(_ + _)
    spread(df)
      .select((col(idCol).as("id") +: mask.as("m") +: blockCols.map(col)): _*)
      .withColumn("n", n)
      .select((col("id") +: col("m") +: col("n") +: blockCols.map(col)): _*)
  }

  /** Salted in-block pair join over [[bitsetEncode]] output. The
    * pairwise kernel must stay inside whole-stage codegen, and
    * higher-order functions (zip_with/aggregate) are CodegenFallback —
    * so popcount sums are UNROLLED over the word count (known at plan
    * time) into plain AND/POPCNT expression chains. */
  def bitsetPairsFromEncoded(
      encoded: DataFrame,
      blockCols: Seq[String],
      words: Int,
      threshold: Double,
      saltBuckets: Int): DataFrame = {
    // Materialize the encode once: both join sides derive from it,
    // and Catalyst otherwise collapses the bitset_shingle_mask
    // projection into each side's pushed-down n>0 filter AND its
    // projection — the r14 dd4 before-plan evaluates the mask 4x per
    // document. (8w + 24) bytes per row, bounded by the input.
    val enc = encoded.localCheckpoint(eager = false)
    val a = enc.select((col("id").as("id_a") +: col("m").as("m_a") +: col("n").as("n_a") +:
      pmod(xxhash64(col("id")), lit(saltBuckets)).as("__salt") +: blockCols.map(col)): _*)
    val b = enc.select((col("id").as("id_b") +: col("m").as("m_b") +: col("n").as("n_b") +:
      explode(sequence(lit(0L), lit(saltBuckets - 1L))).as("__salt") +: blockCols.map(col)): _*)
    val inter = (0 until words)
      .map(i => bit_count(element_at(col("m_a"), i + 1)
        .bitwiseAND(element_at(col("m_b"), i + 1))).cast("long"))
      .reduce(_ + _).cast("double")
    val union = col("n_a").cast("double") + col("n_b") - inter
    a.join(b, blockCols :+ "__salt")
      .filter(col("id_a") < col("id_b"))
      // all-out-of-vocab docs carry n=0; without this guard the ratio
      // prune passes (0 >= t*0) and 0/0 = NaN, which Spark orders
      // ABOVE every double, so `NaN >= threshold` would admit the
      // pair. The prefix strategy drops such docs (no tokens to join
      // on), and all strategies must return identical results.
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")))
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(("id_a" +: "id_b" +: "jaccard" +: blockCols).map(col): _*)
  }

  /** Salted all-pairs in-block Jaccard — the threshold=0 full-matrix
    * path of [[ngramJaccardPairs]]. */
  def allPairsJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleSize: Int = 1,
      threshold: Double = 0.0,
      saltBuckets: Int = 32): DataFrame = {
    // Shingle STRINGS are hashed to sorted 64-bit sets once per doc:
    // set Jaccard is hash-invariant (collisions are ~2^-64), and the
    // pairwise inner loop becomes a codegen merge scan over sorted
    // longs (SortedIntersectCount) instead of per-pair hash sets.
    // Materialized once — both join sides derive from it.
    val base = hashedShingleBase(df, idCol, textCol, blockCols, shingleSize)
      .localCheckpoint(eager = false)
    // Blocking keys are few (e.g. 5 languages) while in-block work is
    // quadratic — AQE's byte-based skew split cannot see compute skew,
    // so the join is salted explicitly: side A picks a deterministic
    // salt from its id, side B replicates across all salts. Parallelism
    // becomes |blocks| * saltBuckets instead of |blocks|.
    val a = base.select((col("id").as("id_a") +: col("sh").as("sh_a") +: col("n").as("n_a") +:
      pmod(xxhash64(col("id")), lit(saltBuckets)).as("__salt") +: blockCols.map(col)): _*)
    val b = base.select((col("id").as("id_b") +: col("sh").as("sh_b") +: col("n").as("n_b") +:
      explode(sequence(lit(0L), lit(saltBuckets - 1L))).as("__salt") +: blockCols.map(col)): _*)
    // J(a,b) <= min(|a|,|b|)/max(|a|,|b|): exact length-ratio prune
    // skips the intersect for pairs that cannot reach the threshold;
    // |union| = |a|+|b|-|intersect| avoids materializing array_union.
    val inter = graft.functions.TextExpressions
      .sorted_intersect_count(col("sh_a"), col("sh_b")).cast("double")
    val union = col("n_a").cast("double") + col("n_b") - inter
    a.join(b, blockCols :+ "__salt")
      .filter(col("id_a") < col("id_b"))
      // empty-shingle docs carry n=0 → 0/0 = NaN sorts above every
      // threshold; the prefix strategy drops them, so this must too
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")))
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(("id_a" +: "id_b" +: "jaccard" +: blockCols).map(col): _*)
  }

  /** Exact thresholded Jaccard pairs via prefix filtering (Bayardo et
    * al., "Scaling Up All Pairs Similarity Search", WWW'07; the
    * MapReduce staging follows Vernica/Carey/Li, SIGMOD'10).
    *
    * Lossless: returns exactly the pairs `allPairsJaccard` would at
    * the same threshold. The prefix-filtering principle: under ANY
    * global token order, two sets with J >= t must share a token
    * among the first `n - ceil(t*n) + 1` tokens of each (else the
    * required overlap `ceil(t*n)` cannot fit in the remainder). So
    * candidates = pairs sharing >= 1 prefix token — an inverted-index
    * join — instead of all in-block pairs.
    *
    * The global order is ascending document frequency (rare tokens
    * first), so stop-word-like tokens fall OUT of prefixes and the
    * inverted index stays skew-free. DF ranks for the `topVocab` most
    * frequent tokens are collected once (a top-K aggregate — tiny
    * even at 100 TB) and shipped as a map literal; tokens outside it
    * are rarer than everything inside and tie-break by hash value.
    * `topVocab` stays stopword-scale ON PURPOSE: Catalyst evaluates
    * `element_at` on a map literal as a linear key scan, so the
    * per-token cost is O(topVocab) — 256 entries captures the head of
    * the Zipf curve (what causes index skew) at negligible scan cost,
    * while ANY truncation point keeps the order a pure function of
    * the token, hence the result exact.
    *
    * Scale shape: one token-count aggregate, one explode of ~(1-t)*n
    * prefix tokens per doc shuffled by (block, token), a candidate
    * distinct, and a verify join on ids — no quadratic stage, no salt
    * replication. Verify is the codegen merge scan over value-sorted
    * hashed shingles.
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleSize: Int = 1,
      threshold: Double = 0.5,
      topVocab: Int = 256): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "prefixJaccardPairs needs 0 < threshold <= 1 (at 0 nothing prunes; use allPairsJaccard)")
    // materialize the shingle base once: it feeds the DF-rank collect,
    // both prefix-explode sides, and both verify sides — five
    // consumers, each otherwise re-running the per-doc shingle-hash
    // pass; stored rows are the hashes the verify needs anyway
    val base = hashedShingleBase(df, idCol, textCol, blockCols, shingleSize)
      .localCheckpoint(eager = false)
    val prefixed = withPrefix(base, dfRankLit(base, topVocab), threshold)

    // Inverted-index candidate join on (block, prefix token), with the
    // exact length-ratio prune J <= min/max applied pre-distinct.
    val aTok = prefixed.select((col("id").as("id_a") +: col("n").as("n_a") +:
      explode(col("__pref")).as("tok") +: blockCols.map(col)): _*)
    val bTok = prefixed.select((col("id").as("id_b") +: col("n").as("n_b") +:
      explode(col("__pref")).as("tok") +: blockCols.map(col)): _*)
    val candidates = aTok.join(bTok, blockCols :+ "tok")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")))
      .select(("id_a" +: "id_b" +: blockCols).map(col): _*)
      .dropDuplicates("id_a" +: "id_b" +: blockCols)

    verifyCandidates(candidates, base, base, "id_a", "id_b", threshold)
      .select(("id_a" +: "id_b" +: "jaccard" +: blockCols).map(col): _*)
  }

  /** (id, sorted hashed shingles, set size, blocks) for one corpus —
    * one fused codegen pass per row (`sorted_shingle_hashes`), not the
    * stacked interpreted HOFs it replaced. */
  private[graft] def hashedShingleBase(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], shingleSize: Int): DataFrame = {
    val sh = TextExpressions.sorted_shingle_hashes(col(textCol), shingleSize)
    spread(df).select((col(idCol).as("id") +: sh.as("sh") +: size(sh).as("n") +:
      blockCols.map(col)): _*)
  }

  /** The global DF order as a broadcast map literal over the
    * `topVocab` most frequent tokens of `rankSource` (the corpus — or
    * the UNION of both corpora in the bipartite case: the prefix
    * principle needs ONE total order shared by every compared set);
    * rank by (count desc) truncated at topVocab — anything outside the
    * map is rarer than everything inside and tie-breaks by token hash.
    * Any consistent total order is correct, so truncation keeps the
    * result exact. */
  private def dfRankLit(rankSource: DataFrame, topVocab: Int): Column = {
    val dfTop = rankSource.select(explode(col("sh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(topVocab)
      .collect()
    typedLit(dfTop.iterator.zipWithIndex
      .map { case (r, i) => r.getLong(0) -> i }.toMap)
  }

  /** Adds the `__pref` prefix-token array to `base` under the given
    * token order. Per-doc prefix length is `n - ceil(t*n) + 1` (the
    * 1e-9 guards fp noise toward the LONGER prefix — extra candidates,
    * never a missed pair). */
  private def withPrefix(base: DataFrame, rankLit: Column,
      threshold: Double): DataFrame = {
    val keyed = transform(col("sh"), t => struct(
      (lit(Int.MaxValue) - coalesce(element_at(rankLit, t), lit(Int.MaxValue))).as("r"),
      t.as("tok")))
    val plen = greatest(lit(1),
      (col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1).cast("int"))
    base.withColumn("__pref",
      transform(slice(array_sort(keyed), lit(1), plen), s => s("tok")))
  }

  /** Exact Jaccard verification of a candidate id-pair list against
    * the two shingle bases (codegen merge scan; |union| via
    * |A|+|B|-|A∩B| so no union array is materialized). */
  private def verifyCandidates(candidates: DataFrame, aBase: DataFrame,
      bBase: DataFrame, aId: String, bId: String, threshold: Double): DataFrame = {
    val a = aBase.select(col("id").as(aId), col("sh").as("sh_a"), col("n").as("n_a"))
    val b = bBase.select(col("id").as(bId), col("sh").as("sh_b"), col("n").as("n_b"))
    val inter = graft.functions.TextExpressions
      .sorted_intersect_count(col("sh_a"), col("sh_b")).cast("double")
    val union = col("n_a").cast("double") + col("n_b") - inter
    candidates
      .join(a, aId).join(b, bId)
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact CROSS-CORPUS Jaccard pairs — contamination detection: every
    * (left, right) pair sharing a block with J >= `threshold`, e.g.
    * eval-set documents leaking into a training corpus. The question a
    * training pipeline must answer before any run, and exactly where
    * all-pairs breaks at scale: |eval| × |corpus| is astronomically
    * large, but prefix filtering bounds candidates to pairs sharing a
    * rare token.
    *
    * BIPARTITE prefix filtering: the inverted-index join generates
    * candidates ONLY across sides (left prefix tokens vs right prefix
    * tokens — within-side pairs never exist, no `id <` dance), under
    * one global token order computed from the union of both corpora.
    * Exact and lossless for the same reason as [[prefixJaccardPairs]];
    * ids must be distinct across the two inputs (they name the pair).
    *
    * Scale shape: one token-count aggregate over both corpora, one
    * prefix explode per side shuffled by (block, token), candidate
    * distinct, verify join. With |left| ≪ |right| (the typical
    * eval-vs-training case) the left posting lists are tiny and the
    * join cost tracks the right corpus linearly.
    *
    * Dispatch mirrors [[ngramJaccardPairs]]: `"auto"` uses the same
    * bounded sample + size gates (over BOTH corpora) to route small
    * closed-vocabulary inputs to the bipartite popcount path
    * ([[crossBitsetPairs]] — dense-output corpora are where prefix
    * pruning cannot win) and everything else to the prefix join;
    * `vocabHint` / `"bitset"` / `"prefix"` override.
    */
  def crossJaccardPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleSize: Int = 1,
      threshold: Double = 0.5,
      topVocab: Int = 256,
      saltBuckets: Int = 32,
      bitsetVocabCap: Int = 256,
      strategy: String = "auto",
      vocabHint: Option[Seq[String]] = None,
      sampleDocs: Int = 512,
      bitsetMaxRows: Long = 8192): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "crossJaccardPairs needs 0 < threshold <= 1")
    def prefixPath(): DataFrame = {
      // each side's shingle base feeds the shared DF-rank collect,
      // its prefix explode, and its verify side — materialize once
      val lBase = hashedShingleBase(left, idCol, textCol, blockCols, shingleSize)
        .localCheckpoint(eager = false)
      val rBase = hashedShingleBase(right, idCol, textCol, blockCols, shingleSize)
        .localCheckpoint(eager = false)
      val rankLit = dfRankLit(lBase.select("sh").unionAll(rBase.select("sh")), topVocab)
      val lPref = withPrefix(lBase, rankLit, threshold)
      val rPref = withPrefix(rBase, rankLit, threshold)

      val lTok = lPref.select((col("id").as("left_id") +: col("n").as("n_a") +:
        explode(col("__pref")).as("tok") +: blockCols.map(col)): _*)
      val rTok = rPref.select((col("id").as("right_id") +: col("n").as("n_b") +:
        explode(col("__pref")).as("tok") +: blockCols.map(col)): _*)
      val candidates = lTok.join(rTok, blockCols :+ "tok")
        .filter(least(col("n_a"), col("n_b")).cast("double") >=
          lit(threshold) * greatest(col("n_a"), col("n_b")))
        .select(("left_id" +: "right_id" +: blockCols).map(col): _*)
        .dropDuplicates("left_id" +: "right_id" +: blockCols)

      verifyCandidates(candidates, lBase, rBase, "left_id", "right_id", threshold)
        .select(("left_id" +: "right_id" +: "jaccard" +: blockCols).map(col): _*)
    }
    def bitset(vocab: Seq[String]): DataFrame =
      crossBitsetPairs(left, right, idCol, textCol, blockCols,
        vocab.sorted.distinct, shingleSize, threshold, saltBuckets)
    def bothTexts: DataFrame =
      left.select(col(textCol)).unionAll(right.select(col(textCol)))
    strategy match {
      case "auto" => vocabHint match {
        case Some(v) if v.size <= bitsetVocabCap => bitset(v)
        case Some(_) => prefixPath()
        case None =>
          autoClosedVocab(bothTexts, textCol, shingleSize, bitsetVocabCap,
            sampleDocs, bitsetMaxRows) match {
            case Some(vocab) => bitset(vocab)
            case None => prefixPath()
          }
      }
      case "bitset" =>
        val vocab = vocabHint.getOrElse(
          fullVocabProbe(bothTexts, textCol, shingleSize, bitsetVocabCap))
        require(vocab.size <= bitsetVocabCap,
          s"bitset strategy needs <= $bitsetVocabCap distinct shingles, got > ${vocab.size - 1}")
        bitset(vocab)
      case "prefix" => prefixPath()
      case other => throw new IllegalArgumentException(
        s"unknown crossJaccardPairs strategy: $other (auto|bitset|prefix)")
    }
  }

  /** Bipartite bitset path of [[crossJaccardPairs]]: both corpora
    * encoded as fixed-width bitmasks over one closed vocabulary, then
    * a salted block join ACROSS sides only — popcount kernel, no
    * within-side pairs, no `id <` dance. The salt comes from the left
    * id with the right side replicated: with |left| ≪ |right| (the
    * eval-vs-training shape) every core still gets work because
    * parallelism is |blocks| × saltBuckets. */
  def crossBitsetPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      vocab: Seq[String],
      shingleSize: Int = 1,
      threshold: Double = 0.5,
      saltBuckets: Int = 32): DataFrame = {
    val words = (vocab.size + 63) / 64
    // materialize each side's encode once — same mask-re-evaluation
    // collapse as bitsetPairsFromEncoded (the r14 dd7 before-plan
    // computes each side's mask inside the pushed filter AND the
    // projection); compact (8w + 24)-byte rows
    val l = bitsetEncode(left, idCol, textCol, blockCols, vocab, shingleSize)
      .localCheckpoint(eager = false)
    val r = bitsetEncode(right, idCol, textCol, blockCols, vocab, shingleSize)
      .localCheckpoint(eager = false)
    val a = l.select((col("id").as("left_id") +: col("m").as("m_a") +: col("n").as("n_a") +:
      pmod(xxhash64(col("id")), lit(saltBuckets)).as("__salt") +: blockCols.map(col)): _*)
    val b = r.select((col("id").as("right_id") +: col("m").as("m_b") +: col("n").as("n_b") +:
      explode(sequence(lit(0L), lit(saltBuckets - 1L))).as("__salt") +: blockCols.map(col)): _*)
    val inter = (0 until words)
      .map(i => bit_count(element_at(col("m_a"), i + 1)
        .bitwiseAND(element_at(col("m_b"), i + 1))).cast("long"))
      .reduce(_ + _).cast("double")
    val union = col("n_a").cast("double") + col("n_b") - inter
    a.join(b, blockCols :+ "__salt")
      // n=0 guard: see bitsetPairsFromEncoded (0/0 = NaN sorts above
      // every threshold)
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")))
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(("left_id" +: "right_id" +: "jaccard" +: blockCols).map(col): _*)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, candidates
    * from BANDED (OR-amplified) random-hyperplane LSH, verified by
    * exact cosine — so precision is exact and only recall is
    * probabilistic. A pair is a candidate when it collides in ANY of
    * `bands` signatures of `planesPerBand` hyperplanes each
    * ([[Similarity.bandedHyperplaneSignatures]]); with the default
    * auto-tuning ([[Similarity.lshParams]]) a pair at exactly
    * `threshold` is found with probability >= 0.95, and closer pairs
    * do strictly better — vs ~15% measured recall for the previous
    * single-signature AND form at cosine 0.95.
    *
    * Scale shape: only (band, sig, id) triples shuffle for candidate
    * generation — vectors join back by id AFTER the pair list is
    * deduped across bands. Buckets beyond `maxBucketSize` degrade to
    * a STAR around the bucket-minimum id (linear, not quadratic) —
    * the same hot-bucket bound as [[hammingPairs]]: a mass-duplicated
    * embedding (boilerplate page re-encoded millions of times) caps
    * at m star edges per band instead of m²/2 clique edges.
    *
    * Pass `bands`/`planesPerBand` explicitly (both, as `Some`) to
    * override the threshold-derived auto-tuning. Option-typed on
    * purpose: the r6 signature had positional `planes`/`seed` Ints
    * here, and a plain-Int parameter would let a stale positional
    * caller compile into a silently different LSH configuration —
    * Option makes that a compile error.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bands: Option[Int] = None,
      planesPerBand: Option[Int] = None,
      seed: Long = 42L,
      maxBucketSize: Int = 10000): DataFrame = {
    require(bands.isDefined == planesPerBand.isDefined,
      s"bands and planesPerBand must be set together (None, None = auto): " +
        s"bands=$bands planesPerBand=$planesPerBand")
    val (r, b) = (bands, planesPerBand) match {
      case (Some(bb), Some(rr)) => (rr, bb)
      case _ => Similarity.lshParams(threshold)
    }
    val base = spread(df)
      .withColumn("__norm", Similarity.l2norm(col(vecCol)))
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("__norm").as("n"))
    // Materialize (id, band, sig) once: the banded signature tree is
    // b*r codegen dot products per row (240 at the 0.95 default) and
    // the frame feeds stats + members (and through members both the
    // clique and star branches) — the r14 before-plan re-ran it per
    // consumer (16 scans of the corpus). 24 bytes x bands per row.
    val exploded = base.select(col("id"),
      posexplode(Similarity.bandedHyperplaneSignatures(base, "v", b, r, seed))
        .as(Seq("band", "sig")))
      .localCheckpoint(eager = false)
    val stats = exploded.groupBy("band", "sig")
      .agg(count(lit(1)).as("__n"), min("id").as("__hub"))
    val members = exploded.join(stats, Seq("band", "sig"))
    val small = members.filter(col("__n").between(2, maxBucketSize))
    val clique = small.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(small.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // hub = min(id) of the bucket, so (hub, id) is already canonical
    val star = members.filter(col("__n") > maxBucketSize && col("id") =!= col("__hub"))
      .select(col("__hub").as("id_a"), col("id").as("id_b"))
    val cand = clique.unionByName(star).dropDuplicates("id_a", "id_b")
    val aSide = base.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val bSide = base.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    Similarity.scoreJoinedPairs(cand.join(aSide, "id_a").join(bSide, "id_b"), threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Brute-force exact cosine pairs: every (a, b) with cosine >=
    * threshold — the VERIFICATION BASELINE for
    * [[embeddingNearDupPairs]] (which only compares within LSH
    * buckets, trading recall for scale). Quadratic in |df| by
    * definition; run it on samples and sub-corpora to measure LSH
    * recall, never on the full 100 TB corpus — the LSH form is the
    * scale path. Norms are computed once per row before the join;
    * the dot product is the codegen [[graft.functions.VectorExpressions.DotProduct]]
    * kernel, so the quadratic stage does no per-pair allocation.
    */
  def exactCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val base = spread(df)
      .withColumn("__norm", Similarity.l2norm(col(vecCol)))
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("__norm").as("n"))
    val a = base.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val b = base.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    Similarity.scoreJoinedPairs(a.crossJoin(b), threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** End-to-end near-duplicate removal — the call a training-data
    * pipeline actually makes: exact dedup first (cheap, exact), then
    * MinHash-LSH near-dup pairs on the survivors, connected-component
    * clustering, keep the min-id document of each cluster.
    */
  def dedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
      maxIter: Int = 20): DataFrame = {
    // materialize the exact survivors once: they feed the signature
    // branch, BOTH verify sides, and the final anti join — without
    // this the dedup groupBy+semi-join re-executes four times
    val exactKept = exactSurvivors(df, idCol, Seq(textCol))
      .localCheckpoint(eager = true)
    // materialize the pair list once: clusters() iterates with two
    // actions per round, and without this the whole scan->shingle->
    // minhash->band->verify pipeline would re-execute every iteration
    val pairs = minhashLshPairs(exactKept, idCol, textCol,
      shingleSize, numHashes, numBands, threshold, maxBucketSize)
      .localCheckpoint(eager = true)
    val clustered = clusters(pairs, maxIter)
    val drop = clustered.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    exactKept.join(drop, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with quality-aware survivors: exact dedup keeps
    * the BEST-scored copy per identical content (not the min id),
    * then near-dup clusters keep their best-scored member via
    * [[clustersKeepBest]]. `scoreCol` must be a column of `df`
    * (length, LM score, quality composite — higher is better). Same
    * checkpointed three-stage shape as [[dedupCorpus]].
    *
    * "Identical content" means xxhash64-equal, the same approximation
    * [[exact]] documents: two distinct texts colliding in 64 bits
    * would be treated as duplicates and one dropped. Birthday math
    * puts the first expected collision near 2^32 ≈ 4B docs — compare
    * the text column within hash groups if operating past that scale.
    */
  def dedupCorpusKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
      maxIter: Int = 20): DataFrame = {
    // exact stage: best-scored row per identical content (ties min id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col(textCol)))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val exactKept = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(eager = true)
    val pairs = minhashLshPairs(exactKept, idCol, textCol,
      shingleSize, numHashes, numBands, threshold, maxBucketSize)
      .localCheckpoint(eager = true)
    // one clustering pass; drop every member that is not its
    // cluster's best-scored row (ties min id, like clustersKeepBest)
    val labeled = clusters(pairs.select("id_a", "id_b"), maxIter)
    val scores = exactKept.select(col(idCol).as("id"), col(scoreCol).as("score"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      .orderBy(col("score").desc, col("id").asc)
    val losers = labeled.join(scores, "id")
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") =!= 1)
      .select(col("id").as(idCol))
    exactKept.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicate-cluster assignment from a pair list (connected
    * components, min-id labels). Returns (id, cluster_id) for every id
    * present in the pair list. Small graphs run union-find on the
    * driver; large ones run alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14), which converges in O(log²) rounds instead
    * of the O(graph diameter) rounds plain label propagation needs —
    * a long chain of boilerplate-linked docs costs ~log rounds, not
    * one shuffle per hop. If `maxIter` is hit first, a warning is
    * logged and min-parent labels are returned as-is (over-retention,
    * never data loss).
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20,
      driverCcMaxEdges: Long = 5000000L): DataFrame = {
    // Near-dup pair graphs are tiny relative to the corpus (LSH emits
    // few edges per doc): below an explicit bound, union-find on the
    // driver replaces ~2 shuffle jobs PER ITERATION with one collect —
    // the same "small side collapses to the driver/broadcast" call
    // Spark itself makes for broadcast joins. The distributed
    // label-propagation loop remains the path for huge edge lists.
    import org.apache.spark.sql.types.LongType
    val longIds = pairs.schema("id_a").dataType == LongType &&
      pairs.schema("id_b").dataType == LongType
    // The input is typically an EXPENSIVE pair-generation pipeline
    // (LSH, prefix join); everything below executes it 2-3 times
    // (size probe + collect, or the iterative loop's seed). Checkpoint
    // the projected edge list once so upstream runs exactly once —
    // edges are two longs per row, far cheaper to store than to
    // recompute, and the distributed path materializes its canonical
    // edges anyway.
    val edgeSource = if (longIds) pairs.select(
      col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
        .localCheckpoint(true)
      else pairs
    val rawEdges = edgeSource.select(col("id_a").cast("long"), col("id_b").cast("long"))
    val probeLimit = math.min(driverCcMaxEdges + 1, Int.MaxValue.toLong).toInt
    if (driverCcMaxEdges > 0 && longIds &&
        rawEdges.limit(probeLimit).count() <= driverCcMaxEdges) {
      val es = rawEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root so the surviving label is the min id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val labels = parent.keys.toSeq.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toDF("id", "cluster")
    }
    // Large-star/small-star contraction. Edges are kept canonical as
    // (c, p) with c > p ("child, parent"); at the fixpoint the edge
    // set is a disjoint union of stars, each centered at its
    // component's min id. Self-pairs carry no connectivity but their
    // node must still be labeled, so nodes are taken from the raw
    // pairs before self-edges are dropped.
    val nodes = edgeSource.select(col("id_a").as("id"))
      .union(edgeSource.select(col("id_b").as("id"))).distinct()
    // the frontier is corpus-edge-sized: the reliable-checkpoint knob
    // (spark.graft.checkpointDir) decides executor-loss semantics —
    // local pin (fast, job fails on loss) vs shared-store checkpoint
    // lazy pin + count: the count action materializes the checkpoint,
    // so each frontier costs ONE job instead of eager-materialize +
    // count; the counts are kept across iterations so the fixpoint
    // test never re-counts the previous frontier (r15: 3 jobs/round
    // -> 1 for the loop bookkeeping)
    var edges = graft.core.Checkpoints.corpus(
      edgeSource.filter(col("id_a") =!= col("id_b"))
        .select(greatest(col("id_a"), col("id_b")).as("c"),
          least(col("id_a"), col("id_b")).as("p"))
        .distinct(), eager = false)
    var edgeCount = edges.count()
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      // large-star: every node links its LARGER neighbors to the min
      // of its neighborhood (needs adjacency in both directions)
      val both = edges.select(col("c").as("u"), col("p").as("v"))
        .union(edges.select(col("p").as("u"), col("c").as("v")))
      val lmins = both.groupBy("u").agg(min("v").as("mn"))
      val large = both.join(lmins, "u")
        .filter(col("v") > col("u"))
        // new edge (v, min(u, mn)): canonical, since min(u, mn) <= u < v
        .select(col("v").as("c"), least(col("u"), col("mn")).as("p"))
      // small-star: every node links its smaller neighbors (its
      // parents, in canonical form) and itself to the smallest one
      val smins = large.groupBy("c").agg(min("p").as("m"))
      val small = smins.select(col("c"), col("m").as("p"))
        .union(large.join(smins, "c").filter(col("p") =!= col("m"))
          .select(col("p").as("c"), col("m").as("p")))
      val next = graft.core.Checkpoints.corpus(small.distinct(), eager = false)
      val nextCount = next.count()
      // exact fixpoint test: same edge set (stars are stable under
      // both operations, so an unchanged round means fully converged)
      converged = nextCount == edgeCount &&
        next.exceptAll(edges).limit(1).count() == 0
      edges = next
      edgeCount = nextCount
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Dedup.clusters did not converge in $maxIter iterations; " +
          "some clusters may retain extra members (raise maxIter)")
    // at the fixpoint each non-root appears exactly once as c; the
    // min-agg also keeps output one-row-per-node if maxIter was hit
    val parents = edges.groupBy("c").agg(min("p").as("cluster"))
      .withColumnRenamed("c", "id")
    nodes.join(parents, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Quality-aware survivor selection: for each duplicate cluster,
    * keep the member with the HIGHEST score (ties → smallest id) —
    * what a production pipeline wants instead of [[clusters]]' min-id
    * convention (the longest / cleanest / highest-LM-score copy
    * survives, not whichever got the smallest id). Returns one row
    * per cluster: (cluster, survivor id, its score). `scored` must
    * hold one row per id appearing in `pairs`.
    *
    * Scale: [[clusters]]' shape plus one broadcast-or-shuffle join of
    * the (tiny) labeled-node set against the score column and a
    * per-cluster window over cluster sizes — near-dup clusters are
    * small by construction, so no skew.
    */
  def clustersKeepBest(
      pairs: DataFrame,
      scored: DataFrame,
      idCol: String,
      scoreCol: String,
      maxIter: Int = 20): DataFrame = {
    val labeled = clusters(pairs, maxIter)
      .localCheckpoint() // reused: the unscored-id check + the join
    val scores = scored.select(col(idCol).as("id"), col(scoreCol).as("score"))
    // a silently-dropped unscored member would elect a WRONG survivor;
    // fail loudly on the violated precondition instead
    val unscored = labeled.join(scores, Seq("id"), "left_anti")
      .select("id").limit(3).collect()
    require(unscored.isEmpty,
      "clustersKeepBest: ids in `pairs` missing from `scored`: " +
        unscored.map(_.get(0)).mkString(", ") + "...")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      .orderBy(col("score").desc, col("id").asc)
    labeled
      .join(scores, "id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("id").as("survivor"), col("score"))
  }

  /** Verify candidate near-duplicate pairs by Levenshtein edit
    * distance — the character-level verify modality (shingle Jaccard
    * misses single-character edits in short documents; edit distance
    * is exact on them). `candidates` carries (aCol, bCol) id pairs
    * from any blocking stage (LSH buckets, adjacent sort keys, ...);
    * texts are capped at `maxLen` chars so the O(len²) DP stays
    * bounded per pair regardless of document size. Output: (id_a,
    * id_b, edit_distance, similarity) with similarity = 1 - dist /
    * max(len) over the capped texts.
    *
    * Scale shape: two id-keyed joins pull the capped texts to the
    * pair — identical to the verify stage of [[ngramJaccardPairs]];
    * cost is linear in candidate pairs, never corpus². */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, aCol: String, bCol: String,
      maxLen: Int = 256): DataFrame = {
    require(maxLen > 0, s"maxLen must be positive: $maxLen")
    val a = docs.select(col(idCol).cast("long").as("__a"),
      substring(col(textCol), 1, maxLen).as("__ta"))
    val b = docs.select(col(idCol).cast("long").as("__b"),
      substring(col(textCol), 1, maxLen).as("__tb"))
    val dist = levenshtein(col("__ta"), col("__tb")).cast("long")
    candidates
      .select(col(aCol).cast("long").as("__a"), col(bCol).cast("long").as("__b"))
      .join(a, "__a").join(b, "__b")
      .select(col("__a").as("id_a"), col("__b").as("id_b"),
        dist.as("edit_distance"),
        round(lit(1.0) - dist.cast("double") /
          greatest(length(col("__ta")), length(col("__tb")), lit(1))
            .cast("double"), 4).as("similarity"))
  }

  /** Blocked fuzzy record linkage — [[editDistancePairs]] with its
    * BLOCKING stage attached, the entity-resolution shape: two
    * records become candidates when they share at least one
    * whitespace token of the lowercased name (multi-key token
    * blocking — a typo that corrupts one token still collides on the
    * others), then every candidate pair is verified by exact
    * Levenshtein distance over the full normalized names. Output:
    * (id_a, id_b, edit_distance) with id_a < id_b, distance <=
    * `maxDistance`.
    *
    * Scale shape: NEVER all-pairs — candidates come from a
    * token-keyed self-join, and blocks larger than `maxBlockSize`
    * are DROPPED ("john" is not evidence two people are the same;
    * an oversized block is a non-discriminative key, the standard
    * blocking rule) — so the join is bounded by
    * `maxBlockSize` per key and linear in qualifying pairs. The
    * size gate rides the same token partitioning as the join key.
    * Recall contract: a pair is found iff SOME shared token sits in
    * a small-enough block; callers needing typo-robust blocking on
    * single-token names should block on n-grams instead. */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
      maxDistance: Int = 2, maxBlockSize: Int = 1000): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0: $maxDistance")
    require(maxBlockSize >= 2, s"maxBlockSize must be >= 2: $maxBlockSize")
    val recs = df.select(col(idCol).cast("long").as("id"),
      lower(trim(col(nameCol))).as("name"))
    val toks = recs.select(col("id"), col("name"),
        explode(split(col("name"), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .dropDuplicates("id", "token")
    val sizes = toks.groupBy("token").agg(count(lit(1)).as("__n"))
    // materialized once: both self-join sides consume it, each
    // otherwise re-running the token explode AND the size-gate join
    val blocked = toks.join(sizes, "token")
      .filter(col("__n").between(2, maxBlockSize))
      .localCheckpoint(eager = false)
    blocked.select(col("token"), col("id").as("id_a"), col("name").as("__na"))
      .join(blocked.select(col("token"), col("id").as("id_b"),
        col("name").as("__nb")), Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("edit_distance",
        levenshtein(col("__na"), col("__nb")).cast("long"))
      .filter(col("edit_distance") <= maxDistance)
      .select("id_a", "id_b", "edit_distance")
  }

  /** Deletion-neighborhood similarity join (the SymSpell blocking
    * scheme): ALL distinct string pairs within Levenshtein distance
    * `maxDistance` (1 or 2), found WITHOUT the quadratic all-pairs
    * scan and WITHOUT recall loss — unlike token blocking
    * ([[blockedFuzzyPairs]]), which misses typos on single-token
    * strings, the deletion key set carries a proof: if
    * lev(a, b) <= k then some string reachable by <= k character
    * deletions from a equals one reachable by <= k deletions from b
    * (delete the edited positions on both sides), so a and b always
    * collide on at least one key in {s} ∪ del_1(s) [∪ del_2(s)].
    * Candidates are verified by exact `levenshtein`, so the output
    * is EXACTLY the distance-threshold pairs — the sf fixture
    * hash-matches a full quadratic oracle.
    *
    * Scale shape: a string of length L contributes 1 + L keys
    * (k = 1) or O(L²) keys (k = 2) — linear/quadratic in STRING
    * length, never in vocabulary size; the self-join shuffles only
    * (key, word) pairs and candidate multiplicity is bounded by the
    * deletion-bucket sizes, so cost is linear in true near-pairs.
    * A 10M-word vocabulary is ~100M keys at k = 1 vs 10¹⁴ quadratic
    * comparisons. Intended for BOUNDED strings (words, names, codes);
    * cap long inputs upstream — deletion neighborhoods of documents
    * are the wrong tool (use [[ngramJaccardPairs]]).
    *
    * Output: (word_a, word_b, edit_distance) with word_a < word_b,
    * lowercased/trimmed, distance <= `maxDistance`. */
  def deletionNeighborhoodPairs(df: DataFrame, wordCol: String,
      maxDistance: Int = 1): DataFrame = {
    require(maxDistance == 1 || maxDistance == 2,
      s"maxDistance must be 1 or 2: $maxDistance")
    val words = df.select(lower(trim(col(wordCol))).as("w"))
      .filter(length(col("w")) > 0).distinct()
    // all single-character deletions of c — empty-safe (deleting the
    // only char of a 1-char string yields "", a legitimate shared key
    // for 1-char-vs-empty-adjacent pairs)
    def del1(c: Column): Column =
      when(length(c) > 0,
        transform(sequence(lit(1), length(c)), i =>
          concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c) - i))))
        .otherwise(array().cast("array<string>"))
    val base = concat(array(col("w")), del1(col("w")))
    val keysArr =
      if (maxDistance == 1) base
      else concat(base, flatten(transform(del1(col("w")), d => del1(d))))
    // materialized once: both self-join sides consume it, and each
    // otherwise re-runs the deletion-neighborhood explode per word
    val keyed = Dedup.spread(words)
      .select(col("w"), explode(array_distinct(keysArr)).as("__key"))
      .localCheckpoint(eager = false)
    keyed.select(col("__key"), col("w").as("word_a"))
      .join(keyed.select(col("__key"), col("w").as("word_b")), Seq("__key"))
      .filter(col("word_a") < col("word_b"))
      .dropDuplicates("word_a", "word_b")
      .withColumn("edit_distance",
        levenshtein(col("word_a"), col("word_b")).cast("long"))
      .filter(col("edit_distance") <= maxDistance)
      .select("word_a", "word_b", "edit_distance")
  }

  /** Soft deduplication — reweighting instead of removal: every
    * document keeps weight 1/|its duplicate cluster| so a group of n
    * near-copies contributes ONE document's worth of training mass
    * while retaining all n surface forms (the alternative to
    * [[clustersKeepBest]]'s hard drop; recent pretraining work
    * samples by exactly this inverse-duplication weight). `pairs` is
    * any (id_a, id_b) match set; unmatched docs form singleton
    * clusters with weight 1.
    *
    * Scale shape: [[clusters]]' label propagation, one per-cluster
    * count aggregate, two id/cluster-keyed joins — the corpus text
    * never moves. Output: (idCol, cluster, cluster_size, weight). */
  def softDedupWeights(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val cl = clusters(pairs)
    val labeled = docs.select(col(idCol).cast("long").as("id"))
      .join(cl, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    val sizes = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster")
      .select(col("id").as(idCol), col("cluster"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size").cast("double"), 6).as("weight"))
  }

  /** Golden-record election (the survivorship step of MDM-style
    * entity resolution): match pairs → transitive closure → ONE
    * canonical record per entity. `pairs` is any (id_a, id_b) match
    * set — typically [[blockedFuzzyPairs]] — closed into components
    * by [[clusters]]; every unmatched record survives as its own
    * singleton entity (left join + coalesce to own id). The canonical
    * record per entity is elected by a deterministic, SQL-replayable
    * rule: smallest (length(name), name, id) — the shortest name is
    * the least-decorated variant, ties break on the text then the id.
    * Swap the struct for a quality score to elect "best" instead of
    * "shortest" (that is [[clustersKeepBest]]'s rule).
    *
    * Output: one row per entity — (cluster, golden_id, golden_name,
    * n_members). Scale shape: the records frame joins the (tiny)
    * cluster labels once, then ONE struct-min aggregate per entity —
    * no window, no per-cluster sort.
    */
  def goldenRecords(records: DataFrame, idCol: String, nameCol: String,
      pairs: DataFrame): DataFrame = {
    val cl = clusters(pairs)
    val labeled = records
      .select(col(idCol).cast("long").as("id"), col(nameCol).as("name"))
      .join(cl, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    labeled.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        min(struct(length(col("name")).as("len"), col("name").as("name"),
          col("id").as("id"))).as("__g"))
      .select(col("cluster"), col("__g.id").as("golden_id"),
        col("__g.name").as("golden_name"), col("n_members"))
  }

  /** Paragraph-level exact dedup with document reassembly (the
    * C4/RefinedWeb line-dedup step): split each document on `sep`,
    * keep only the corpus-wide FIRST occurrence of every distinct
    * paragraph (first by (doc_id, paragraph position)), stitch the
    * survivors back together in their original in-document order, and
    * report per-document kept/dropped counts. Documents whose every
    * paragraph was seen earlier elsewhere disappear from the output.
    *
    * Scale shape: paragraphs shuffle ONCE, keyed by (64-bit content
    * hash, paragraph) — the hash spreads the shuffle, and since the
    * paragraph text travels with its row anyway (unlike [[exact]],
    * which shuffles only hashes), including it in the key costs
    * nothing and makes winner election EXACT under hash collisions.
    * A row_number elects the winner; reassembly is one groupBy on
    * doc_id. No self-join, no driver state, text never shuffles more
    * than twice.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("para_idx", "para")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("para")), col("para"))
      .orderBy(col("doc_id"), col("para_idx"))
    paras
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__rn") === 1, struct(col("para_idx"), col("para"))))),
            _.getField("para")),
          sep).as("clean_text"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__rn") =!= 1, 1L).otherwise(0L)).as("n_dropped"))
      .filter(col("n_kept") > 0)
  }
}
