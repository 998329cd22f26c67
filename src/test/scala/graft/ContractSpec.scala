package graft

/** Guards on the driver contract itself: a typo'd oracle key or an
  * empty flagship query would silently zero part of the round's
  * correctness gate — fail here instead.
  */
class ContractSpec extends SparkTestBase {

  test("every oracle key has a matching query") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
  }

  test("rows-only queries are the documented intentional set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // r6 pinned three former members: emb2 (bit-exact eigensolve
    // replay), pipe1 (full-funnel replay over the ground-truth pair
    // closure), dd2 (verified recall-1 adjudication). r7 pinned dd5
    // (banded LSH recall-1 at the fixture's wide banding, oracled by
    // the sim5 brute-force replay) and dd3 (token hash moved to the
    // SQL-replayable rolling-31+fmix64, brute-force hamming oracle)
    // and k1 (to_json output is byte-replayable on this schema:
    // field-ordered, whitespace-free, shortest-round-trip doubles).
    // r9 pinned sim3 (16x2 multi-probe banding -> candidate recall 1,
    // oracle = the sim1 brute-force sweep). r11 pinned the last three:
    // pf3/pf5/qf2 now emit exact aggregates + bound-check booleans
    // (HLL/percentile within 5%, DEFLATE inside its worst-case
    // expansion + window-doubling bound), so the approximation
    // CONTRACT is what DuckDB verifies. Every query is oracle-backed.
    assert(rowsOnly.isEmpty, s"unexpected rows-only set: $rowsOnly")
  }

  test("query names are unique across family files") {
    // the derived maps keep one entry per name: a second declaration
    // of a name would silently drop a query from the bench and the
    // oracle gate
    val names = SparkEntry.declared.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("the name selector fails on a misspelt name and names it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.named("s1_scan_project, s1_scan_projekt"))
    assert(e.getMessage.contains("s1_scan_projekt"), e.getMessage)
    assert(SparkEntry.named("s1_scan_project, ,f1_filter_where").keySet ==
      Set("s1_scan_project", "f1_filter_where"))
  }

  test("flagship entry returns rows at sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every query executes at sf0.001 and returns a non-degenerate schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf())
      assert(df.columns.nonEmpty, s"$name has no columns")
      withClue(s"query $name failed to execute: ") {
        df.limit(1).collect()
      }
    }
  }
}
