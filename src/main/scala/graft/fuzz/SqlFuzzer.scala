package graft.fuzz

/** Seeded differential SQL generator (verdict r11 #1).
  *
  * The 350 curated queries prove the operators the builder chose to
  * write; they cannot find the divergence nobody curated. This
  * generator produces random-but-reproducible queries over the
  * fixture schemas in the COMMON dialect subset of Spark SQL and
  * DuckDB, so the same text runs on both engines and any result
  * difference is a real semantic divergence (or a generator bug —
  * both worth knowing). Driven by [[graft.Fuzz]] (Spark side) and
  * `tools/check_fuzz.py` (DuckDB side + compare).
  *
  * Dialect-subset rules, each one a known cross-engine trap the
  * generator must not step on (COVERAGE.md "oracle-parity traps"):
  *
  *  - Integer arithmetic happens in BIGINT: Spark (ANSI off) WRAPS an
  *    INT overflow, DuckDB promotes or errors — every int column ref
  *    in arithmetic is CAST to BIGINT first, and multiplication only
  *    pairs a column expression with a small constant so BIGINT never
  *    overflows either.
  *  - `SUM(int)` is CAST to BIGINT (DuckDB returns HUGEINT, which
  *    pandas degrades to float64).
  *  - Division appears only as `x / NULLIF(y, 0)` — DuckDB errors on
  *    division by zero where Spark yields NULL; NULLIF makes both
  *    yield NULL.
  *  - String concatenation uses `||` only (NULL-propagating in both;
  *    `concat()` skips NULLs in DuckDB but propagates in Spark).
  *  - `ROUND` is excluded: half-even/half-away boundary behavior on
  *    binary doubles differs per engine on exact .5 representations.
  *  - Double aggregates are compared with relative tolerance by the
  *    checker (summation order is partition-dependent), so they are
  *    emitted unrounded.
  *  - ORDER BY always spells NULLS FIRST explicitly (Spark defaults
  *    NULLS FIRST on ASC, DuckDB defaults NULLS LAST), and LIMIT only
  *    rides a total order over a non-null unique key (scan/inner-join
  *    templates, which always project the driving table's key).
  *  - NULLs are INJECTED via NULLIF on group keys and projections so
  *    NULL grouping, NULL ordering, and 3-valued logic get exercised
  *    even though the fixture columns are non-null.
  *  - Timestamp literals use `TIMESTAMP '...'`: fixture timestamps
  *    read as NTZ in Spark, and the UTC session makes LTZ-literal
  *    comparison wall-clock-identical to DuckDB's naive semantics.
  *
  * Three more value-level divergences were adjudicated by direct
  * construct probing (r12, both engines, one-liners) and are AVOIDED
  * by the generator as pinned engine differences:
  *
  *  - `CAST(2.7 AS INT)`: Spark truncates (2), DuckDB rounds (3) —
  *    no double→int casts are emitted.
  *  - `TRY_CAST('1.5' AS INT)`: Spark NULL, DuckDB 2 (parses then
  *    rounds) — TRY_CAST only ever sees literals from a pinned pool
  *    whose parse behavior agrees ('abc', '', ' 42 ', '1e3').
  *  - `EXTRACT(DOW FROM ts)`: Spark counts Sunday=1, DuckDB
  *    Sunday=0 — only YEAR/MONTH/DAY/HOUR parts are emitted.
  *  - `SPLIT_PART(NULL, d, n)`: Spark propagates NULL, DuckDB
  *    returns `''` (and a NULL delimiter returns the whole string) —
  *    found by fz0388 after the checker's NULL-comparator fix; the
  *    generator COALESCEs the input to ''.
  *  - `BIT_COUNT(-10)` (INT input): Spark counts the SIGN-EXTENDED
  *    64-bit pattern (62), DuckDB the declared INT32 width (30) —
  *    found BY THIS GATE (fz0039/fz0483, grammar v2's first sweep);
  *    the generator casts every BIT_COUNT input to BIGINT, where
  *    both count 64-bit and agree.
  *  - `date_trunc('month', ts)` returns TIMESTAMP in Spark but DATE
  *    in DuckDB (type-level, values agree) — not emitted in outputs.
  *
  * Everything else — join types (inner/left/right/full/semi/anti via
  * EXISTS), aggregates, HAVING, ROLLUP/CUBE/GROUPING SETS, window
  * functions over ROWS frames, set ops, IN/EXISTS/scalar subqueries,
  * CASE/COALESCE/NULLIF, LIKE, GREATEST/LEAST (NULL-skipping in
  * both), TRY_CAST null-injection, IS [NOT] DISTINCT FROM, INTERVAL
  * arithmetic, and the shared string-function family (REPLACE,
  * REVERSE, L/RPAD, REPEAT, SPLIT_PART, LEFT/RIGHT, INSTR, CONTAINS,
  * CONCAT_WS, BIT_COUNT) — is generated freely.
  *
  * Grammar v3 (r13, each construct pair-probed on both engines over
  * sf0.01 before adoption — 16/16 agreed): correlated scalar
  * subqueries with outer references (COUNT/MAX over an FK equality,
  * in the SELECT list and the WHERE), RANGE window frames over a
  * single non-null BIGINT order key (peer-closed, so tie groups
  * aggregate identical multisets), DISTINCT aggregates
  * (SUM/AVG DISTINCT beyond COUNT), chained CTEs (2–3 deep over a
  * typed synthetic scope), and ORDER BY + LIMIT inside parenthesized
  * set-op branches (total order on the driving key keeps the cut
  * content-deterministic).
  */
object SqlFuzzer {

  // ---- deterministic RNG (splitmix64; no java.util.Random so the
  // sequence is pinned by this file alone) ----
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = Math.floorMod(nextLong(), n.toLong).toInt
    def oneOf[T](xs: Seq[T]): T = xs(nextInt(xs.size))
    def chance(p: Double): Boolean = nextInt(1000) < math.round(p * 1000).toInt
  }

  // ---- fixture schema model ----
  sealed trait Typ
  case object TInt extends Typ // INTEGER or BIGINT — arithmetic in BIGINT
  case object TDouble extends Typ
  case object TString extends Typ
  case object TTs extends Typ

  final case class Col(name: String, typ: Typ)
  final case class Tab(name: String, cols: Seq[Col], key: Seq[String]) {
    def of(t: Typ): Seq[Col] = cols.filter(_.typ == t)
  }

  val tables: Seq[Tab] = Seq(
    Tab("region", Seq(Col("r_regionkey", TInt), Col("r_name", TString)),
      Seq("r_regionkey")),
    Tab("nation", Seq(Col("n_nationkey", TInt), Col("n_name", TString),
      Col("n_regionkey", TInt)), Seq("n_nationkey")),
    Tab("customer", Seq(Col("c_custkey", TInt), Col("c_name", TString),
      Col("c_nationkey", TInt), Col("c_acctbal", TDouble),
      Col("c_mktsegment", TString)), Seq("c_custkey")),
    Tab("supplier", Seq(Col("s_suppkey", TInt), Col("s_name", TString),
      Col("s_nationkey", TInt), Col("s_acctbal", TDouble)),
      Seq("s_suppkey")),
    Tab("part", Seq(Col("p_partkey", TInt), Col("p_name", TString),
      Col("p_brand", TString), Col("p_type", TString),
      Col("p_size", TInt), Col("p_retailprice", TDouble)),
      Seq("p_partkey")),
    Tab("orders", Seq(Col("o_orderkey", TInt), Col("o_custkey", TInt),
      Col("o_orderstatus", TString), Col("o_totalprice", TDouble),
      Col("o_orderdate", TTs), Col("o_orderpriority", TString)),
      Seq("o_orderkey")),
    Tab("lineitem", Seq(Col("l_orderkey", TInt), Col("l_partkey", TInt),
      Col("l_suppkey", TInt), Col("l_linenumber", TInt),
      Col("l_quantity", TDouble), Col("l_extendedprice", TDouble),
      Col("l_discount", TDouble), Col("l_tax", TDouble),
      Col("l_returnflag", TString), Col("l_linestatus", TString),
      Col("l_shipdate", TTs)),
      // the SYNTHETIC lineitem has no unique key — (l_orderkey,
      // l_linenumber) repeats (fz0121 found this the hard way: an
      // ambiguous window ORDER BY let each engine tie-break its own
      // way). ALL columns as the "key" gives a total order up to
      // fully-duplicate rows, and every window function the generator
      // emits is multiset-invariant across permutations of identical
      // rows, so LIMIT cuts and window frames stay engine-agnostic.
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")),
    // LLM-pipeline fixtures too (all-ASCII text, so upper/lower/
    // length semantics agree; events.ts converted to micros on the
    // Spark side exactly like queries.Fixtures.events)
    Tab("documents", Seq(Col("doc_id", TInt), Col("text", TString),
      Col("lang", TString), Col("source", TString),
      Col("n_chars", TInt)), Seq("doc_id")),
    Tab("events", Seq(Col("event_id", TInt), Col("ts", TTs),
      Col("user_id", TInt), Col("event_type", TString),
      Col("value", TDouble), Col("props", TString)), Seq("event_id")))

  /** FK edges (child col = parent key) the join generator walks. */
  final case class Fk(child: String, childCol: String, parent: String,
      parentCol: String)
  val fks: Seq[Fk] = Seq(
    Fk("nation", "n_regionkey", "region", "r_regionkey"),
    Fk("customer", "c_nationkey", "nation", "n_nationkey"),
    Fk("supplier", "s_nationkey", "nation", "n_nationkey"),
    Fk("orders", "o_custkey", "customer", "c_custkey"),
    Fk("lineitem", "l_orderkey", "orders", "o_orderkey"),
    Fk("lineitem", "l_partkey", "part", "p_partkey"),
    Fk("lineitem", "l_suppkey", "supplier", "s_suppkey"))

  private def tab(name: String): Tab = tables.find(_.name == name).get

  // value domains sampled from the fixtures (sf-stable: generated
  // with seed 42 at every sf) so predicates hit non-trivial subsets
  private val stringDomain: Map[String, Seq[String]] = Map(
    "o_orderstatus" -> Seq("O", "F", "P"),
    "l_returnflag" -> Seq("A", "N", "R"),
    "l_linestatus" -> Seq("O", "F"),
    "c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY"),
    "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW"),
    "r_name" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
    "lang" -> Seq("en", "zh", "es", "de", "fr"),
    "source" -> Seq("src0", "src7", "src13", "src19"),
    "event_type" -> Seq("click", "view", "purchase", "signup", "error"))
  private val likePatterns =
    Seq("A%", "%a%", "%er%", "%E", "_U%", "%1%", "%-%", "x%")
  // per-column literal pools: orders/lineitem span 1995-2001, the
  // events stream lives in 2024-01 — a shared pool would make every
  // events predicate constant-true/false
  private val tsLiteralsTpch = Seq(
    "1995-06-17 12:00:00", "1996-03-31 00:00:00", "1997-12-24 23:59:59",
    "1999-01-01 00:00:00", "2000-07-04 06:30:00")
  private val tsLiteralsEvents = Seq(
    "2024-01-05 00:00:00", "2024-01-12 18:00:00", "2024-01-20 09:30:00",
    "2024-01-28 23:59:59")
  private def tsLit(colName: String, r: Rng): String =
    if (colName == "ts") r.oneOf(tsLiteralsEvents)
    else r.oneOf(tsLiteralsTpch)
  private val intLits = Seq(0L, 1L, 2L, 3L, 5L, 7L, 10L, 25L, 100L, 1000L,
    -1L, -10L)
  private val dblLits = Seq(0.0, 0.5, 1.0, 2.25, 10.0, 100.0, 1000.0,
    50000.0, -5.5)

  // ---- expression generators (depth-limited) ----

  private def intColRef(t: Tab, r: Rng): String =
    s"CAST(${r.oneOf(t.of(TInt)).name} AS BIGINT)"

  def intExpr(t: Tab, r: Rng, depth: Int = 2): String = {
    if (depth <= 0 || t.of(TInt).isEmpty || r.chance(0.35)) {
      if (t.of(TInt).nonEmpty && r.chance(0.8)) intColRef(t, r)
      else r.oneOf(intLits).toString
    } else r.nextInt(12) match {
      case 0 => s"(${intExpr(t, r, depth - 1)} + ${intExpr(t, r, depth - 1)})"
      case 1 => s"(${intExpr(t, r, depth - 1)} - ${intExpr(t, r, depth - 1)})"
      case 2 => s"(${intExpr(t, r, depth - 1)} * ${1 + r.nextInt(9)})"
      case 3 => s"ABS(${intExpr(t, r, depth - 1)})"
      case 4 => s"MOD(${intExpr(t, r, depth - 1)}, ${2 + r.nextInt(11)})"
      case 5 => s"COALESCE(NULLIF(${intExpr(t, r, depth - 1)}, " +
        s"${r.oneOf(intLits)}), ${r.oneOf(intLits)})"
      case 6 if t.of(TString).nonEmpty =>
        s"CAST(LENGTH(${r.oneOf(t.of(TString)).name}) AS BIGINT)"
      case 6 => intColRef(t, r)
      case 7 => s"${r.oneOf(Seq("GREATEST", "LEAST"))}(" +
        s"${intExpr(t, r, depth - 1)}, ${intExpr(t, r, depth - 1)})"
      case 8 => // TRY_CAST null-injection from the PINNED literal pool
        s"COALESCE(TRY_CAST(${r.oneOf(tryCastPool)} AS BIGINT), " +
          s"${intExpr(t, r, depth - 1)})"
      case 9 =>
        // width matters: on a negative 32-bit input Spark counts the
        // sign-extended 64-bit pattern (bit_count(-10)=62) while
        // DuckDB counts the INT32 width (30) — found by fz0039/fz0483;
        // an explicit BIGINT cast makes both count 64-bit
        s"BIT_COUNT(CAST(${intExpr(t, r, depth - 1)} AS BIGINT))"
      case 10 if t.of(TString).nonEmpty =>
        s"CAST(INSTR(${r.oneOf(t.of(TString)).name}, " +
          s"'${r.oneOf(Seq("a", "e", "1", "-"))}') AS BIGINT)"
      case 10 => intColRef(t, r)
      case _ => s"(CASE WHEN ${pred(t, r, 1)} THEN ${intExpr(t, r, 0)} " +
        s"ELSE ${intExpr(t, r, 0)} END)"
    }
  }

  // TRY_CAST sources whose behavior agrees across engines (probed
  // r12): decimal-looking strings like '1.5' DIVERGE (Spark NULL,
  // DuckDB rounds) and never appear here
  private val tryCastPool =
    Seq("'abc'", "''", "' 42 '", "'7'", "'-3'", "NULL")

  def dblExpr(t: Tab, r: Rng, depth: Int = 2): String = {
    if (depth <= 0 || t.of(TDouble).isEmpty || r.chance(0.35)) {
      if (t.of(TDouble).nonEmpty && r.chance(0.8)) r.oneOf(t.of(TDouble)).name
      else r.oneOf(dblLits).toString
    } else r.nextInt(9) match {
      case 0 => s"(${dblExpr(t, r, depth - 1)} + ${dblExpr(t, r, depth - 1)})"
      case 1 => s"(${dblExpr(t, r, depth - 1)} - ${dblExpr(t, r, depth - 1)})"
      case 2 => s"(${dblExpr(t, r, depth - 1)} * ${r.oneOf(Seq("0.5", "1.5", "2.0", "0.1"))})"
      case 3 => s"(${dblExpr(t, r, depth - 1)} / NULLIF(${dblExpr(t, r, depth - 1)}, 0.0))"
      case 4 => s"ABS(${dblExpr(t, r, depth - 1)})"
      case 5 => s"SQRT(ABS(${dblExpr(t, r, depth - 1)}))"
      case 6 => s"LN(ABS(${dblExpr(t, r, depth - 1)}) + 1.0)"
      case 7 => s"${r.oneOf(Seq("GREATEST", "LEAST"))}(" +
        s"${dblExpr(t, r, depth - 1)}, ${dblExpr(t, r, depth - 1)})"
      case _ => s"CAST(${intExpr(t, r, depth - 1)} AS DOUBLE)"
    }
  }

  def strExpr(t: Tab, r: Rng, depth: Int = 2): String = {
    val strs = t.of(TString)
    if (strs.isEmpty) "'x'"
    else if (depth <= 0 || r.chance(0.4)) r.oneOf(strs).name
    else r.nextInt(11) match {
      case 0 => s"UPPER(${strExpr(t, r, depth - 1)})"
      case 1 => s"LOWER(${strExpr(t, r, depth - 1)})"
      case 2 => s"SUBSTR(${strExpr(t, r, depth - 1)}, ${1 + r.nextInt(3)}, ${2 + r.nextInt(8)})"
      case 3 => s"(${strExpr(t, r, depth - 1)} || ${strExpr(t, r, depth - 1)})"
      case 4 => s"REPLACE(${strExpr(t, r, depth - 1)}, " +
        s"'${r.oneOf(Seq("a", "e", "r", "1"))}', '${r.oneOf(Seq("_", "@", ""))}')"
      case 5 => s"REVERSE(${strExpr(t, r, depth - 1)})"
      case 6 => s"${r.oneOf(Seq("LPAD", "RPAD"))}(" +
        s"${strExpr(t, r, depth - 1)}, ${3 + r.nextInt(8)}, '${r.oneOf(Seq("0", "xy", "."))}')"
      case 7 => s"${r.oneOf(Seq("LEFT", "RIGHT"))}(" +
        s"${strExpr(t, r, depth - 1)}, ${1 + r.nextInt(6)})"
      case 8 =>
        // DuckDB's split_part treats a NULL string as '' (and a NULL
        // delimiter as no-split) where Spark propagates NULL — found
        // by the NULL-comparator fix unmasking fz0388 (outer-join
        // NULLs reaching the function); COALESCE pins both to ''
        s"SPLIT_PART(COALESCE(${strExpr(t, r, depth - 1)}, ''), " +
          s"'${r.oneOf(Seq(" ", "a", "-"))}', ${1 + r.nextInt(3)})"
      case 9 => s"CONCAT_WS('${r.oneOf(Seq("-", ":", ""))}', " +
        s"${strExpr(t, r, depth - 1)}, " +
        s"NULLIF(${r.oneOf(strs).name}, ${strLit(r.oneOf(strs).name, r)}))"
      case _ => s"COALESCE(NULLIF(${r.oneOf(strs).name}, ${strLit(r.oneOf(strs).name, r)}), '~')"
    }
  }

  private def strLit(colName: String, r: Rng): String = {
    val v = stringDomain.get(colName) match {
      case Some(dom) => r.oneOf(dom)
      case None => r.oneOf(Seq("a", "x", "Customer", "PROMO", ""))
    }
    s"'${v.replace("'", "''")}'"
  }

  def pred(t: Tab, r: Rng, depth: Int = 2): String = {
    if (depth <= 0 || r.chance(0.3)) atomicPred(t, r)
    else r.nextInt(4) match {
      case 0 => s"(${pred(t, r, depth - 1)} AND ${pred(t, r, depth - 1)})"
      case 1 => s"(${pred(t, r, depth - 1)} OR ${pred(t, r, depth - 1)})"
      case 2 => s"(NOT ${pred(t, r, depth - 1)})"
      case _ => atomicPred(t, r)
    }
  }

  private val cmps = Seq("=", "<>", "<", "<=", ">", ">=")

  private def atomicPred(t: Tab, r: Rng): String = r.nextInt(10) match {
    case 0 => s"${intExpr(t, r, 1)} ${r.oneOf(cmps)} ${r.oneOf(intLits)}"
    case 1 if t.of(TDouble).nonEmpty =>
      s"${dblExpr(t, r, 1)} ${r.oneOf(cmps)} ${r.oneOf(dblLits)}"
    case 2 if t.of(TString).nonEmpty =>
      val c = r.oneOf(t.of(TString)).name
      s"$c ${r.oneOf(Seq("=", "<>"))} ${strLit(c, r)}"
    case 3 if t.of(TString).nonEmpty =>
      s"${r.oneOf(t.of(TString)).name} LIKE '${r.oneOf(likePatterns)}'"
    case 4 if t.of(TTs).nonEmpty =>
      val c = r.oneOf(t.of(TTs)).name
      s"$c ${r.oneOf(cmps)} TIMESTAMP '${tsLit(c, r)}'"
    case 5 =>
      val e = intExpr(t, r, 1)
      val lits = Seq.fill(2 + r.nextInt(4))(r.oneOf(intLits)).distinct
      s"$e ${if (r.chance(0.3)) "NOT IN" else "IN"} (${lits.mkString(", ")})"
    case 6 =>
      val lo = r.oneOf(intLits); val hi = lo + 1 + r.nextInt(1000)
      s"${intExpr(t, r, 1)} BETWEEN $lo AND $hi"
    case 7 =>
      // NULLIF-injected IS [NOT] NULL — fixture cols are non-null, so
      // null checks only bite through injection or outer joins
      val c = t.of(TInt).headOption.map(_.name).getOrElse(t.cols.head.name)
      s"NULLIF($c, ${r.oneOf(intLits)}) IS ${if (r.chance(0.5)) "" else "NOT "}NULL"
    case 8 =>
      // NULL-safe equality over injected NULLs (3-valued-logic probe)
      s"NULLIF(${intExpr(t, r, 1)}, ${r.oneOf(intLits)}) IS " +
        s"${if (r.chance(0.5)) "" else "NOT "}DISTINCT FROM " +
        s"NULLIF(${intExpr(t, r, 1)}, ${r.oneOf(intLits)})"
    case _ if t.of(TTs).nonEmpty =>
      // INTERVAL arithmetic in the predicate (probed: identical)
      val c = r.oneOf(t.of(TTs)).name
      val iv = r.oneOf(Seq("1 DAY", "3 DAY", "12 HOUR", "90 MINUTE"))
      s"($c + INTERVAL $iv) ${r.oneOf(cmps)} TIMESTAMP '${tsLit(c, r)}'"
    case _ if t.of(TString).nonEmpty =>
      s"CONTAINS(${r.oneOf(t.of(TString)).name}, " +
        s"'${r.oneOf(Seq("a", "er", "1", "-", "o"))}')"
    case _ =>
      s"${intExpr(t, r, 1)} ${r.oneOf(cmps)} ${r.oneOf(intLits)}"
  }

  // ---- projections ----

  /** One typed select item; aliased c<i> by the caller. */
  private def anyExpr(t: Tab, r: Rng): String = r.nextInt(10) match {
    case 0 | 1 | 2 => intExpr(t, r)
    case 3 | 4 => dblExpr(t, r)
    case 5 | 6 => strExpr(t, r)
    case 7 if t.of(TTs).nonEmpty =>
      s"EXTRACT(YEAR FROM ${r.oneOf(t.of(TTs)).name})"
    case 8 => s"(CASE WHEN ${pred(t, r, 1)} THEN 1 ELSE 0 END)"
    case _ => s"NULLIF(${intExpr(t, r, 1)}, ${r.oneOf(intLits)})"
  }

  // ---- query templates ----

  /** A joined FROM clause following FK edges; returns (fromSql,
    * virtual table of in-scope cols, driving table whose key stays
    * unique under inner joins, whether any outer join occurred). */
  private def joinFrom(r: Rng): (String, Tab, Tab, Boolean) = {
    val start = r.oneOf(fks)
    val hops = 1 + r.nextInt(2)
    var sql = start.child
    var cols = tab(start.child).cols
    var joined = Set(start.child)
    var outer = false
    var edge = start
    var more = true
    var hop = 0
    while (hop < hops && more) {
      val jt = r.oneOf(Seq("JOIN", "JOIN", "JOIN", "LEFT JOIN", "RIGHT JOIN",
        "FULL JOIN"))
      if (jt != "JOIN") outer = true
      sql += s" $jt ${edge.parent} ON ${edge.childCol} = ${edge.parentCol}"
      cols = cols ++ tab(edge.parent).cols
      joined += edge.parent
      // walk upward: next edge starts from the parent we just added
      val next = fks.filter(f => f.child == edge.parent && !joined(f.parent))
      if (next.isEmpty) more = false else edge = r.oneOf(next)
      hop += 1
    }
    (sql, Tab("__joined", cols, tab(start.child).key), tab(start.child), outer)
  }

  private def selectList(t: Tab, r: Rng, n: Int,
      mustInclude: Seq[String] = Nil): (String, Seq[String]) = {
    val items = mustInclude.zipWithIndex.map { case (c, i) => s"$c AS k$i" } ++
      (0 until n).map(i => s"${anyExpr(t, r)} AS c$i")
    (items.mkString(", "), mustInclude.indices.map(i => s"k$i") ++
      (0 until n).map(i => s"c$i"))
  }

  private def scanQuery(r: Rng): String = {
    val t = r.oneOf(tables)
    val (sel, outCols) = selectList(t, r, 2 + r.nextInt(3),
      mustInclude = t.key)
    val base = s"SELECT $sel FROM ${t.name} WHERE ${pred(t, r)}"
    if (r.chance(0.4)) {
      val keys = t.key.indices.map(i => s"k$i NULLS FIRST").mkString(", ")
      s"SELECT * FROM ($base) q ORDER BY $keys LIMIT ${50 + r.nextInt(500)}"
    } else base
  }

  private def joinQuery(r: Rng): String = {
    val (from, scope, driver, outer) = joinFrom(r)
    val (sel, _) = selectList(scope, r, 2 + r.nextInt(3),
      mustInclude = driver.key)
    val base = s"SELECT $sel FROM $from WHERE ${pred(scope, r)}"
    if (!outer && r.chance(0.35)) {
      val keys = driver.key.indices.map(i => s"k$i NULLS FIRST").mkString(", ")
      s"SELECT * FROM ($base) q ORDER BY $keys LIMIT ${50 + r.nextInt(500)}"
    } else base
  }

  private def aggExpr(t: Tab, r: Rng): String = r.nextInt(10) match {
    case 0 => "COUNT(*)"
    case 1 => s"COUNT(${anyGroupable(t, r)})"
    case 2 => s"COUNT(DISTINCT ${anyGroupable(t, r)})"
    case 3 => s"CAST(SUM(${intExpr(t, r, 1)}) AS BIGINT)"
    case 4 if t.of(TDouble).nonEmpty => s"SUM(${dblExpr(t, r, 1)})"
    case 5 if t.of(TDouble).nonEmpty => s"AVG(${dblExpr(t, r, 1)})"
    case 6 => s"MIN(${anyGroupable(t, r)})"
    case 7 => s"MAX(${anyGroupable(t, r)})"
    // grammar v3 (probed r13): DISTINCT aggregates beyond COUNT —
    // the distinct set is exact, so SUM(DISTINCT int) compares
    // exactly and AVG(DISTINCT dbl) under the float tolerance
    case 8 => s"CAST(SUM(DISTINCT ${intExpr(t, r, 1)}) AS BIGINT)"
    case _ if t.of(TDouble).nonEmpty =>
      s"AVG(DISTINCT ${r.oneOf(t.of(TDouble)).name})"
    case _ => s"CAST(SUM(DISTINCT ${intExpr(t, r, 1)}) AS BIGINT)"
  }

  /** Group key: low-ish cardinality, NULLIF-injected sometimes. */
  private def groupKey(t: Tab, r: Rng): String = {
    val base = r.nextInt(4) match {
      case 0 if t.of(TString).nonEmpty => r.oneOf(t.of(TString)).name
      case 1 if t.of(TTs).nonEmpty =>
        s"EXTRACT(YEAR FROM ${r.oneOf(t.of(TTs)).name})"
      case 2 => s"MOD(${intColRef(t, r)}, ${2 + r.nextInt(9)})"
      case _ if t.of(TString).nonEmpty =>
        s"SUBSTR(${r.oneOf(t.of(TString)).name}, 1, ${1 + r.nextInt(2)})"
      case _ => s"MOD(${intColRef(t, r)}, ${2 + r.nextInt(9)})"
    }
    if (r.chance(0.25)) base match {
      case b if b.startsWith("MOD") || b.startsWith("EXTRACT") =>
        s"NULLIF($b, ${r.nextInt(5)})"
      case b => s"NULLIF($b, ${strLit("", r)})"
    } else base
  }

  private def anyGroupable(t: Tab, r: Rng): String =
    r.oneOf(t.cols.filter(_.typ != TTs)).name

  private def aggQuery(r: Rng): String = {
    val useJoin = r.chance(0.45)
    val (from, scope) =
      if (useJoin) { val (f, s, _, _) = joinFrom(r); (f, s) }
      else { val t = r.oneOf(tables); (t.name, t) }
    val nKeys = 1 + r.nextInt(2)
    val keys = (0 until nKeys).map(_ => groupKey(scope, r)).distinct
    val aggs = (0 until 1 + r.nextInt(3)).map(_ => aggExpr(scope, r))
    val keySel = keys.zipWithIndex.map { case (k, i) => s"$k AS g$i" }
    val aggSel = aggs.zipWithIndex.map { case (a, i) => s"$a AS a$i" }
    val grouping = r.nextInt(10) match {
      case 0 => s"ROLLUP(${keys.mkString(", ")})"
      case 1 => s"CUBE(${keys.mkString(", ")})"
      case 2 if keys.size > 1 =>
        s"GROUPING SETS ((${keys.mkString(", ")}), (${keys.head}), ())"
      case _ => keys.mkString(", ")
    }
    val having =
      if (r.chance(0.3)) s" HAVING COUNT(*) > ${1 + r.nextInt(5)}" else ""
    val where = if (r.chance(0.7)) s" WHERE ${pred(scope, r)}" else ""
    s"SELECT ${(keySel ++ aggSel).mkString(", ")} FROM $from$where " +
      s"GROUP BY $grouping$having"
  }

  private def windowQuery(r: Rng): String = {
    val t = r.oneOf(tables.filter(_.cols.size >= 4))
    val part = groupKey(t, r)
    val ord = t.key.map(k => s"$k NULLS FIRST").mkString(", ")
    val over = s"OVER (PARTITION BY $part ORDER BY $ord)"
    val frame = s"OVER (PARTITION BY $part ORDER BY $ord " +
      s"ROWS BETWEEN ${r.nextInt(3)} PRECEDING AND CURRENT ROW)"
    val wf = r.nextInt(6) match {
      case 0 => s"ROW_NUMBER() $over"
      case 1 => s"RANK() $over"
      case 2 => s"DENSE_RANK() $over"
      case 3 => s"LAG(${intColRef(t, r)}, 1) $over"
      case 4 => s"LEAD(${intColRef(t, r)}, 1) $over"
      case _ => s"CAST(SUM(${intExpr(t, r, 1)}) $frame AS BIGINT)"
    }
    val keySel = t.key.zipWithIndex.map { case (k, i) => s"$k AS k$i" }
    s"SELECT ${keySel.mkString(", ")}, $part AS g0, $wf AS w0 " +
      s"FROM ${t.name} WHERE ${pred(t, r)}"
  }

  private def setOpQuery(r: Rng): String = {
    val t = r.oneOf(tables)
    val (sel, _) = selectList(t, r, 2 + r.nextInt(2), mustInclude = t.key)
    val op = r.oneOf(Seq("UNION", "UNION ALL", "INTERSECT", "EXCEPT"))
    if (r.chance(0.35)) {
      // grammar v3 (probed r13): ORDER BY + LIMIT INSIDE parenthesized
      // set-op branches — deterministic because each branch orders on
      // the driving key (total up to fully-duplicate rows, whose
      // projections are identical, so any tie cut is multiset-equal)
      val keys = t.key.indices.map(i => s"k$i NULLS FIRST").mkString(", ")
      s"(SELECT $sel FROM ${t.name} WHERE ${pred(t, r)} " +
        s"ORDER BY $keys LIMIT ${50 + r.nextInt(300)}) $op " +
        s"(SELECT $sel FROM ${t.name} WHERE ${pred(t, r)} " +
        s"ORDER BY $keys LIMIT ${50 + r.nextInt(300)})"
    } else
      s"SELECT $sel FROM ${t.name} WHERE ${pred(t, r)} " +
        s"$op SELECT $sel FROM ${t.name} WHERE ${pred(t, r)}"
  }

  private def subqueryQuery(r: Rng): String = {
    val edge = r.oneOf(fks)
    val child = tab(edge.child); val parent = tab(edge.parent)
    val (sel, _) = selectList(child, r, 2, mustInclude = child.key)
    r.nextInt(3) match {
      case 0 => // IN / NOT IN over the FK (inner side non-null keys)
        s"SELECT $sel FROM ${child.name} WHERE ${edge.childCol} IN " +
          s"(SELECT ${edge.parentCol} FROM ${parent.name} " +
          s"WHERE ${pred(parent, r, 1)})"
      case 1 => // correlated EXISTS / NOT EXISTS
        val not = if (r.chance(0.4)) "NOT " else ""
        s"SELECT $sel FROM ${child.name} WHERE ${not}EXISTS " +
          s"(SELECT 1 FROM ${parent.name} WHERE " +
          s"${parent.name}.${edge.parentCol} = ${child.name}.${edge.childCol} " +
          s"AND ${pred(parent, r, 1)})"
      case _ => // scalar subquery in the predicate
        val agg = if (parent.of(TDouble).nonEmpty && r.chance(0.5))
          s"AVG(${r.oneOf(parent.of(TDouble)).name})"
        else s"CAST(MAX(CAST(${r.oneOf(parent.of(TInt)).name} AS BIGINT)) AS DOUBLE)"
        s"SELECT $sel FROM ${child.name} WHERE " +
          s"CAST(${intExpr(child, r, 1)} AS DOUBLE) <= " +
          s"(SELECT $agg FROM ${parent.name}) / ${1 + r.nextInt(20)}"
    }
  }

  /** RANGE window frames (grammar v3, probed r13): a single NON-NULL
    * numeric order key (value frames need one; fixture int cols are
    * non-null and never NULLIF-injected here), peer-closed frames so
    * tie groups aggregate the same multiset in both engines. */
  private def rangeWindowQuery(r: Rng): String = {
    val t = r.oneOf(tables.filter(_.of(TInt).nonEmpty))
    val part = groupKey(t, r)
    val ord = s"CAST(${r.oneOf(t.of(TInt)).name} AS BIGINT)"
    val frame = r.nextInt(4) match {
      case 0 => s"RANGE BETWEEN ${1 + r.nextInt(1000)} PRECEDING AND CURRENT ROW"
      case 1 => "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
      case 2 => "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
      case _ => s"RANGE BETWEEN ${2 + r.nextInt(100)} PRECEDING AND 1 PRECEDING"
    }
    val over = s"OVER (PARTITION BY $part ORDER BY $ord $frame)"
    val wf = r.nextInt(4) match {
      case 0 => s"CAST(SUM(${intExpr(t, r, 1)}) $over AS BIGINT)"
      case 1 => s"COUNT(*) $over"
      case 2 if t.of(TDouble).nonEmpty =>
        s"MIN(${r.oneOf(t.of(TDouble)).name}) $over"
      case 3 if t.of(TDouble).nonEmpty =>
        s"MAX(${r.oneOf(t.of(TDouble)).name}) $over"
      case _ => s"COUNT(*) $over"
    }
    val keySel = t.key.zipWithIndex.map { case (k, i) => s"$k AS k$i" }
    s"SELECT ${keySel.mkString(", ")}, $part AS g0, $wf AS w0 " +
      s"FROM ${t.name} WHERE ${pred(t, r)}"
  }

  /** Correlated subqueries with outer references (grammar v3, probed
    * r13): aggregate scalar subqueries correlated on an FK equality —
    * the shape Spark's correlated-scalar support guarantees single-
    * row. COUNT(*) probes the zero-match case (0, never NULL); MAX
    * probes NULL-on-empty propagation into the outer row. */
  private def correlatedQuery(r: Rng): String = {
    val edge = r.oneOf(fks)
    val child = tab(edge.child); val parent = tab(edge.parent)
    val corr = s"${edge.child}.${edge.childCol} = " +
      s"${edge.parent}.${edge.parentCol}"
    val keySel = parent.key.zipWithIndex.map { case (k, i) => s"$k AS k$i" }
    r.nextInt(3) match {
      case 0 => // per-parent child COUNT in the SELECT list
        s"SELECT ${keySel.mkString(", ")}, (SELECT COUNT(*) " +
          s"FROM ${edge.child} WHERE $corr AND ${pred(child, r, 1)}) AS c0 " +
          s"FROM ${edge.parent} WHERE ${pred(parent, r, 1)}"
      case 1 => // scalar MAX: NULL on empty match set in both engines
        val m = r.oneOf(child.of(TInt)).name
        s"SELECT ${keySel.mkString(", ")}, (SELECT CAST(MAX(CAST($m " +
          s"AS BIGINT)) AS BIGINT) FROM ${edge.child} WHERE $corr AND " +
          s"${pred(child, r, 1)}) AS c0 FROM ${edge.parent}"
      case _ => // correlated aggregate compared in the outer WHERE
        val (sel, _) = selectList(parent, r, 2, mustInclude = parent.key)
        s"SELECT $sel FROM ${edge.parent} WHERE (SELECT COUNT(*) " +
          s"FROM ${edge.child} WHERE $corr AND ${pred(child, r, 1)}) " +
          s"${r.oneOf(cmps)} ${1 + r.nextInt(10)}"
    }
  }

  /** Chained CTEs (grammar v3, probed r13): t0 projects typed aliases
    * off a fixture table, t1 (and sometimes t2) filter the synthetic
    * scope, the final select aggregates or filters again — the alias
    * scoping / predicate-pushdown-through-CTE surface. */
  private def cteQuery(r: Rng): String = {
    val t = r.oneOf(tables)
    val picks = (0 until 2 + r.nextInt(2)).map { i =>
      r.nextInt(3) match {
        case 0 => (s"${intExpr(t, r, 1)} AS x$i", Col(s"x$i", TInt))
        case 1 if t.of(TDouble).nonEmpty =>
          (s"${dblExpr(t, r, 1)} AS x$i", Col(s"x$i", TDouble))
        case _ => (s"${strExpr(t, r, 1)} AS x$i", Col(s"x$i", TString))
      }
    }
    val keySel = t.key.zipWithIndex.map { case (k, i) => s"$k AS k$i" }
    val keyCols = t.key.zipWithIndex.map { case (k, i) =>
      Col(s"k$i", t.cols.find(_.name == k).get.typ) }
    val scope = Tab("t1", keyCols ++ picks.map(_._2), keyCols.map(_.name))
    val cte0 = s"t0 AS (SELECT ${(keySel ++ picks.map(_._1)).mkString(", ")} " +
      s"FROM ${t.name} WHERE ${pred(t, r, 1)})"
    val cte1 = s"t1 AS (SELECT * FROM t0 WHERE ${pred(scope, r, 1)})"
    val chain =
      if (r.chance(0.3))
        s"$cte0, $cte1, t2 AS (SELECT * FROM t1 WHERE ${pred(scope, r, 1)})"
      else s"$cte0, $cte1"
    val last = if (chain.contains("t2 AS")) "t2" else "t1"
    if (r.chance(0.5)) {
      val key = groupKey(scope, r)
      val aggs = (0 until 1 + r.nextInt(2)).map(_ => aggExpr(scope, r))
        .zipWithIndex.map { case (a, i) => s"$a AS a$i" }
      s"WITH $chain SELECT $key AS g0, ${aggs.mkString(", ")} " +
        s"FROM $last GROUP BY $key"
    } else
      s"WITH $chain SELECT * FROM $last WHERE ${pred(scope, r, 1)}"
  }

  /** Generate one deterministic query for a seed. */
  def generate(seed: Long): String = {
    val r = new Rng(seed)
    r.nextInt(100) match {
      case n if n < 14 => scanQuery(r)
      case n if n < 33 => joinQuery(r)
      case n if n < 55 => aggQuery(r)
      case n if n < 63 => windowQuery(r)
      case n if n < 70 => rangeWindowQuery(r)
      case n if n < 81 => setOpQuery(r)
      case n if n < 89 => subqueryQuery(r)
      case n if n < 95 => correlatedQuery(r)
      case _ => cteQuery(r)
    }
  }
}
