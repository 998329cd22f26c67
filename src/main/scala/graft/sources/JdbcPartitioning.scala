package graft.sources

/** Dialect-specific partition-predicate generation for parallel JDBC
  * scans — the Spark-side equivalent of the reference's per-database
  * chunking, expressed as `spark.read.jdbc(url, table, predicates)`
  * predicate arrays so each Spark task owns one source-side slice.
  *
  * Reference strategies re-expressed (SURVEY.md §2.1):
  *  - Oracle `ora_hash(rowid, N-1) = i` (`manager/OracleManager.java:34-81`)
  *  - SQL Server `ABS(CHECKSUM(%%physloc%%)) % N = i`
  *    (`manager/SQLServerManager.java:353-401`)
  *  - count-based LIMIT/OFFSET chunks (Postgres/MySQL/SQLite —
  *    `manager/PostgresqlManager.java:310-354` et al.) — kept only as
  *    a fallback: OFFSET re-scans the prefix on every task, an
  *    anti-pattern Spark replaces with key-range predicates.
  *  - PK-range and mod-hash predicates: the preferred portable forms.
  *
  * Pure string builders — unit-testable without a database — plus
  * [[plan]], the split decision both read paths (Spark's JDBC reader
  * and [[PgWireSource]]) make, which probes key bounds through a
  * caller-supplied query function.
  */
object JdbcPartitioning {

  /** Oracle: uniform rowid-hash slices, no index needed. */
  def oraHash(n: Int): Seq[String] = {
    require(n > 0)
    if (n == 1) Seq("1 = 1")
    else (0 until n).map(i => s"ora_hash(rowid, ${n - 1}) = $i")
  }

  /** SQL Server: physical-locator checksum slices. */
  def physloc(n: Int): Seq[String] = {
    require(n > 0)
    if (n == 1) Seq("1 = 1")
    else (0 until n).map(i => s"ABS(CHECKSUM(%%physloc%%)) % $n = $i")
  }

  /** Portable: modulo of an integer key. Uniform iff key is dense or
    * hashed; a NULL or non-integral key matches no slice, so it is
    * never picked for an unknown key. */
  def modKey(keyCol: String, n: Int): Seq[String] = {
    require(n > 0)
    if (n == 1) Seq("1 = 1")
    else (0 until n).map(i => s"MOD(ABS($keyCol), $n) = $i")
  }

  /** Key-range slices over [min, max] (inclusive), the strategy behind
    * Spark's own partitionColumn/lowerBound/upperBound — generated
    * explicitly so the last slice is closed and nulls routed to slice 0.
    */
  def keyRange(keyCol: String, min: Long, max: Long, n: Int): Seq[String] = {
    require(n > 0)
    if (n == 1 || max <= min) Seq("1 = 1")
    else {
      val stride = math.max(1L, (max - min + 1) / n)
      (0 until n).map { i =>
        val lo = min + i * stride
        val hi = min + (i + 1) * stride
        if (i == 0) s"$keyCol < $hi OR $keyCol IS NULL"
        else if (i == n - 1) s"$keyCol >= $lo"
        else s"$keyCol >= $lo AND $keyCol < $hi"
      }
    }
  }

  /** Postgres keyless slices over the physical row id: disjoint ctid
    * page ranges from `pg_class.relpages`. This is the PRODUCTION
    * keyless parallel scan (PG ≥14 plans each slice as a TID Range
    * Scan — each task reads only its pages); the reference's keyless
    * fallback is count-based LIMIT/OFFSET
    * (`PostgresqlManager.java:310-354`), which re-scans the prefix on
    * every task — O(N²) pages touched across N tasks. Last slice is
    * open-ended so rows appended after planning still land somewhere.
    * Only valid against a PLAIN table (ctid does not survive a
    * subselect projection). */
  def ctidRanges(relpages: Long, n: Int): Seq[String] = {
    require(n > 0)
    val pages = math.max(relpages, 1L)
    if (n == 1) Seq("1 = 1")
    else {
      val stride = math.max(1L, (pages + n - 1) / n)
      (0 until n).map { i =>
        val lo = i * stride
        val hi = (i + 1) * stride
        if (i == 0) s"ctid < '($hi,0)'"
        else if (i == n - 1) s"ctid >= '($lo,0)'"
        else s"ctid >= '($lo,0)' AND ctid < '($hi,0)'"
      }
    }
  }

  /** Legacy OFFSET/LIMIT chunks from a row count (reference behavior;
    * last chunk open-ended). Returns (offset, limitOpt) pairs. */
  def offsetChunks(totalRows: Long, n: Int): Seq[(Long, Option[Long])] = {
    require(n > 0)
    if (n == 1) Seq((0L, None))
    else {
      val chunk = math.ceil(totalRows.toDouble / n).toLong
      (0 until n).map { i =>
        val off = i * chunk
        if (i == n - 1) (off, None) else (off, Some(chunk))
      }
    }
  }

  /** Pick a strategy by JDBC url scheme + available key metadata.
    * `keyBounds` is evaluated only when the key strategy is picked;
    * unknown bounds mean one slice (MOD on an unknown key would drop
    * every NULL or non-integral key). */
  def forUrl(url: String, n: Int, intKey: Option[String],
      keyBounds: => Option[(Long, Long)] = None): Seq[String] = {
    val u = url.toLowerCase
    if (u.startsWith("jdbc:oracle")) oraHash(n)
    else if (u.startsWith("jdbc:sqlserver")) physloc(n)
    else intKey.flatMap(k => keyBounds.map { case (lo, hi) => keyRange(k, lo, hi, n) })
      .getOrElse(Seq("1 = 1")) // single partition; no safe split key
  }

  /** The split decision of every JDBC read (driver or pgwire): the
    * `partition.key` / `partition.lower` / `partition.upper` options
    * of `relation`, cut `n` ways. Explicit bounds win; otherwise one
    * MIN/MAX aggregate (the Spark-native replacement for the
    * reference's count(*)-based chunk sizing,
    * `PostgresqlManager.java:310-354`) runs through `firstRow` on the
    * caller's own connection. A failed probe, a NULL bound (empty
    * relation, all-NULL key) or a non-numeric key reads one slice; a
    * fractional key is cut on whole-number boundaries, which the
    * open-ended first and last key ranges keep complete. */
  def plan(url: String, n: Int, options: Map[String, String], relation: String,
      firstRow: String => Seq[String]): Seq[String] = {
    val key = options.get("partition.key")
    val explicit = for {
      lo <- options.get("partition.lower").map(_.toLong)
      hi <- options.get("partition.upper").map(_.toLong)
    } yield (lo, hi)
    def whole(v: String): Long =
      new java.math.BigDecimal(v).setScale(0, java.math.RoundingMode.FLOOR).longValueExact
    forUrl(url, n, key, explicit.orElse(key.flatMap(k => scala.util.Try {
      val row = firstRow(s"SELECT MIN($k), MAX($k) FROM $relation")
      (whole(row(0)), whole(row(1)))
    }.toOption)))
  }
}
