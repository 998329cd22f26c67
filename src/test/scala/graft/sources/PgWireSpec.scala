package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase

/** Vendor-wire verification against a REAL PostgreSQL server — the
  * sandbox ships PostgreSQL 15 binaries (initdb/pg_ctl/psql) but no
  * PG JDBC driver jar, so the reflective JDBC TRANSPORT stays
  * spec-only while everything the engine EMITS onto the wire is
  * driven end to end here against the real parser and executor:
  *
  *  - W1 COPY fast path: the exact wire text [[BulkLoad.encodeRow]]
  *    streams and the exact command [[BulkLoad.pgCopyCommand]] issues,
  *    piped into `COPY ... FROM STDIN`, every value read back and
  *    compared (text hex-encoded outbound so newlines/CRs survive the
  *    assertion transport). Covers the three hazard classes:
  *    backslash/newline/CR escapes, the 0x1F delimiter escaped INSIDE
  *    field data (the reference leaves it bare and shifts columns —
  *    `PostgresqlManager.java:146-156`), and the double-escaped bytea
  *    hex form (one level stripped by the COPY parser).
  *  - The incremental-mode SQL sequence ([[DialectMerge]] Postgres
  *    dialect): UNLOGGED staging DDL, COPY into staging, ON CONFLICT
  *    merge (update + insert in one pass), TRUNCATE — the engine's
  *    exact statement strings executed in the engine's exact order.
  *
  * A private server is initdb'd per suite in a temp dir on a unix
  * socket (PG refuses root, so commands wrap through an unprivileged
  * user when needed). Cancels (does not fail) when the server cannot
  * be provisioned in this environment.
  */
class PgWireSpec extends SparkTestBase with BeforeAndAfterAll {

  private val pgUser = "pgx"

  private def which(bin: String): Option[String] =
    Seq("/usr/local/bin", "/usr/bin", "/usr/lib/postgresql/15/bin")
      .map(d => s"$d/$bin").find(p => Files.isExecutable(Paths.get(p)))

  /** Run a command, return (exit, stdout+stderr). */
  private def run(cmd: Seq[String], stdin: Option[Array[Byte]] = None): (Int, String) = {
    val asUser =
      if (System.getProperty("user.name") == "root")
        Seq("runuser", "-u", pgUser, "--") ++ cmd
      else cmd
    val pb = new ProcessBuilder(asUser: _*)
    pb.redirectErrorStream(true)
    pb.directory(new java.io.File("/tmp"))
    val p = pb.start()
    stdin.foreach { b => p.getOutputStream.write(b); p.getOutputStream.close() }
    if (stdin.isEmpty) p.getOutputStream.close()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }

  private def ensurePgUser(): Boolean =
    if (System.getProperty("user.name") != "root") true
    else {
      val id = new ProcessBuilder("id", "-u", pgUser).start()
      if (id.waitFor() == 0) true
      else new ProcessBuilder("useradd", "-M", "-s", "/bin/sh", pgUser)
        .start().waitFor() == 0
    }

  /** Booted once per suite; None when the environment can't host PG. */
  private lazy val server: Option[(String, String)] = { // (dataDir, socketDir)
    if (which("initdb").isEmpty || which("pg_ctl").isEmpty ||
        which("psql").isEmpty || !ensurePgUser()) None
    else {
      val base = Files.createTempDirectory("graft_pgwire").toString
      val (data, sock) = (s"$base/data", s"$base/sock")
      Files.createDirectories(Paths.get(sock))
      if (System.getProperty("user.name") == "root")
        new ProcessBuilder("chown", "-R", pgUser, base).start().waitFor()
      if (run(Seq(which("initdb").get, "-D", data, "-A", "trust"))._1 != 0) None
      else if (run(Seq(which("pg_ctl").get, "-D", data, "-l", s"$base/log",
        "-o", s"-k $sock -c listen_addresses=''", "start"))._1 != 0) None
      else Some((data, sock))
    }
  }

  override def afterAll(): Unit = {
    server.foreach { case (data, _) =>
      run(Seq(which("pg_ctl").get, "-D", data, "-m", "immediate", "stop"))
    }
    super.afterAll()
  }

  private def psql(sql: String, stdin: Option[Array[Byte]] = None): (Int, String) =
    run(Seq(which("psql").get, "-h", server.get._2, "-d", "postgres",
      "-v", "ON_ERROR_STOP=1", "-A", "-t", "-c", sql), stdin)

  private def exec(sql: String): Unit = {
    val (rc, out) = psql(sql)
    assert(rc == 0, s"psql failed on: $sql\n$out")
  }

  test("W1: COPY wire text from encodeRow roundtrips through real PostgreSQL") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    exec("CREATE TABLE wiretest (id bigint, s text, b bytea, " +
      "ts timestamp, f double precision, bo boolean)")

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("b", BinaryType), StructField("ts", TimestampType),
      StructField("f", DoubleType), StructField("bo", BooleanType)))
    val ts = java.sql.Timestamp.valueOf("2023-01-02 03:04:05.25")
    val rows = Seq[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row(1L, "plain", Array[Byte](0xde.toByte, 0xad.toByte),
        ts, 1.5, true),
      org.apache.spark.sql.Row(2L, "back\\slash\nnewline\rcr\ttab", null,
        null, -0.25, false),
      org.apache.spark.sql.Row(3L, s"unit${BulkLoad.UnitSep}sep", Array[Byte](),
        null, 1.0e-8, null),
      org.apache.spark.sql.Row(4L, "héllo 世界", null, ts, null, true),
      org.apache.spark.sql.Row(5L, null, null, null, null, null))
    val wire = rows.map(r => BulkLoad.encodeRow(r, schema,
      BulkLoad.bytesToPostgresHex) + "\n").mkString
    // the EXACT production command string (PostgresqlManager.java:174-191)
    val copy = BulkLoad.pgCopyCommand("wiretest", schema.fieldNames.toSeq)
    val (copyRc, copyOut) = psql(copy, Some(wire.getBytes(StandardCharsets.UTF_8)))
    assert(copyRc == 0 && copyOut.contains("COPY 5"),
      s"COPY failed: $copyOut\nwire:\n$wire")

    // read back hex-encoded (newline/CR-safe) and compare values
    val (selRc, selOut) = psql(
      "SELECT id, coalesce(encode(convert_to(s,'UTF8'),'hex'),'<null>'), " +
        "coalesce(encode(b,'hex'),'<null>'), " +
        "coalesce(ts::text,'<null>'), coalesce(f::text,'<null>'), " +
        "coalesce(bo::text,'<null>') FROM wiretest ORDER BY id")
    assert(selRc == 0, selOut)
    def hex(s: String) = BulkLoad.bytesToHex(
      s.getBytes(StandardCharsets.UTF_8)).toLowerCase
    val got = selOut.trim.split("\n").map(_.split("\\|", -1).toSeq)
    assert(got.length == 5, selOut)
    assert(got(0) == Seq("1", hex("plain"), "dead",
      "2023-01-02 03:04:05.25", "1.5", "true"))
    assert(got(1) == Seq("2", hex("back\\slash\nnewline\rcr\ttab"),
      "<null>", "<null>", "-0.25", "false"))
    assert(got(2) == Seq("3", hex(s"unit${BulkLoad.UnitSep}sep"), "",
      "<null>", "1e-08", "<null>"))
    assert(got(3) == Seq("4", hex("héllo 世界"), "<null>",
      "2023-01-02 03:04:05.25", "<null>", "true"))
    assert(got(4) == Seq("5", "<null>", "<null>", "<null>", "<null>", "<null>"))
  }

  test("incremental mode: staging DDL + COPY + ON CONFLICT merge + TRUNCATE, " +
      "the engine's exact SQL in the engine's exact order") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    import DialectMerge.{Postgres => PgD}
    exec("CREATE TABLE msink (id bigint PRIMARY KEY, v text, n int)")
    exec("INSERT INTO msink VALUES (1, 'old1', 10), (2, 'old2', 20)")

    // 1. staging DDL (UNLOGGED LIKE ... — ConnManager.java:169-178 analog)
    val staging = DialectMerge.stagingName("msink", seed = 12345)
    exec(DialectMerge.createStagingSql(staging, "msink", PgD))
    // the staging table must really be UNLOGGED (relpersistence 'u')
    val (_, persist) = psql(
      s"SELECT relpersistence FROM pg_class WHERE relname = '$staging'")
    assert(persist.trim == "u", s"staging not UNLOGGED: $persist")

    // 2. batch lands in staging via the COPY fast path
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("n", IntegerType)))
    val batch = Seq[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row(2L, "new2", 200), // update
      org.apache.spark.sql.Row(3L, "new3", 300)) // insert
    val wire = batch.map(r => BulkLoad.encodeRow(r, schema,
      BulkLoad.bytesToPostgresHex) + "\n").mkString
    val (rc, out) = psql(
      BulkLoad.pgCopyCommand(staging, schema.fieldNames.toSeq),
      Some(wire.getBytes(StandardCharsets.UTF_8)))
    assert(rc == 0 && out.contains("COPY 2"), out)

    // 3. the dialect merge (INSERT ... ON CONFLICT DO UPDATE)
    exec(DialectMerge.mergeSql("msink", staging,
      Seq("id", "v", "n"), Seq("id"), PgD))
    val (_, merged) = psql("SELECT id, v, n FROM msink ORDER BY id")
    assert(merged.trim.split("\n").toSeq ==
      Seq("1|old1|10", "2|new2|200", "3|new3|300"), merged)

    // 4. drop staging, truncate target (complete-mode prelude)
    exec(s"DROP TABLE $staging")
    exec(DialectMerge.truncateSql("msink", PgD))
    val (_, n) = psql("SELECT count(*) FROM msink")
    assert(n.trim == "0", n)

    // quoted-identifier form parses too (--quoted-identifiers path)
    exec("CREATE TABLE qsink (\"Id\" bigint PRIMARY KEY, \"Val\" text)")
    exec("CREATE TABLE qstg (\"Id\" bigint, \"Val\" text)")
    exec("INSERT INTO qstg VALUES (7, 'x')")
    // mergeSql quotes every identifier itself — mixed-case columns
    // survive only because that quoting reaches the real parser intact
    exec(DialectMerge.mergeSql("qsink", "qstg",
      Seq("Id", "Val"), Seq("Id"), PgD))
    val (_, qn) = psql("SELECT count(*) FROM qsink")
    assert(qn.trim == "1", qn)
  }

  test("incremental merge rewrites only rows whose non-key bytes changed " +
      "(xmin kept on unchanged rows; -0.0, numeric scale, NULLs and json land)") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    import DialectMerge.{Postgres => PgD}
    val cl = PgWireClient.connect(
      PgWireClient.UnixSocket(server.get._2), pgUser, "postgres")
    try {
      cl.exec("CREATE SCHEMA msch")
      // a mixed-case quoted sink, and a schema-qualified unquoted one
      for ((sink, names, quoteIds) <- Seq(
          ("\"MixSink\"", Seq("Id", "Fl", "Num", "A", "B", "Js"), true),
          ("msch.plain_sink", Seq("id", "fl", "num", "a", "b", "js"), false))) {
        val c = names.map(n => if (quoteIds) "\"" + n + "\"" else n)
        cl.exec(s"CREATE TABLE $sink (${c(0)} bigint PRIMARY KEY, ${c(1)} float8, " +
          s"${c(2)} numeric, ${c(3)} text, ${c(4)} text, ${c(5)} json)")
        val staging = sink.stripSuffix("\"") + "_repdb1" + (if (quoteIds) "\"" else "")
        cl.exec(DialectMerge.createStagingSql(staging, sink, PgD))
        cl.exec(s"INSERT INTO $sink VALUES " +
          "(1, 1.5, 2.0, 'x', 'y', '{\"a\":1}'), " + // unchanged
          "(2, '-0', 1, 'x', 'y', '{}'), " + // -0.0 -> 0.0
          "(3, 1, 1.0, 'x', 'y', '{}'), " + // numeric 1.0 -> 1.00
          "(4, 1, 1, NULL, 'y', '{}'), " + // NULL -> value
          "(5, 1, 1, 'x', 'y', '{}'), " + // value -> NULL
          "(6, 1, 1, 'x', 'y', '{\"a\":1}'), " + // json text changes
          "(7, NULL, NULL, NULL, NULL, NULL)") // unchanged, all NULL
        cl.exec(s"INSERT INTO $staging VALUES " +
          "(1, 1.5, 2.0, 'x', 'y', '{\"a\":1}'), (2, '0', 1, 'x', 'y', '{}'), " +
          "(3, 1, 1.00, 'x', 'y', '{}'), (4, 1, 1, 'new', 'y', '{}'), " +
          "(5, 1, 1, 'x', NULL, '{}'), (6, 1, 1, 'x', 'y', '{\"a\": 1}'), " +
          "(7, NULL, NULL, NULL, NULL, NULL), (8, 2, 2, 'z', 'z', '[]')")
        def xmins(): Map[String, String] = cl.exec(
          s"SELECT ${c(0)}, xmin::text FROM $sink").rows.map(r => r(0) -> r(1)).toMap
        val before = xmins()
        val merge = cl.exec(DialectMerge.mergeSql(sink, staging, names, Seq(names(0)),
          PgD, quoteIds = quoteIds))
        assert(merge.tags.last == "INSERT 0 6", merge.tags) // 5 changed + 1 new
        val after = xmins()
        assert(Seq("1", "7").forall(id => after(id) == before(id)),
          s"$sink: unchanged rows rewritten: $before -> $after")
        assert(Seq("2", "3", "4", "5", "6").forall(id => after(id) != before(id)),
          s"$sink: a changed row was skipped: $before -> $after")
        // text images, so -0 vs 0 and 1.0 vs 1.00 count as differences
        def image(t: String) = s"SELECT ${c.map(x => s"$x::text").mkString(", ")} FROM $t"
        assert(cl.exec(s"SELECT count(*) FROM ((${image(sink)} EXCEPT ALL " +
          s"${image(staging)}) UNION ALL (${image(staging)} EXCEPT ALL " +
          s"${image(sink)})) d").single == "0", s"$sink differs from staging")
        cl.exec(s"DROP TABLE $staging")
      }
    } finally cl.close()
  }

  test("W1 transport: PgWireClient speaks v3 — startup, simple query, COPY-IN, errors") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    val cl = PgWireClient.connect(
      PgWireClient.UnixSocket(server.get._2), pgUser, "postgres")
    try {
      cl.exec("CREATE TABLE wired (id bigint, s text, b bytea)")
      cl.exec("INSERT INTO wired VALUES (0, 'seed', NULL)")

      // COPY-IN through the client: the exact production wire text
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("s", StringType), StructField("b", BinaryType)))
      val rows = Seq[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(1L, "back\\slash\nnl\rcr", null),
        org.apache.spark.sql.Row(2L, s"unit${BulkLoad.UnitSep}sep",
          Array[Byte](0xca.toByte, 0xfe.toByte)),
        org.apache.spark.sql.Row(3L, null, Array[Byte]()))
      val n = cl.copyIn(
        BulkLoad.pgCopyCommand("wired", schema.fieldNames.toSeq),
        rows.iterator.map(r => (BulkLoad.encodeRow(r, schema,
          BulkLoad.bytesToPostgresHex) + "\n").getBytes(StandardCharsets.UTF_8)))
      assert(n == 3)

      // read back through the SAME client (text protocol DataRows)
      val res = cl.exec("SELECT id, encode(convert_to(s,'UTF8'),'hex'), " +
        "encode(b,'hex') FROM wired WHERE id > 0 ORDER BY id")
      assert(res.columns == Seq("id", "encode", "encode"))
      def hex(s: String) = BulkLoad.bytesToHex(
        s.getBytes(StandardCharsets.UTF_8)).toLowerCase
      assert(res.rows == Seq(
        Seq("1", hex("back\\slash\nnl\rcr"), null),
        Seq("2", hex(s"unit${BulkLoad.UnitSep}sep"), "cafe"),
        Seq("3", null, "")))

      // errors surface as SQLException WITH the server's message and
      // SQLSTATE, and the connection survives (drained to ReadyForQuery)
      val err = intercept[java.sql.SQLException] { cl.exec("SELECT nope()") }
      assert(err.getMessage.contains("nope") && err.getSQLState == "42883")
      val errCopy = intercept[java.sql.SQLException] {
        cl.copyIn(BulkLoad.pgCopyCommand("no_such_table", Seq("x")),
          Iterator.empty)
      }
      assert(errCopy.getSQLState == "42P01", errCopy.getMessage)
      assert(cl.exec("SELECT count(*) FROM wired").single == "4")
    } finally cl.close()
  }

  test("W1 transport: full engine replication (parquet -> COPY sink) through " +
      "the engine's own wire client, complete + incremental") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    import graft.core._
    val sock = server.get._2
    val cl = PgWireClient.connect(PgWireClient.UnixSocket(sock), pgUser, "postgres")
    try {
      cl.exec("CREATE TABLE regions (r_regionkey bigint PRIMARY KEY, " +
        "r_name text, r_comment text)")
      cl.exec("INSERT INTO regions VALUES (99, 'stale', 'to-be-truncated')")

      val sinkOpts = Map("pgwire.socket" -> sock, "user" -> pgUser)
      def sink(mode: ReplicationMode) = SinkConf(
        connect = "jdbc:postgresql://localhost/postgres",
        table = Some("regions"), mode = mode, options = sinkOpts)
      val source = SourceConf(connect = sf() + "/region.parquet")

      // complete: truncate + parallel COPY through the wire transport
      ReplicaEngine.replicate(spark, ReplConf(source, sink(ReplicationMode.Complete)))
      val afterComplete = cl.exec(
        "SELECT count(*), count(*) FILTER (WHERE r_regionkey = 99) FROM regions")
      assert(afterComplete.rows.head == Seq("5", "0"), afterComplete)

      // incremental: staging + COPY + ON CONFLICT merge, keys from
      // pg_index discovery (none supplied)
      cl.exec("UPDATE regions SET r_name = 'OLD' WHERE r_regionkey <= 1")
      cl.exec("DELETE FROM regions WHERE r_regionkey = 4")
      ReplicaEngine.replicate(spark,
        ReplConf(source, sink(ReplicationMode.Incremental)))
      val merged = cl.exec("SELECT count(*), " +
        "count(*) FILTER (WHERE r_name = 'OLD') FROM regions")
      assert(merged.rows.head == Seq("5", "0"), merged) // re-upserted + re-inserted
      // no staging table left behind
      assert(cl.exec("SELECT count(*) FROM pg_class " +
        "WHERE relname LIKE 'regions\\_repdb%'").single == "0")

      // complete-atomic: staging swap inside one transaction
      cl.exec("INSERT INTO regions VALUES (98, 'stale2', 'x')")
      ReplicaEngine.replicate(spark,
        ReplConf(source, sink(ReplicationMode.CompleteAtomic)))
      assert(cl.exec("SELECT count(*) FROM regions").single == "5")

      // spark-side readback parity: what landed equals the source
      val viaPg = cl.exec(
        "SELECT r_regionkey, r_name FROM regions ORDER BY r_regionkey").rows
      val viaSpark = spark.read.parquet(sf() + "/region.parquet")
        .selectExpr("r_regionkey", "r_name").collect()
        .map(r => Seq(String.valueOf(r.get(0)), r.getString(1))).toSeq
        .sortBy(_.head.toLong)
      assert(viaPg == viaSpark)
    } finally cl.close()
  }

  test("S2/W1 zero-jar loop: PG -> PG replication entirely over the wire " +
      "client (partitioned cursor source, COPY sink, typed roundtrip)") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    import graft.core._
    val sock = server.get._2
    val cl = PgWireClient.connect(PgWireClient.UnixSocket(sock), pgUser, "postgres")
    try {
      // a source table exercising the type matrix + the hazard strings
      cl.exec("CREATE TABLE src_t (id bigint PRIMARY KEY, b bool, " +
        "si smallint, i int, f4 real, f8 double precision, " +
        "num numeric(20,6), s text, by bytea, d date, ts timestamp, " +
        "tz timestamptz)")
      cl.exec("SET TIME ZONE 'UTC'")
      cl.exec("INSERT INTO src_t SELECT g, g % 2 = 0, (g % 100)::smallint, " +
        "g * 7, (g * 0.25)::real, g * 0.125, g * 1.000001, " +
        "'row-' || g || E'\\xc3\\xa9\\n tail', decode(lpad(to_hex(g), 6, '0'), 'hex'), " +
        "DATE '2024-01-01' + g, TIMESTAMP '2024-01-01 00:00:00' + g * INTERVAL '1 hour', " +
        "TIMESTAMPTZ '2024-01-01 00:00:00+00' + g * INTERVAL '1 minute' " +
        "FROM generate_series(0, 96) g")
      cl.exec("INSERT INTO src_t (id) VALUES (999)") // all-null row
      cl.exec("CREATE TABLE dst_t (LIKE src_t INCLUDING ALL)")

      val opts = Map("pgwire.socket" -> sock, "user" -> pgUser)
      val source = SourceConf(connect = "jdbc:postgresql://localhost/postgres",
        table = Some("src_t"), partitions = 4,
        options = opts + ("partition.key" -> "id"), fetchSize = 16)
      val sink = SinkConf(connect = "jdbc:postgresql://localhost/postgres",
        table = Some("dst_t"), mode = ReplicationMode.Complete, options = opts)

      // the whole replication: wire cursor scan -> wire COPY sink
      ReplicaEngine.replicate(spark, ReplConf(source, sink))

      // every value identical under PG's own comparison, every type
      val (diffRc, diff) = psql(
        "SELECT count(*) FROM ((TABLE src_t EXCEPT TABLE dst_t) " +
          "UNION ALL (TABLE dst_t EXCEPT TABLE src_t)) x")
      assert(diffRc == 0 && diff.trim == "0", s"roundtrip diverged: $diff")
      assert(cl.exec("SELECT count(*) FROM dst_t").single == "98")

      // Spark-side reading: schema mapping + predicate/projection
      // pushdown into the wire SQL, partitioned read returns the slices
      val df = ReplicaEngine.read(spark, source.copy(
        columns = Some(Seq("id", "f8", "s")), where = Some("id < 50")))
      assert(df.schema.map(_.dataType.typeName) ==
        Seq("long", "double", "string"))
      assert(df.count() == 50)
      assert(df.rdd.getNumPartitions == 4)
      val r7 = df.filter(col("id") === 7).head()
      assert(r7.getDouble(1) == 0.875 && r7.getString(2).startsWith("row-7"))

      // keyless partitioned scan: disjoint ctid page ranges (TID
      // range scans), complete and non-overlapping without any key
      val keyless = ReplicaEngine.read(spark,
        source.copy(options = opts)) // no partition.key
      assert(keyless.rdd.getNumPartitions == 4)
      assert(keyless.count() == 98)
      assert(keyless.select("id").distinct().count() == 98,
        "ctid slices lost or duplicated rows")

      // keyless partitioned scan of a VIEW: a view has a pg_class row
      // (relpages 0), so "the relpages probe fails" is NOT a usable
      // guard — ctid predicates on a view error on every task. The
      // relkind gate must route views to one full slice instead
      cl.exec("CREATE VIEW src_v AS SELECT id, s FROM src_t")
      val viewRead = ReplicaEngine.read(spark,
        source.copy(table = Some("src_v"), options = opts))
      assert(viewRead.count() == 98, "keyless view read lost rows")

      // explicit partition.lower/upper: the caller's bounds are used
      // verbatim (no MIN/MAX scan) and the read stays complete
      val bounded = ReplicaEngine.read(spark, source.copy(options =
        opts + ("partition.key" -> "id", "partition.lower" -> "0",
          "partition.upper" -> "999")))
      assert(bounded.count() == 98 &&
        bounded.select("id").distinct().count() == 98)

      // schema-qualified PK discovery never adopts another schema's
      // same-named table key (app.users vs public.users)
      cl.exec("CREATE SCHEMA app")
      cl.exec("CREATE TABLE app.users (uid bigint PRIMARY KEY, v int)")
      cl.exec("CREATE TABLE public.users (oid2 bigint PRIMARY KEY, v int)")
      assert(PgWireTransport.discoverPrimaryKeys(cl, "app.users") == Seq("uid"))
      assert(PgWireTransport.discoverPrimaryKeys(cl, "public.users") == Seq("oid2"))
    } finally cl.close()
  }

  test("wire decode: timestamptz is instant-correct regardless of JVM timezone") {
    // no server needed — pure decode-kernel check. The +00 wall clock
    // IS the instant (slice() pins the session to UTC); decoding must
    // not re-interpret it in the JVM default zone.
    val prev = java.util.TimeZone.getDefault
    try {
      for (tz <- Seq("UTC", "America/New_York", "Asia/Tokyo")) {
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(tz))
        val got = PgWireSource.decode("2024-01-01 00:00:00.25+00",
          org.apache.spark.sql.types.TimestampType)
          .asInstanceOf[java.sql.Timestamp]
        assert(got.toInstant == java.time.Instant.parse("2024-01-01T00:00:00.25Z"),
          s"shifted under JVM tz $tz: $got")
      }
    } finally java.util.TimeZone.setDefault(prev)
    // naive timestamp (no offset) keeps JDBC's JVM-local semantics
    assert(PgWireSource.decode("2024-01-01 03:04:05",
      org.apache.spark.sql.types.TimestampType) ==
      java.sql.Timestamp.valueOf("2024-01-01 03:04:05"))
  }

  test("mode fuzz through the wire sink (verdict r12 #3, PG arm): " +
      "random wide-type tables x all modes, EXCEPT ALL content " +
      "equality judged inside a real PostgreSQL") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    import graft.ModeFuzz
    import graft.core._
    import graft.fuzz.SqlFuzzer
    val sock = server.get._2
    val cl = PgWireClient.connect(PgWireClient.UnixSocket(sock), pgUser,
      "postgres")
    val pgType = Map("BIGINT" -> "bigint", "INTEGER" -> "integer",
      "SMALLINT" -> "smallint", "DOUBLE" -> "double precision",
      "REAL" -> "real", "DECIMAL(12,3)" -> "numeric(12,3)",
      "VARCHAR(64)" -> "varchar(80)", "DATE" -> "date",
      "TIMESTAMP" -> "timestamp", "BOOLEAN" -> "boolean",
      "VARCHAR(64) FOR BIT DATA" -> "bytea")
    def sqlLit(r: org.apache.spark.sql.Row, i: Int): String =
      if (r.isNullAt(i)) "NULL" else r.get(i) match {
        // bytea hex input form; the column's input function applies it
        case b: Array[Byte] =>
          "'\\x" + b.map("%02x".format(_)).mkString + "'"
        case s: String => "'" + s.replace("'", "''") + "'"
        case d: java.sql.Date => s"DATE '$d'"
        case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
        case b: java.lang.Boolean => if (b) "TRUE" else "FALSE"
        case bd: java.math.BigDecimal => bd.toPlainString
        case other => String.valueOf(other)
      }
    try {
      for (i <- 0 until 6) {
        val r = new SqlFuzzer.Rng(77000L + i)
        val seed = 5150L * (i + 1)
        val ddls = (0 until 3 + r.nextInt(3)).map(_ => r.oneOf(ModeFuzz.typePool))
        // cycle so every mode runs at least twice across the 6 trials
        val mode = Seq(ReplicationMode.Complete,
          ReplicationMode.CompleteAtomic, ReplicationMode.Incremental)(i % 3)
        val nRows = 60 + r.nextInt(200)
        // Derby holds the source (the proven cross-vendor read path);
        // PG is the sink under test
        val durl = s"jdbc:derby:memory:pgmf$i;create=true"
        graft.sources.JdbcConnector.withConnection(durl, Map.empty) { c =>
          val st = c.createStatement()
          st.execute(s"CREATE TABLE SRC (PK BIGINT NOT NULL PRIMARY KEY, " +
            ddls.zipWithIndex.map { case (d, j) => s"C$j $d" }.mkString(", ") + ")")
          st.close()
        }
        graft.sources.JdbcConnector.write(
          ModeFuzz.mkDf(spark, ddls, 1L, nRows + 1L, salt = 0, seed),
          SinkConf(connect = durl, table = Some("SRC"),
            mode = ReplicationMode.Complete))
        // the natural cross-case shape: the frame arrives with Derby's
        // UPPERCASE names, the PG table has ordinary lowercase columns
        // — with quotedIdentifiers OFF both the COPY and the merge SQL
        // emit unquoted identifiers and each vendor folds to its own
        // case (this exact trial caught the always-quoted merge bug)
        val cols = ddls.zipWithIndex.map { case (d, j) => s"c$j ${pgType(d)}" }
          .mkString(", ")
        cl.exec(s"CREATE TABLE pgmf_snk_$i (pk bigint PRIMARY KEY, $cols)")
        cl.exec(s"CREATE TABLE pgmf_exp_$i (pk bigint, $cols)")

        def insertAll(table: String, rows: Seq[org.apache.spark.sql.Row]): Unit =
          rows.grouped(40).foreach { g =>
            cl.exec(s"INSERT INTO $table VALUES " + g.map(row =>
              "(" + (0 until row.length).map(sqlLit(row, _)).mkString(", ") + ")")
              .mkString(", "))
          }

        // incremental: pre-seed PG with conflicting + sink-only rows
        val preseed: Seq[org.apache.spark.sql.Row] =
          if (mode == ReplicationMode.Incremental) {
            val pre = ModeFuzz.mkDf(spark, ddls, -15L, nRows / 3L + 1L,
              salt = 1, seed).collect().toSeq
            insertAll(s"pgmf_snk_$i", pre)
            pre
          } else Nil

        ReplicaEngine.replicate(spark, ReplConf(
          SourceConf(connect = durl, table = Some("SRC"),
            partitions = r.oneOf(Seq(1, 2, 4))),
          SinkConf(connect = "jdbc:postgresql://localhost/postgres",
            table = Some(s"pgmf_snk_$i"), mode = mode,
            options = Map("pgwire.socket" -> sock, "user" -> pgUser))))

        // expected relation, landed via plain INSERT literals — a
        // transport independent of the COPY path under test
        val srcBack = graft.sources.JdbcConnector.read(spark,
          SourceConf(connect = durl, table = Some("SRC"), partitions = 1))
          .collect().toSeq
        val srcPks = srcBack.map(_.getLong(0)).toSet
        val expected = srcBack ++ preseed.filterNot(p => srcPks(p.getLong(0)))
        insertAll(s"pgmf_exp_$i", expected)

        val d = cl.exec(s"SELECT count(*) FROM ((TABLE pgmf_snk_$i " +
          s"EXCEPT ALL TABLE pgmf_exp_$i) UNION ALL (TABLE pgmf_exp_$i " +
          s"EXCEPT ALL TABLE pgmf_snk_$i)) x").single
        assert(d == "0",
          s"PG trial $i mode=$mode cols=$ddls rows=$nRows: $d diff rows")
      }
    } finally cl.close()
  }

  test("S2: partition predicates slice a real PostgreSQL table disjointly") {
    assume(server.isDefined, "PostgreSQL not available in this environment")
    exec("CREATE TABLE ptab (k bigint)")
    exec("INSERT INTO ptab SELECT (i * 7) % 101 FROM generate_series(1, 97) i")
    for (preds <- Seq(JdbcPartitioning.modKey("k", 4),
        JdbcPartitioning.keyRange("k", 0, 100, 4))) {
      val counts = preds.map { p =>
        val (rc, out) = psql(s"SELECT count(*) FROM ptab WHERE $p")
        assert(rc == 0, s"predicate rejected: $p\n$out")
        out.trim.toLong
      }
      assert(counts.sum == 97, s"slices lose/duplicate rows: $counts")
    }

    // through the source: a key with NULLs reads complete in n slices;
    // a key with no non-NULL value (all-NULL, or an empty source) is
    // one slice, so no NULL-key row is lost to MOD predicates
    exec("CREATE TABLE qtab (k bigint, v int)")
    exec("INSERT INTO qtab SELECT g, g FROM generate_series(0, 9999) g")
    exec("INSERT INTO qtab SELECT NULL, 0 FROM generate_series(1, 30)")
    import graft.core.{ReplicaEngine, SourceConf}
    val source = SourceConf(connect = "jdbc:postgresql://localhost/postgres",
      table = Some("qtab"), partitions = 4, options = Map("pgwire.socket" -> server.get._2,
        "user" -> pgUser, "partition.key" -> "k"))
    val all = ReplicaEngine.read(spark, source)
    assert(all.rdd.getNumPartitions == 4 && all.count() == 10030)
    val nullKeys = ReplicaEngine.read(spark, source.copy(where = Some("k IS NULL")))
    assert(nullKeys.rdd.getNumPartitions == 1 && nullKeys.count() == 30)
    val empty = ReplicaEngine.read(spark, source.copy(where = Some("false")))
    assert(empty.rdd.getNumPartitions == 1 && empty.count() == 0)
    // a fractional numeric key is cut on whole-number bounds and every
    // fractional key lands in exactly one slice
    exec("CREATE TABLE ntab (k numeric, v int)")
    exec("INSERT INTO ntab SELECT g + 0.5, g FROM generate_series(0, 999) g")
    val fractional = ReplicaEngine.read(spark, source.copy(table = Some("ntab")))
    assert(fractional.rdd.getNumPartitions == 4 && fractional.count() == 1000 &&
      fractional.select("v").distinct().count() == 1000)
  }
}
