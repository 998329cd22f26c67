package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class DialectMergeSpec extends AnyFunSuite {
  import DialectMerge._
  val cols = Seq("id", "name", "price")
  val keys = Seq("id")

  test("postgres upsert uses ON CONFLICT DO UPDATE with excluded") {
    val sql = mergeSql("sink", "stg", cols, keys, Postgres)
    assert(sql.contains("ON CONFLICT (\"id\") DO UPDATE SET"))
    assert(sql.contains("\"name\" = excluded.\"name\""))
    assert(!sql.contains("\"id\" = excluded"))
  }

  test("mysql upsert uses ON DUPLICATE KEY UPDATE with VALUES()") {
    val sql = mergeSql("sink", "stg", cols, keys, MySql)
    assert(sql.contains("ON DUPLICATE KEY UPDATE"))
    assert(sql.contains("`name` = VALUES(`name`)"))
    assert(sql.contains("`id`, `name`, `price`"))
  }

  test("oracle merge carries PARALLEL hint and matched/not-matched branches") {
    val sql = mergeSql("sink", "stg", cols, keys, Oracle)
    assert(sql.startsWith("MERGE /*+ PARALLEL */ INTO sink t USING stg s"))
    assert(sql.contains("WHEN MATCHED THEN UPDATE SET"))
    assert(sql.contains("WHEN NOT MATCHED THEN INSERT"))
  }

  test("sqlserver merge is terminated with a semicolon") {
    assert(mergeSql("sink", "stg", cols, keys, SqlServer).endsWith(";"))
  }

  test("all-key degenerate case drops the update branch") {
    val sql = mergeSql("sink", "stg", Seq("id"), Seq("id"), SqlServer)
    assert(!sql.contains("WHEN MATCHED"))
    val pg = mergeSql("sink", "stg", Seq("id"), Seq("id"), Postgres)
    assert(pg.contains("DO NOTHING"))
  }

  test("postgres merge guards the update with a binary image compare of the non-key columns") {
    assert(mergeSql("sink", "stg", cols, keys, Postgres) ==
      "INSERT INTO sink AS t (\"id\", \"name\", \"price\") " +
      "SELECT \"id\", \"name\", \"price\" FROM stg ON CONFLICT (\"id\") " +
      "DO UPDATE SET \"name\" = excluded.\"name\", \"price\" = excluded.\"price\" " +
      "WHERE ROW(t.\"name\", t.\"price\")::record OPERATOR(pg_catalog.*<>) " +
      "ROW(excluded.\"name\", excluded.\"price\")::record")
    // unquoted: the key matches case-insensitively and stays out of the guard
    assert(mergeSql("sch.sink", "sch.stg", Seq("ID", "NAME"), Seq("id"), Postgres,
      quoteIds = false) ==
      "INSERT INTO sch.sink AS t (ID, NAME) SELECT ID, NAME FROM sch.stg " +
      "ON CONFLICT (id) DO UPDATE SET NAME = excluded.NAME " +
      "WHERE ROW(t.NAME)::record OPERATOR(pg_catalog.*<>) ROW(excluded.NAME)::record")
  }

  test("sqlite, all-key postgres and the MERGE/ON DUPLICATE dialects emit unguarded statements") {
    val list = "\"id\", \"name\", \"price\""
    assert(mergeSql("sink", "stg", cols, keys, Sqlite) ==
      s"INSERT INTO sink ($list) SELECT $list FROM stg WHERE true ON CONFLICT (\"id\") " +
      "DO UPDATE SET \"name\" = excluded.\"name\", \"price\" = excluded.\"price\"")
    assert(mergeSql("sink", "stg", Seq("id"), Seq("id"), Postgres) ==
      "INSERT INTO sink (\"id\") SELECT \"id\" FROM stg ON CONFLICT (\"id\") DO NOTHING")
    assert(mergeSql("sink", "stg", cols, keys, MySql) ==
      "INSERT INTO sink (`id`, `name`, `price`) SELECT `id`, `name`, `price` FROM stg " +
      "ON DUPLICATE KEY UPDATE `name` = VALUES(`name`), `price` = VALUES(`price`)")
    val ansi = "INTO sink t USING stg s ON (t.\"id\" = s.\"id\") WHEN MATCHED THEN UPDATE SET " +
      "t.\"name\" = s.\"name\", t.\"price\" = s.\"price\" WHEN NOT MATCHED THEN INSERT " +
      s"($list) VALUES (s.\"id\", s.\"name\", s.\"price\")"
    assert(mergeSql("sink", "stg", cols, keys, Oracle) == s"MERGE /*+ PARALLEL */ $ansi")
    assert(mergeSql("sink", "stg", cols, keys, DerbyAnsi) == s"MERGE $ansi")
    assert(mergeSql("sink", "stg", cols, keys, SqlServer) ==
      "MERGE INTO sink t USING stg s ON (t.[id] = s.[id]) WHEN MATCHED THEN UPDATE SET " +
      "t.[name] = s.[name], t.[price] = s.[price] WHEN NOT MATCHED THEN INSERT " +
      "([id], [name], [price]) VALUES (s.[id], s.[name], s.[price]);")
  }

  test("truncate degrades to DELETE where TRUNCATE is unsupported") {
    assert(truncateSql("t", Sqlite) == "DELETE FROM t")
    assert(truncateSql("t", Postgres) == "TRUNCATE TABLE t")
  }

  test("staging DDL per dialect clones structure without rows") {
    assert(createStagingSql("stg", "sink", Postgres).contains("UNLOGGED"))
    assert(createStagingSql("stg", "sink", Oracle).contains("rownum = -1"))
    assert(createStagingSql("stg", "sink", SqlServer).contains("WHERE 0 = 1"))
    assert(createStagingSql("stg", "sink", DerbyAnsi).contains("WITH NO DATA"))
  }

  test("staging names are collision-resistant across invocations") {
    // concurrent loads into the same sink must not share a staging
    // table; the name carries the invocation's random seed
    val names = (1 to 50).map(_ =>
      stagingName("sink", scala.util.Random.nextInt())).toSet
    assert(names.size > 1)
    assert(names.forall(_.startsWith("sink_repdb")))
    // Int.MinValue must not crash the abs
    assert(stagingName("sink", Int.MinValue).startsWith("sink_repdb"))
  }

  test("dialect sniffing from JDBC url") {
    assert(fromUrl("jdbc:postgresql://h/db") == Postgres)
    assert(fromUrl("jdbc:mariadb://h/db") == MySql)
    assert(fromUrl("jdbc:oracle:thin:@h") == Oracle)
    assert(fromUrl("jdbc:derby:memory:x") == DerbyAnsi)
  }
}

class GraftOracleDialectSpec extends AnyFunSuite {
  import org.apache.spark.sql.types._
  import GraftOracleDialect._
  private val md = new MetadataBuilder()

  test("handles oracle urls only") {
    assert(canHandle("jdbc:oracle:thin:@h:1521/db"))
    assert(!canHandle("jdbc:postgresql://h/db"))
  }

  test("TZ timestamp vendor codes -101/-102 map to TimestampType") {
    assert(getCatalystType(TIMESTAMPTZ, "TIMESTAMP WITH TIME ZONE", 0, md)
      .contains(TimestampType))
    assert(getCatalystType(TIMESTAMPLTZ, "TIMESTAMP WITH LOCAL TIME ZONE", 0, md)
      .contains(TimestampType))
  }

  test("interval vendor codes -103/-104 replicate as their literal string") {
    assert(getCatalystType(INTERVALYM, "INTERVAL YEAR TO MONTH", 0, md)
      .contains(StringType))
    assert(getCatalystType(INTERVALDS, "INTERVAL DAY TO SECOND", 0, md)
      .contains(StringType))
  }

  test("XMLType surfaces as the XML document string (SQLXML and OTHER forms)") {
    assert(getCatalystType(java.sql.Types.SQLXML, "XMLTYPE", 0, md)
      .contains(StringType))
    assert(getCatalystType(java.sql.Types.OTHER, "SYS.XMLTYPE", 0, md)
      .contains(StringType))
    assert(getCatalystType(java.sql.Types.OTHER, "SOMETHING_ELSE", 0, md).isEmpty)
  }

  test("ROWID and object types (SDO_GEOMETRY) read as best-effort strings") {
    assert(getCatalystType(java.sql.Types.ROWID, "ROWID", 0, md).contains(StringType))
    assert(getCatalystType(java.sql.Types.STRUCT, "MDSYS.SDO_GEOMETRY", 0, md)
      .contains(StringType))
  }

  test("BINARY_FLOAT/BINARY_DOUBLE map to native float/double") {
    assert(getCatalystType(BINARY_FLOAT, "BINARY_FLOAT", 0, md).contains(FloatType))
    assert(getCatalystType(BINARY_DOUBLE, "BINARY_DOUBLE", 0, md).contains(DoubleType))
  }

  test("unbounded NUMBER keeps a wide decimal, sized NUMBER defers to Spark") {
    assert(getCatalystType(java.sql.Types.NUMERIC, "NUMBER", 0, md)
      .contains(DecimalType(38, 10)))
    assert(getCatalystType(java.sql.Types.NUMERIC, "NUMBER", 10, md).isEmpty)
  }

  test("write-side DDL types match Oracle vendor DDL") {
    assert(getJDBCType(BooleanType).map(_.databaseTypeDefinition).contains("NUMBER(1)"))
    assert(getJDBCType(FloatType).map(_.databaseTypeDefinition).contains("BINARY_FLOAT"))
    assert(getJDBCType(StringType).map(_.databaseTypeDefinition).contains("VARCHAR2(4000)"))
    assert(getJDBCType(TimestampType).map(_.databaseTypeDefinition)
      .contains("TIMESTAMP WITH TIME ZONE"))
    assert(getJDBCType(TimestampNTZType).map(_.databaseTypeDefinition)
      .contains("TIMESTAMP"))
  }

  test("session init statement carries the reference ALTER SESSION batch") {
    val s = sessionInitStatement(directRead = true)
    assert(s.startsWith("BEGIN ") && s.endsWith("END;"))
    assert(s.contains("NLS_TIMESTAMP_TZ_FORMAT"))
    assert(s.contains("ENABLE PARALLEL DML"))
    assert(s.contains("_serial_direct_read"))
    assert(!sessionInitStatement(directRead = false).contains("_serial_direct_read"))
  }
}

class JdbcPartitioningSpec extends AnyFunSuite {
  import JdbcPartitioning._

  test("ora_hash predicates cover N disjoint slices") {
    val p = oraHash(4)
    assert(p.size == 4)
    assert(p.head == "ora_hash(rowid, 3) = 0")
    assert(p.last == "ora_hash(rowid, 3) = 3")
  }

  test("physloc predicates use checksum modulo") {
    assert(physloc(2) == Seq(
      "ABS(CHECKSUM(%%physloc%%)) % 2 = 0", "ABS(CHECKSUM(%%physloc%%)) % 2 = 1"))
  }

  test("single partition degenerates to tautology") {
    assert(oraHash(1) == Seq("1 = 1"))
    assert(modKey("k", 1) == Seq("1 = 1"))
  }

  test("key ranges are contiguous, closed at the top, null-safe at slice 0") {
    val p = keyRange("k", 0, 99, 4)
    assert(p.head.contains("k IS NULL"))
    assert(p.last == "k >= 75")
    assert(p(1) == "k >= 25 AND k < 50")
  }

  test("offset chunks leave the last chunk open-ended") {
    val c = offsetChunks(10, 3)
    assert(c == Seq((0L, Some(4L)), (4L, Some(4L)), (8L, None)))
  }

  test("ctid page ranges: contiguous, first page included, last open-ended") {
    val p = ctidRanges(100, 4)
    assert(p == Seq(
      "ctid < '(25,0)'",
      "ctid >= '(25,0)' AND ctid < '(50,0)'",
      "ctid >= '(50,0)' AND ctid < '(75,0)'",
      "ctid >= '(75,0)'"))
    // stale relpages (0/1) still yields complete disjoint coverage:
    // slice 0 takes page 0, the open-ended tail takes any growth
    val tiny = ctidRanges(1, 3)
    assert(tiny.head == "ctid < '(1,0)'" && tiny.last == "ctid >= '(2,0)'")
    assert(ctidRanges(100, 1) == Seq("1 = 1"))
  }

  test("denodo sink fast-fails at plan time, before any connection") {
    // reference DenodoManager.java:33-45 throws on every sink op; the
    // guard must fire before the DataFrame or a connection is touched
    for (url <- Seq("jdbc:denodo://h:9999/vdb", "jdbc:vdb://h:9999/base")) {
      val e = intercept[UnsupportedOperationException] {
        JdbcConnector.write(null, graft.core.SinkConf(url, Some("t")))
      }
      assert(e.getMessage.contains("Denodo"))
    }
  }

  test("url dispatch picks the dialect strategy") {
    assert(forUrl("jdbc:oracle:thin:@h", 2, None).head.startsWith("ora_hash"))
    assert(forUrl("jdbc:sqlserver://h", 2, None).head.contains("physloc"))
    assert(forUrl("jdbc:postgresql://h/db", 2, Some("id")) == Seq("1 = 1"))
    assert(forUrl("jdbc:postgresql://h/db", 2, Some("id"), Some((0L, 9L))) ==
      keyRange("id", 0, 9, 2))
    assert(forUrl("jdbc:postgresql://h/db", 4, None) == Seq("1 = 1"))
  }

  test("staging name honors table alias, schema, and explicit override") {
    import graft.core.SinkConf
    def name(conf: SinkConf) = JdbcConnector.stagingTableName(conf, "sch.orders")
    // explicit staging table wins verbatim (ConnManager.java:146-148)
    assert(name(SinkConf("jdbc:x", stagingTable = Some("my_stage"))) == "my_stage")
    // default: unqualified sink table + random repdbNNN suffix
    val auto = name(SinkConf("jdbc:x"))
    assert(auto.matches("orders_repdb\\d+"), auto)
    // alias replaces the (possibly too-long) table base (ConnManager.java:157-165)
    assert(name(SinkConf("jdbc:x", stagingTableAlias = Some("o")))
      .matches("o_repdb\\d+"))
    // staging schema qualifies the auto name (ConnManager.java:169-178)
    assert(name(SinkConf("jdbc:x", stagingSchema = Some("stg")))
      .matches("stg\\.orders_repdb\\d+"))
  }
}
