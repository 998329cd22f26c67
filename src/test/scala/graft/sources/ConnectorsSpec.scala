package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.core._

class FileConnectorSpec extends SparkTestBase {
  import spark.implicits._

  test("declared JDBC type names map onto Spark types") {
    val st = FileConnector.declaredSchema(
      Seq("a", "b", "c", "d", "e"),
      Seq("VARCHAR", "INTEGER", "NUMERIC", "TIMESTAMP", "TIMESTAMP WITH TIME ZONE"))
    // plain TIMESTAMP is zone-naive (NTZ); only WITH TIME ZONE is an instant
    assert(st.fields.map(_.dataType).toSeq ==
      Seq(StringType, IntegerType, DecimalType(38, 18), TimestampNTZType, TimestampType))
    assertThrows[IllegalArgumentException](
      FileConnector.declaredSchema(Seq("a"), Seq("GEOGRAPHY")))
    assertThrows[IllegalArgumentException](
      FileConnector.declaredSchema(Seq("a", "b"), Seq("VARCHAR")))
  }

  test("csv round-trip with declared schema preserves typed values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvspec").toString + "/data"
    val df = Seq((1L, "x", 1.5, true), (2L, null.asInstanceOf[String], -0.25, false))
      .toDF("id", "s", "d", "b")
    FileConnector.write(df, dir, "csv", Map("header" -> "true"), overwrite = true)
    val back = FileConnector.read(spark, SourceConf(connect = dir,
      columnNames = Some(Seq("id", "s", "d", "b")),
      columnTypes = Some(Seq("BIGINT", "VARCHAR", "DOUBLE", "BOOLEAN")),
      options = Map("format" -> "csv", "header" -> "true")))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("csv without declared types is rejected (reference contract)") {
    assertThrows[IllegalArgumentException](
      FileConnector.read(spark, SourceConf(connect = "/tmp/x.csv")))
  }

  test("compaction bin-packs small files atomically and loses no rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/tbl"
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    df.repartition(40).write.mode("overwrite").parquet(dir)
    assert(Compaction.dataFiles(spark, dir).size >= 40)
    // huge target -> everything packs into one file
    val n = Compaction.compactParquet(spark, dir, 1L << 30)
    assert(n == 1)
    assert(Compaction.dataFiles(spark, dir).count(_._1.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // already compact -> scheduled re-run is a no-op (same file set)
    val before = Compaction.dataFiles(spark, dir).toSet
    assert(Compaction.compactParquet(spark, dir, 1L << 30) == 1)
    assert(Compaction.dataFiles(spark, dir).toSet == before)
  }

  test("unknown dialect is rejected; known dialect sets separator") {
    assertThrows[IllegalArgumentException](
      FileConnector.read(spark, SourceConf(connect = "/tmp/x.csv",
        columnNames = Some(Seq("a")), columnTypes = Some(Seq("VARCHAR")),
        options = Map("dialect" -> "NOPE"))))
    assert(FileConnector.csvDialects("TDF")("sep") == "\t")
    assert(FileConnector.csvDialects.size == 12)
  }

  test("MYSQL dialect roundtrip: tab separator and \\N null marker") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mysqldial").toString + "/d"
    // note: values containing the separator need the quoting dialects;
    // MYSQL (LOAD DATA text) is quote-less by design
    val df = Seq((1L, "plain"), (2L, null.asInstanceOf[String]), (3L, "third"))
      .toDF("id", "s")
    val opts = FileConnector.csvDialects("MYSQL") + ("header" -> "true")
    FileConnector.write(df, dir, "csv", opts, overwrite = true)
    val raw = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).mkString("\n")
    assert(raw.contains("2\t\\N")) // literal null marker on disk
    val back = FileConnector.read(spark, SourceConf(connect = dir,
      columnNames = Some(Seq("id", "s")), columnTypes = Some(Seq("BIGINT", "VARCHAR")),
      options = Map("format" -> "csv", "dialect" -> "MYSQL", "header" -> "true")))
    val m = back.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(m(2L).isEmpty)
    assert(m(3L).contains("third"))
  }

  test("POSTGRESQL_CSV dialect roundtrip: doubled-quote escaping") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pgdial").toString + "/d"
    val df = Seq((1L, """say "hi", ok"""), (2L, "line\nbreak")).toDF("id", "s")
    val opts = FileConnector.csvDialects("POSTGRESQL_CSV") + ("header" -> "true")
    FileConnector.write(df, dir, "csv", opts, overwrite = true)
    val back = FileConnector.read(spark, SourceConf(connect = dir,
      columnNames = Some(Seq("id", "s")), columnTypes = Some(Seq("BIGINT", "VARCHAR")),
      options = Map("format" -> "csv", "dialect" -> "POSTGRESQL_CSV",
        "header" -> "true", "multiLine" -> "true")))
    val m = back.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == """say "hi", ok""")
    assert(m(2L) == "line\nbreak")
  }

  test("format sniffing by extension with explicit override") {
    assert(FileConnector.format("/d/x.csv", None) == "csv")
    assert(FileConnector.format("/d/x.jsonl", None) == "json")
    assert(FileConnector.format("/d/dir", None) == "parquet")
    assert(FileConnector.format("/d/x.csv", Some("json")) == "json")
  }

  test("avro roundtrip through the engine write/read path") {
    // the reference declares avro (manager/file/FileFormats.java:3-15);
    // Spark 4 ships the avro source inside spark-sql itself (class
    // org.apache.spark.sql.avro.AvroFileFormat), so the registry route
    // is fully exercisable here — write via the engine, read back via
    // extension sniffing, values and schema must survive
    assert(FileConnector.format("/d/x.avro", None) == FileConnector.AvroProvider)
    assert(FileConnector.format("/d/x", Some("avro")) == FileConnector.AvroProvider)
    val base = java.nio.file.Files.createTempDirectory("graft_avrospec").toString
    val src = Seq((1L, "a", 1.5), (2L, null.asInstanceOf[String], -2.25))
      .toDF("id", "name", "score")
    FileConnector.write(src, s"$base/t.avro", "avro", Map.empty, overwrite = true)
    val back = FileConnector.read(spark,
      graft.core.SourceConf(connect = s"$base/t.avro"))
    // names + types survive; nullability widens to true on read (the
    // standard file-source relaxation, same as parquet)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq == src.orderBy("id").collect().toSeq)
  }

  test("atomic swap replaces the sink only after a complete write") {
    val base = java.nio.file.Files.createTempDirectory("graft_atomicspec").toString
    val sink = base + "/t"
    FileConnector.writeAtomic(Seq(1, 2, 3).toDF("v"), sink, "parquet", Map.empty)
    assert(spark.read.parquet(sink).count() == 3)
    FileConnector.writeAtomic(Seq(4, 5).toDF("v"), sink, "parquet", Map.empty)
    assert(spark.read.parquet(sink).as[Int].collect().toSet == Set(4, 5))
    assert(!new java.io.File(sink + "__staging").exists())
    assert(!new java.io.File(sink + "__old").exists())
  }

  test("readers polling the sink during the swap never observe an absent path") {
    val base = java.nio.file.Files.createTempDirectory("graft_swapvis").toString
    val sink = base + "/t"
    FileConnector.writeAtomic(Seq(1).toDF("v"), sink, "parquet", Map.empty)
    val f = new java.io.File(sink)
    @volatile var running = true
    @volatile var sawAbsent = false
    val poller = new Thread(() => while (running) {
      if (!f.exists()) sawAbsent = true
    })
    poller.start()
    try (1 to 5).foreach { i =>
      // rename-aside swap: old-or-new is always present at the path
      FileConnector.writeAtomic(Seq(i).toDF("v"), sink, "parquet", Map.empty)
    } finally {
      running = false
      poller.join()
    }
    assert(!sawAbsent)
    assert(spark.read.parquet(sink).as[Int].collect().toSeq == Seq(5))
  }

  test("schemaDriftReport emits only the delta, identical schemas none") {
    val base = java.nio.file.Files.createTempDirectory("graft_sdr").toString
    Seq((1L, "a", 1.5)).toDF("id", "name", "score")
      .write.parquet(s"$base/v1")
    Seq((1L, "a", "high", true)).toDF("id", "name", "score", "flag")
      .write.parquet(s"$base/v2")
    val out = FileConnector.schemaDriftReport(spark, s"$base/v1", s"$base/v2")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(out == Map(
      "score" -> (("type_changed", "double", "string")),
      "flag" -> (("added", null, "boolean"))))
    assert(FileConnector.schemaDriftReport(spark, s"$base/v1", s"$base/v1")
      .count() == 0L)
  }

  test("readJsonAudited quarantines bad lines, parses the rest") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.jsonl"),
      """{"id": 1, "name": "ok"}
        |{"id": 2,
        |totally not json
        |{"id": 3, "name": "fine"}
        |""".stripMargin)
    val out = FileConnector.readJsonAudited(spark, dir,
      StructType(Seq(StructField("id", LongType),
        StructField("name", StringType))))
      .collect()
    val good = out.filter(!_.getAs[Boolean]("is_corrupt"))
    val bad = out.filter(_.getAs[Boolean]("is_corrupt"))
    assert(good.map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "ok"), (3L, "fine")))
    assert(bad.map(_.getAs[String]("corrupt_raw")).toSet
      == Set("""{"id": 2,""", "totally not json"))
    assert(bad.forall(_.isNullAt(0))) // data columns NULL on quarantine
  }
}

class JdbcConnectorSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDb(): String =
    s"jdbc:derby:memory:spec${System.nanoTime()};create=true"

  private def mkTable(url: String): Unit =
    JdbcConnector.withConnection(url, Map.empty) { c =>
      val st = c.createStatement()
      st.execute("CREATE TABLE T (K BIGINT PRIMARY KEY, V VARCHAR(20), X DOUBLE)")
      st.close()
    }

  private def readBack(url: String) =
    JdbcConnector.read(spark, SourceConf(connect = url, table = Some("T"), partitions = 1))

  test("complete mode truncates and loads") {
    val url = freshDb(); mkTable(url)
    val sink = SinkConf(connect = url, table = Some("T"), mode = ReplicationMode.Complete)
    JdbcConnector.write(Seq((1L, "a", 1.0)).toDF("K", "V", "X"), sink)
    JdbcConnector.write(Seq((2L, "b", 2.0), (3L, "c", 3.0)).toDF("K", "V", "X"), sink)
    val rows = readBack(url).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(2L, 3L))
    // --sink-disable-truncate appends onto the existing table: its
    // rows and its definition (primary key) survive
    JdbcConnector.write(Seq((4L, "d", 4.0)).toDF("K", "V", "X"),
      sink.copy(disableTruncate = true))
    assert(readBack(url).collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    JdbcConnector.withConnection(url, Map.empty) { c =>
      val rs = c.getMetaData.getPrimaryKeys(null, null, "T")
      assert(rs.next() && rs.getString("COLUMN_NAME") == "K")
    }
  }

  test("incremental mode merges on the discovered primary key") {
    val url = freshDb(); mkTable(url)
    JdbcConnector.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("K", "V", "X"),
      SinkConf(connect = url, table = Some("T"), mode = ReplicationMode.Complete))
    JdbcConnector.write(Seq((2L, "B2", 2.5), (4L, "d", 4.0)).toDF("K", "V", "X"),
      SinkConf(connect = url, table = Some("T"), mode = ReplicationMode.Incremental))
    val m = readBack(url).collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(m == Map(1L -> ("a", 1.0), 2L -> ("B2", 2.5), 4L -> ("d", 4.0)))
    // staging table dropped after merge
    JdbcConnector.withConnection(url, Map.empty) { c =>
      val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
      var names = List.empty[String]
      while (rs.next()) names ::= rs.getString("TABLE_NAME")
      assert(names.count(_.startsWith("T")) == 1)
    }
  }

  test("complete-atomic swaps staging into the sink transactionally") {
    val url = freshDb(); mkTable(url)
    JdbcConnector.write(Seq((1L, "old", 0.0)).toDF("K", "V", "X"),
      SinkConf(connect = url, table = Some("T"), mode = ReplicationMode.Complete))
    JdbcConnector.write(Seq((9L, "new", 9.0)).toDF("K", "V", "X"),
      SinkConf(connect = url, table = Some("T"), mode = ReplicationMode.CompleteAtomic))
    val rows = readBack(url).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("incremental without any key fails fast") {
    val url = freshDb()
    JdbcConnector.withConnection(url, Map.empty) { c =>
      val st = c.createStatement()
      st.execute("CREATE TABLE T (K BIGINT, V VARCHAR(20), X DOUBLE)") // no PK
      st.close()
    }
    assertThrows[IllegalArgumentException](
      JdbcConnector.write(Seq((1L, "a", 1.0)).toDF("K", "V", "X"),
        SinkConf(connect = url, table = Some("T"), mode = ReplicationMode.Incremental)))
  }

  test("partitioned read (auto-discovered key ranges) returns the full table") {
    val url = freshDb(); mkTable(url)
    val df = (1L to 100L).map(i => (i, s"v$i", i.toDouble)).toDF("K", "V", "X")
    JdbcConnector.write(df, SinkConf(connect = url, table = Some("T"),
      mode = ReplicationMode.Complete))
    val back = JdbcConnector.read(spark, SourceConf(connect = url,
      table = Some("T"), partitions = 4, options = Map("partition.key" -> "K")))
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 100)
    assert(back.agg(sum("K")).first().getLong(0) == 5050)
    // a key with no non-NULL value has no bounds: one slice, every row
    JdbcConnector.withConnection(url, Map.empty) { c =>
      c.createStatement().execute("ALTER TABLE T ADD COLUMN N BIGINT")
    }
    val nullKey = JdbcConnector.read(spark, SourceConf(connect = url,
      table = Some("T"), partitions = 4, options = Map("partition.key" -> "N")))
    assert(nullKey.count() == 100)
  }
}

class KafkaSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("payload serializes rows as JSON with ISO-8601 timestamps") {
    val df = Seq((1L, "x")).toDF("id", "name")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00.123")))
    val out = KafkaSink.payload(df, keyColumn = Some("id")).first()
    assert(out.getString(0) == "1")
    assert(out.getString(1) ==
      """{"id":1,"name":"x","ts":"2024-01-01T00:00:00.123Z"}""")
  }

  test("a column literally named json passes through pre-serialized") {
    val df = Seq(("""{"a":1}""", 7L)).toDF("json", "k")
    val out = KafkaSink.payload(df, keyColumn = None).first()
    assert(out.getString(0) == """{"a":1}""")
  }

  test("parse inverts payload: typed roundtrip incl. nulls and doubles") {
    val df = Seq((1L, Some("x"), Some(0.1), Some(true)),
      (2L, None, Some(1.0 / 3.0), None),       // nulls + non-terminating double
      (3L, Some("q\"uo\\te"), None, Some(false))) // JSON-escaped content
      .toDF("id", "name", "score", "flag")
      .withColumn("tsn",
        lit("2024-01-01 00:00:00.123").cast("timestamp_ntz"))
    val back = KafkaSink.parse(
      KafkaSink.payload(df, keyColumn = Some("id")), df.schema)
    // from_json fields are always nullable; names and types must match
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b)  // lossless: shortest-round-trip doubles survive
  }

  test("typedPayload keeps serialized fields as typed columns beside the key") {
    val df = Seq((1L, "x")).toDF("id", "name")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00.123")))
      .withColumn("tsn", lit("2024-01-01 00:00:00.123").cast("timestamp_ntz"))
    val out = KafkaSink.typedPayload(df, keyColumn = Some("id"))
    assert(out.columns.toSeq == Seq("key", "id", "name", "ts", "tsn"))
    val r = out.first()
    assert(r.getString(0) == "1")
    assert(r.getLong(1) == 1L)
    // LTZ and NTZ (UTC convention) serialize to the same instant form
    assert(r.getString(3) == "2024-01-01T00:00:00.123Z")
    assert(r.getString(4) == "2024-01-01T00:00:00.123Z")
  }
}
