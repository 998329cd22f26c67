package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.sources.{FileConnector, JdbcConnector}

import Fixtures._

/** Queries: §2.6 replication modes. */
object ReplModesQ extends Family {

  Q("m1_mode_complete", (s, dir) => {
    // complete: truncate-and-load through the engine (file->file)
    val sink = tmpDir("graft_complete") + "/lineitem_sink"
    ReplicaEngine.replicate(s, ReplConf(
      SourceConf(connect = s"$dir/lineitem.parquet"),
      SinkConf(connect = sink, mode = ReplicationMode.Complete)))
    s.read.parquet(sink)
  }, "SELECT * FROM lineitem")

  Q("m2_mode_complete_atomic", (s, dir) => {
    // complete-atomic: staging write + atomic swap (file sink)
    val sink = tmpDir("graft_atomic") + "/orders_sink"
    ReplicaEngine.replicate(s, ReplConf(
      SourceConf(connect = s"$dir/orders.parquet"),
      SinkConf(connect = sink, mode = ReplicationMode.CompleteAtomic)))
    s.read.parquet(sink)
  }, "SELECT * FROM orders")

  // small-file compaction: fragment customer into 64 tiny files,
  // bin-pack back to a handful, read the compacted table — row
  // parity against the source proves the rewrite lost nothing
  Q("m6_compaction", (s, dir) => {
    val sink = tmpDir("graft_compact") + "/customer_sink"
    t(s, dir, "customer").repartition(64).write
      .mode("overwrite").parquet(sink)
    graft.sources.Compaction.compactParquet(s, sink, 64L << 20)
    s.read.parquet(sink)
  }, "SELECT * FROM customer")

  // schema evolution across file epochs: epoch1 carries
  // c_mktsegment, epoch2 drops it and adds c_tier — the unified
  // read must null-fill both directions (mergeSchema on footers,
  // no rewrite of either epoch)
  Q("sc1_schema_evolution", (s, dir) => {
    val base = tmpDir("graft_drift")
    val c = t(s, dir, "customer")
    c.filter(col("c_custkey") % 2 === 0)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(base + "/epoch1")
    c.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("c_tier", lit("basic"))
      .write.mode("overwrite").parquet(base + "/epoch2")
    graft.sources.FileConnector.readUnified(s,
        Seq(base + "/epoch1", base + "/epoch2"))
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_tier")
  },
    """SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
      |       CAST(NULL AS VARCHAR) AS c_tier
      |FROM customer WHERE c_custkey % 2 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal, NULL, 'basic'
      |FROM customer WHERE c_custkey % 2 = 1""".stripMargin)

  // schema-drift REPORT (the alerting companion to sc1's read-side
  // merge): added/removed/type-changed columns from parquet footer
  // metadata only — no data scanned at any scale
  Q("sc2_schema_drift", (s, dir) => {
    val base = tmpDir("graft_drift2")
    val c = t(s, dir, "customer")
    c.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(base + "/v1")
    c.select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("string").as("c_acctbal"))
      .withColumn("c_tier", lit("basic"))
      .write.mode("overwrite").parquet(base + "/v2")
    graft.sources.FileConnector.schemaDriftReport(s,
      base + "/v1", base + "/v2")
  },
    // the drift delta is fully determined by the two fixture schemas
    """SELECT 'c_mktsegment' AS column, 'removed' AS change_type,
      |       'string' AS type_before, CAST(NULL AS VARCHAR) AS type_after
      |UNION ALL
      |SELECT 'c_tier', 'added', CAST(NULL AS VARCHAR), 'string'
      |UNION ALL
      |SELECT 'c_acctbal', 'type_changed', 'double', 'string'""".stripMargin)

  // CDC change-feed apply: a deterministic feed with superseded
  // changes per key (stale update under a delete, stale delete under
  // an update) — latest-wins per key, deletes remove, inserts add
  Q("m7_cdc_apply", (s, dir) => {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    def chg(df: DataFrame, op: String, seq: Long): DataFrame =
      df.withColumn("op", lit(op)).withColumn("seq", lit(seq))
    val changes =
      chg(c.filter(k % 10 === 0), "D", 1L)
        .unionByName(chg(c.filter(k % 10 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 55), "U", 0L))
        .unionByName(chg(c.filter(k % 10 === 1 || k % 10 === 2)
          .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2)), "U", 1L))
        .unionByName(chg(c.filter(k % 10 === 1), "D", 0L))
        .unionByName(chg(c.filter(k % 10 === 3)
          .withColumn("c_custkey", k + 1000000), "I", 1L))
    Modes.applyChanges(c, changes, Seq("c_custkey"), "op", "seq")
  },
    """WITH chg AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |         'D' AS op, 1 AS seq FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 55, c_mktsegment,
      |         'U', 0 FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, round(c_acctbal + 1000, 2),
      |         c_mktsegment, 'U', 1
      |  FROM customer WHERE c_custkey % 10 IN (1, 2)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |         'D', 0 FROM customer WHERE c_custkey % 10 = 1
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
      |         c_mktsegment, 'I', 1 FROM customer WHERE c_custkey % 10 = 3),
      |latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY c_custkey
      |                               ORDER BY seq DESC, op DESC) AS rn
      |  FROM chg)
      |SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
      |FROM customer c
      |WHERE c.c_custkey NOT IN (SELECT c_custkey FROM latest WHERE rn = 1)
      |UNION ALL
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM latest WHERE rn = 1 AND op <> 'D'""".stripMargin)

  // agg-to-array shape: per-customer sorted distinct priority list,
  // serialized for engine-portable comparison
  Q("agg5_priority_sets", (s, dir) =>
    t(s, dir, "orders").groupBy("o_custkey")
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
        .as("priorities"),
        countDistinct(col("o_orderpriority")).as("n_priorities")),
    """SELECT o_custkey,
      |       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
      |         AS priorities,
      |       count(DISTINCT o_orderpriority) AS n_priorities
      |FROM orders GROUP BY 1""".stripMargin)

  val m3 = Q("m3_mode_incremental_jdbc", (s, dir) => {
    // incremental staged merge against a real JDBC database
    // (embedded Derby): complete-load the base, upsert the delta,
    // read the sink back. Exercises partition predicates, staging
    // table DDL, PK discovery, and the ANSI MERGE emitter.
    val url = derbyOrdersSink("graft")
    val orders = t(s, dir, "orders")
    def up(df: DataFrame) = df.toDF(df.columns.map(_.toUpperCase).toIndexedSeq: _*)
    val base = up(orders.filter("o_orderkey % 3 != 0"))
    val delta = up(orders.filter("o_orderkey % 2 = 0")
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)))
    JdbcConnector.write(base, SinkConf(connect = url, table = Some("orders_sink"),
      mode = ReplicationMode.Complete))
    JdbcConnector.write(delta, SinkConf(connect = url, table = Some("orders_sink"),
      mode = ReplicationMode.Incremental))
    val back = JdbcConnector.read(s, SourceConf(connect = url,
      table = Some("orders_sink"), partitions = 4,
      options = Map("partition.key" -> "O_ORDERKEY")))
    // Derby TIMESTAMP reads back as session-tz TimestampType; the
    // stored values are naive — normalize for the naive oracle
    ntz(back.toDF(back.columns.map(_.toLowerCase).toIndexedSeq: _*))
  },
    """WITH staging AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT * FROM staging
      |UNION ALL
      |SELECT t.* FROM orders t
      |WHERE t.o_orderkey % 3 <> 0
      |  AND t.o_orderkey NOT IN (SELECT o_orderkey FROM staging)""".stripMargin)

  // the same staged incremental replication, but driven end-to-end
  // through the CLI argument surface (graft.cli.Main.run — flag
  // parsing, ${ENV}-free property mapping, credentials via
  // --source/sink-user/-password, --source-query through the
  // collision-safe t1 CTE bridge, --sink-staging-table-alias) —
  // proves a reference CLI invocation maps 1:1 onto the engine
  Q("m11_cli_incremental", (s, dir) => {
    val url = derbyOrdersSink("graftcli")
    val cols = "o_orderkey AS O_ORDERKEY, o_custkey AS O_CUSTKEY, " +
      "o_orderstatus AS O_ORDERSTATUS, %s AS O_TOTALPRICE, " +
      "o_orderdate AS O_ORDERDATE, o_orderpriority AS O_ORDERPRIORITY"
    def cli(mode: String, select: String, extra: String*): Unit =
      graft.cli.Main.run(Array(
        s"--source-connect=$dir/orders.parquet",
        s"--source-query=$select",
        "--source-user=app", "--source-password=secret",
        s"--mode=$mode",
        s"--sink-connect=$url",
        "--sink-table=orders_sink",
        "--sink-user=app", "--sink-password=secret") ++ extra)
    cli("complete",
      s"SELECT ${cols.format("o_totalprice")} FROM t1 WHERE o_orderkey % 3 != 0")
    cli("incremental",
      s"SELECT ${cols.format("o_totalprice + 1000.0")} FROM t1 WHERE o_orderkey % 2 = 0",
      "--sink-key-columns=O_ORDERKEY", "--sink-staging-table-alias=ost")
    val back = JdbcConnector.read(s, SourceConf(connect = url,
      table = Some("orders_sink"), partitions = 4,
      options = Map("partition.key" -> "O_ORDERKEY")))
    ntz(back.toDF(back.columns.map(_.toLowerCase).toIndexedSeq: _*))
  }, m3.oracle)

  Q("m4_upsert_dataframe", (s, dir) => {
    // the same upsert as pure DataFrame algebra (Modes.upsert)
    val orders = t(s, dir, "orders")
    val target = orders.filter("o_orderkey % 3 != 0")
    val staging = orders.filter("o_orderkey % 2 = 0")
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    Modes.upsert(target, staging, Seq("o_orderkey"))
  }, m3.oracle)

  // file-sink incremental: complete-load the base, then staged
  // upsert re-written through the ATOMIC swap (readers always see
  // old-or-new, never nothing) — the file analogue of m3. The merge
  // plan reads the CURRENT version while the swap stages the next
  // one; the versioned-dir layout is what makes that self-merge
  // safe.
  Q("m5_mode_incremental_file", (s, dir) => {
    val orders = t(s, dir, "orders")
    val target = tmpDir("graft_m5") + "/orders_sink"
    FileConnector.writeAtomic(
      orders.filter("o_orderkey % 3 != 0"), target, "parquet", Map.empty)
    val delta = orders.filter("o_orderkey % 2 = 0")
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    val merged = Modes.upsert(s.read.parquet(target), delta, Seq("o_orderkey"))
    FileConnector.writeAtomic(merged, target, "parquet", Map.empty)
    s.read.parquet(target)
  }, m3.oracle)

  /** A fresh in-memory Derby database holding an empty `orders_sink`
    * (o_orderkey primary key); returns its JDBC url. */
  private def derbyOrdersSink(name: String): String = {
    val url = s"jdbc:derby:memory:$name${System.nanoTime()};create=true"
    JdbcConnector.withConnection(url, Map.empty) { c =>
      val st = c.createStatement()
      st.execute("CREATE TABLE orders_sink (o_orderkey BIGINT PRIMARY KEY, " +
        "o_custkey BIGINT, o_orderstatus VARCHAR(10), o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP, o_orderpriority VARCHAR(20))")
      st.close()
    }
    url
  }
}
