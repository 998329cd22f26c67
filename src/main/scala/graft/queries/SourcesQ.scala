package graft
package queries

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.sources.{FileConnector, MongoShim, ObjectPerRowSink}

import Fixtures._

/** Queries: §2.1 scans / sources. */
object SourcesQ extends Family {

  Q("s1_scan_project", (s, dir) => {
    // column projection pushed into the scan (SURVEY §2.3)
    val conf = SourceConf(connect = s"$dir/lineitem.parquet",
      columns = Some(Seq("l_orderkey", "l_extendedprice", "l_shipdate")))
    ReplicaEngine.transform(s, ReplicaEngine.read(s, conf), conf)
  }, "SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem")

  Q("s2_partitioned_scan", (s, dir) => {
    // the dialect partition-predicate strategy (ora_hash/physloc
    // analogue): N disjoint slices, union == full table
    val orders = t(s, dir, "orders")
    graft.sources.JdbcPartitioning.modKey("o_orderkey", 4)
      .map(pred => orders.filter(expr(pred)))
      .reduce(_.unionAll(_))
  }, "SELECT * FROM orders")

  Q("f1_filter_where", (s, dir) => {
    // source-where predicate passthrough (SURVEY §2.3)
    val conf = SourceConf(connect = s"$dir/orders.parquet",
      where = Some("o_totalprice > 100000 AND o_orderstatus = 'F'"))
    ReplicaEngine.transform(s, ReplicaEngine.read(s, conf), conf)
  }, "SELECT * FROM orders WHERE o_totalprice > 100000 AND o_orderstatus = 'F'")

  Q("q1_source_query", (s, dir) => {
    // source-query passthrough: arbitrary SQL over the source
    val conf = SourceConf(connect = s"$dir/orders.parquet",
      query = Some("SELECT o_orderpriority, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS total FROM t1 GROUP BY o_orderpriority"))
    ReplicaEngine.transform(s, ReplicaEngine.read(s, conf), conf)
  },
    "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total FROM orders GROUP BY o_orderpriority")

  Q("c1_csv_declared_schema", (s, dir) => {
    // CSV source with declared JDBC-style column types (S11)
    val out = tmpDir("graft_csv") + "/orders_csv"
    val src = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    FileConnector.write(src, out, "csv", Map("header" -> "true"), overwrite = true)
    val conf = SourceConf(connect = out,
      columnNames = Some(Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")),
      columnTypes = Some(Seq("BIGINT", "VARCHAR", "DOUBLE", "TIMESTAMP")),
      options = Map("format" -> "csv", "header" -> "true"))
    ReplicaEngine.read(s, conf)
  }, "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders")

  Q("c2_orc_json_roundtrip", (s, dir) => {
    // ORC + JSON sources (S12/S13): write both, read both back,
    // verify the union against 2x the table
    val base = tmpDir("graft_fmt")
    val src = t(s, dir, "supplier")
    FileConnector.write(src, s"$base/sup.orc", "orc", Map.empty, overwrite = true)
    FileConnector.write(src, s"$base/sup.json", "json", Map.empty, overwrite = true)
    val orc = FileConnector.read(s, SourceConf(connect = s"$base/sup.orc"))
    val json = FileConnector.read(s, SourceConf(connect = s"$base/sup.json",
      options = Map("format" -> "json")))
    // JSON is schemaless on read (ints widen to bigint) — restore
    // the declared schema before the union
    orc.unionByName(json.select(orc.schema.fields.toIndexedSeq.map(f =>
      json.col(f.name).cast(f.dataType).as(f.name)): _*))
  }, "SELECT * FROM supplier UNION ALL SELECT * FROM supplier")

  // avro roundtrip (S13's last unproven format): Spark 4 ships the
  // avro source inside spark-sql itself, so the same engine write/
  // read path ORC uses covers the reference's avro declaration
  // (manager/file/FileFormats.java:3-15) with zero extra jars —
  // write through the engine, read back through the registry route
  Q("c4_avro_roundtrip", (s, dir) => {
    val base = tmpDir("graft_avro")
    val src = t(s, dir, "supplier")
    FileConnector.write(src, s"$base/sup.avro", "avro", Map.empty,
      overwrite = true)
    val back = FileConnector.read(s, SourceConf(connect = s"$base/sup.avro"))
    back.select(src.columns.map(back.col).toIndexedSeq: _*)
  }, "SELECT * FROM supplier")

  Q("s9_mongo_filter", (s, dir) => {
    // Mongo BSON filter + projection semantics (S9) over documents
    val filtered = t(s, dir, "documents").filter(MongoShim.filterToColumn(
      """{"lang": {"$in": ["en", "de"]}, "n_chars": {"$gt": 200}}"""))
    MongoShim.project(filtered, """{"doc_id": 1, "lang": 1, "n_chars": 1}""")
  },
    "SELECT doc_id, lang, n_chars FROM documents WHERE lang IN ('en', 'de') AND n_chars > 200")

  Q("s10_mongo_pipeline", (s, dir) =>
    // Mongo aggregation pipeline semantics (S10)
    MongoShim.pipeline(t(s, dir, "documents"),
      """[
          {"$match": {"n_chars": {"$gte": 100}}},
          {"$group": {"_id": "$source", "n_docs": {"$sum": 1},
                      "total_chars": {"$sum": "$n_chars"}}},
          {"$sort": {"_id": 1}}
        ]"""),
    """SELECT source AS _id, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE n_chars >= 100 GROUP BY source""".stripMargin)

  Q("w11_object_per_row", (s, dir) => {
    // object-per-row sink (W11): one object per document, read back
    val base = tmpDir("graft_objects")
    val docs = t(s, dir, "documents").filter("doc_id < 100")
      .selectExpr("concat('doc_', doc_id, '.txt') AS key", "text AS body")
    ObjectPerRowSink.write(docs, base, "key", "body")
    // deterministic re-read: list the directory just written (a bare
    // "*.txt" glob threw on empty match during the r1 bench run)
    s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(base)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.txt", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"))
  }, "SELECT doc_id, strlen(text) AS n_bytes FROM documents WHERE doc_id < 100")
}
