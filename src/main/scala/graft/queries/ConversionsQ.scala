package graft
package queries

import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.Conversions
import graft.operators._

import Fixtures._

/** Queries: §2.7 conversions + Kafka payload. */
object ConversionsQ extends Family {

  Q("t1_conversions", (s, dir) =>
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      // parquet NTZ timestamps cast to TIMESTAMP under the UTC
      // session zone — same wall-clock instant
      Conversions.timestampToEpochMillis(col("l_shipdate").cast("timestamp")).as("ship_epoch_ms"),
      date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss").as("ship_iso"),
      col("l_shipdate").cast("date").as("ship_date"),
      Conversions.dateToEpochDay(col("l_shipdate").cast("date")).as("ship_epoch_day")),
    """SELECT l_orderkey, l_linenumber,
      |       epoch_ms(l_shipdate) AS ship_epoch_ms,
      |       strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S') AS ship_iso,
      |       CAST(l_shipdate AS DATE) AS ship_date,
      |       date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ship_epoch_day
      |FROM lineitem""".stripMargin)

  Q("k1_kafka_payload", (s, dir) =>
    // Kafka sink payload: ISO-8601 dates + JSON body (W8). r7:
    // full MATCH — to_json's field-ordered whitespace-free output
    // with shortest-round-trip doubles is byte-replayable by a
    // DuckDB string concat on this schema (see the oracle note).
    // r8: the k1b typed-column sibling is folded away — it existed
    // as the hash-checkable proxy while k1 was rows-only; now that
    // the full serialization MATCHes, the typed projection is
    // strictly weaker coverage (KafkaSink.typedPayload keeps its
    // unit spec in ConnectorsSpec)
    graft.sources.KafkaSink.payload(
      t(s, dir, "orders"), keyColumn = Some("o_orderkey")),
    // r7: k1 graduated from rows-only to MATCH. Spark's to_json
    // emits fields in struct order with no whitespace and renders
    // doubles via Java's shortest-round-trip Double.toString; DuckDB
    // VARCHAR casts use the same shortest-representation digits (the
    // shortest form is unique), and the fixture's o_totalprice domain
    // [1013.7, 499978.59] stays far inside both engines' fixed-
    // notation windows (Java switches to E-notation at 1e7), so the
    // concatenated replay is byte-identical. Strings in the fixture
    // need no JSON escaping (single-char status, enum priorities).
    """SELECT CAST(o_orderkey AS VARCHAR) AS key,
      |  '{"o_orderkey":' || o_orderkey ||
      |  ',"o_custkey":' || o_custkey ||
      |  ',"o_orderstatus":"' || o_orderstatus ||
      |  '","o_totalprice":' || CAST(o_totalprice AS VARCHAR) ||
      |  ',"o_orderdate":"' || strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%gZ') ||
      |  '","o_orderpriority":"' || o_orderpriority || '"}' AS value
      |FROM orders""".stripMargin)

  // the CONSUMER direction: k1's serialized payloads parsed back
  // against the source schema — payload -> parse is lossless, so
  // the roundtrip hash-equals the source table itself
  Q("k2_kafka_parse", (s, dir) => {
    val src = t(s, dir, "orders")
    graft.sources.KafkaSink.parse(
      graft.sources.KafkaSink.payload(src, keyColumn = Some("o_orderkey")),
      src.schema)
  },
    // serialize -> parse roundtrip identity
    "SELECT * FROM orders")
}
