package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.SourceConf

/** Partitioned PostgreSQL SOURCE over the engine's own v3 wire client
  * — the read half of the zero-jar loop (the write half is
  * [[PgWireTransport]]). Activates like the sink transport: the
  * `pgwire.socket` / `pgwire=true` source options route
  * [[JdbcConnector.read]] here instead of Spark's JDBC reader (which
  * requires a vendor driver jar).
  *
  * Shape is the reference's N-ReplicaTask scan
  * (`ReplicaDB.java:239-254`) on Spark's executor model:
  *  - the driver infers the Spark schema from one `LIMIT 0`
  *    RowDescription (pg_type OIDs -> Spark types);
  *  - [[JdbcPartitioning.plan]] makes the same split decision as the
  *    JDBC path (key ranges from explicit bounds or one MIN/MAX probe
  *    sent over the wire, else one slice); only the keyless plain
  *    table is PostgreSQL-specific: disjoint ctid page ranges;
  *  - each Spark task opens ONE wire connection and streams its slice
  *    through a server-side cursor (`DECLARE … FETCH <fetchSize>`),
  *    so task memory is bounded by the fetch batch, exactly the
  *    reference's fetch-size contract — never the whole slice.
  *
  * Text-protocol decoding covers the OIDs the engine's type matrix
  * exercises (bool/int2/int4/int8/float4/float8/numeric/text/varchar/
  * bpchar/bytea/date/timestamp/timestamptz); anything else lands as
  * its text form in a string column — visible, not dropped.
  */
object PgWireSource {

  /** pg_type OID -> Spark type. */
  private[sources] def sparkType(oid: Int): DataType = oid match {
    case 16 => BooleanType // bool
    case 21 => ShortType // int2
    case 23 => IntegerType // int4
    case 20 => LongType // int8
    case 700 => FloatType // float4
    case 701 => DoubleType // float8
    case 1700 => DecimalType(38, 18) // numeric (unconstrained typmod)
    case 17 => BinaryType // bytea
    case 1082 => DateType // date
    case 1114 => TimestampType // timestamp
    case 1184 => TimestampType // timestamptz (session pinned to UTC)
    case _ => StringType // text / varchar / bpchar / uuid / json / …
  }

  private[sources] def decode(text: String, dt: DataType): Any =
    if (text == null) null
    else dt match {
      case BooleanType => text == "t" || text == "true"
      case ShortType => text.toShort
      case IntegerType => text.toInt
      case LongType => text.toLong
      case FloatType => text.toFloat
      case DoubleType => text.toDouble
      case _: DecimalType => new java.math.BigDecimal(text)
      case BinaryType =>
        // bytea hex output format: \x<hex>
        val hex = text.stripPrefix("\\x")
        val out = new Array[Byte](hex.length / 2)
        var i = 0
        while (i < out.length) {
          out(i) = Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte
          i += 1
        }
        out
      case DateType => java.sql.Date.valueOf(text)
      case TimestampType =>
        if (text.endsWith("+00"))
          // timestamptz: the session is pinned to UTC, so the wall
          // clock before "+00" IS the instant — convert explicitly
          // via UTC (Timestamp.valueOf would re-interpret it in the
          // JVM default zone and shift every instant off-UTC JVMs)
          java.sql.Timestamp.from(
            java.time.LocalDateTime.parse(
              text.stripSuffix("+00").replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC))
        else
          // timestamp (no tz): naive wall clock, same JVM-local
          // interpretation as the JDBC reader's getTimestamp
          java.sql.Timestamp.valueOf(text)
      case _ => text
    }

  /** One task's slice: cursor-paged rows for `sql` + predicate. The
    * connection closes at cursor exhaustion AND at task completion
    * (whichever first — a `limit` that abandons the iterator must not
    * leak a server backend). */
  private def slice(endpoint: PgWireTransport.Endpoint, sql: String,
      schema: StructType, fetchSize: Int): Iterator[Row] = {
    val cl = PgWireClient.connect(
      endpoint.target, endpoint.user, endpoint.db, endpoint.password)
    var closed = false
    def closeOnce(): Unit = if (!closed) { closed = true; cl.close() }
    // register cleanup BEFORE the setup statements: a bad predicate /
    // where-clause throwing at DECLARE must not leak the socket and
    // its server backend (one per task retry otherwise)
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => closeOnce()))
    try {
      cl.exec("SET TIME ZONE 'UTC'")
      cl.exec("BEGIN")
      cl.exec(s"DECLARE graft_c NO SCROLL CURSOR FOR $sql")
    } catch { case e: Throwable => closeOnce(); throw e }
    val types = schema.fields.map(_.dataType)
    new Iterator[Row] {
      private var batch: Iterator[Seq[String]] = Iterator.empty
      private var exhausted = false
      private def advance(): Unit =
        while (!batch.hasNext && !exhausted && !closed) {
          val r = cl.exec(s"FETCH $fetchSize FROM graft_c")
          if (r.rows.isEmpty) {
            exhausted = true
            try { cl.exec("COMMIT"); () } finally closeOnce()
          } else batch = r.rows.iterator
        }
      override def hasNext: Boolean = { advance(); batch.hasNext }
      override def next(): Row = {
        advance()
        val texts = batch.next()
        Row.fromSeq(texts.zip(types).map { case (t, dt) => decode(t, dt) })
      }
    }
  }

  def read(spark: SparkSession, conf: SourceConf): DataFrame = {
    val opts = conf.connOptions
    val endpoint = PgWireTransport.connFor(conf.connect, opts)
    // reference subselect wrap, SqlManager.java:58-93 — same as the
    // JDBC read path
    val table = conf.query.map(q => s"($q) T1").orElse(conf.table)
      .getOrElse(throw new IllegalArgumentException(
        "JDBC source needs table or query"))
    val baseSelect = {
      val cols = conf.columns.map(_.mkString(", ")).getOrElse("*")
      val where = conf.where.map(w => s" WHERE $w").getOrElse("")
      s"SELECT $cols FROM $table$where"
    }
    val from = s"($baseSelect) graft_s"

    // ALL driver-side planning (schema probe + slice bounds) shares
    // ONE connection — against a remote server every extra connect is
    // an auth round-trip plus a forked backend
    val planner = PgWireClient.connect(
      endpoint.target, endpoint.user, endpoint.db, endpoint.password)
    val (schema, sliceSqls) = try {
      val r = planner.exec(s"SELECT * FROM $from LIMIT 0")
      val schema = StructType(r.columns.zip(r.typeOids).map { case (n, o) =>
        StructField(n, sparkType(o))
      })
      val slices: Seq[String] =
        if (conf.partitions <= 1) Seq(baseSelect)
        else if (conf.options.contains("partition.key") || conf.query.nonEmpty)
          JdbcPartitioning.plan(conf.connect, conf.partitions, conf.options, from,
            planner.exec(_).rows.head)
            .map(p => s"SELECT * FROM $from WHERE $p")
        else
          // keyless plain table: disjoint ctid page ranges (TID
          // range scans — each task touches only its pages; the
          // predicate must sit on the base table, ctid dies in a
          // subselect). ctid exists only on real storage: gate on
          // relkind (table/matview/toast) — a VIEW has a pg_class
          // row too, so "the probe fails" is NOT the guard
          scala.util.Try {
            val row = planner.exec(
              "SELECT c.relkind, greatest(c.relpages, 1) FROM pg_class c " +
                s"WHERE c.oid = '$table'::regclass").rows.head
            (row(0), row(1).toLong)
          }.toOption match {
            case Some((kind, pages)) if Seq("r", "m", "t").contains(kind) =>
              val cols = conf.columns.map(_.mkString(", ")).getOrElse("*")
              val extra = conf.where.map(w => s" AND ($w)").getOrElse("")
              JdbcPartitioning.ctidRanges(pages, conf.partitions)
                .map(p => s"SELECT $cols FROM $table WHERE $p$extra")
            case _ => Seq(baseSelect) // view/foreign table: one slice
          }
      (schema, slices)
    } finally planner.close()

    val fetchSize = math.max(1, conf.fetchSize)
    val rdd = spark.sparkContext
      .parallelize(sliceSqls, sliceSqls.length)
      .mapPartitions(_.flatMap(sql =>
        slice(endpoint, sql, schema, fetchSize)))
    spark.createDataFrame(rdd, schema)
  }
}
