package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Vendor bulk-load fast paths — the reference's single biggest sink
  * performance asset, re-expressed for Spark's executor model.
  *
  * The reference streams each worker's ResultSet into the vendor's
  * native ingest protocol instead of batched INSERTs:
  *  - Postgres `COPY ... FROM STDIN` via the driver's CopyManager
  *    (`PostgresqlManager.java:49-172`) — 5-10x the insert path.
  *  - MySQL/MariaDB `LOAD DATA LOCAL INFILE` with an in-memory stream
  *    (`MySQLManager.java:51-174`).
  * Both use the same wire text: fields separated by the 0x1F unit
  * separator, rows by `\n`, nulls as `\N`, binary as hex
  * (`PostgresqlManager.java:133-137`, `:363-393`).
  *
  * Here each SPARK PARTITION plays the role of one reference worker:
  * `df.foreachPartition` opens one connection, encodes rows straight
  * to UTF-8 bytes, and streams them through the vendor entry point —
  * N partitions load in parallel with no driver-side funnel, which is
  * the 1000-executor shape. The vendor driver classes are not on this
  * container's classpath, so the protocol layer (encoding, SQL
  * command text, batching) is the unit-tested surface and the
  * connection plumbing resolves the driver reflectively at runtime;
  * [[available]] reports whether the fast path can activate, and
  * callers fall back to Spark's generic batched-insert writer.
  *
  * Escaping notes (deliberate divergences, both strict improvements):
  *  - the delimiter byte 0x1F is backslash-escaped inside field data
  *    (the reference leaves it bare, which would shift columns);
  *  - a genuine NUL char inside a string is escaped, not silently
  *    rewritten into the null marker.
  */
object BulkLoad {

  val UnitSep: Char = 0x1f.toChar
  val NullMarker = "\\N"

  private val hexDigits = "0123456789ABCDEF".toCharArray

  def bytesToHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      out(i * 2) = hexDigits(v >>> 4)
      out(i * 2 + 1) = hexDigits(v & 0x0f)
      i += 1
    }
    new String(out)
  }

  /** Postgres bytea hex wire form for COPY text: the parser strips one
    * escape level, so `\\x<hex>` on the wire arrives as `\x<hex>` at
    * the bytea input function (`PostgresqlManager.java:380-393`). */
  def bytesToPostgresHex(bytes: Array[Byte]): String =
    "\\\\x" + bytesToHex(bytes)

  /** Escape one text field for the COPY / LOAD DATA text protocols. */
  def escapeField(s: String, disableEscape: Boolean = false): String = {
    if (disableEscape) return s
    val b = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\u0000' => b.append("\\0")
        case UnitSep => b.append('\\').append(UnitSep)
        case c => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  /** Render one Spark row to the shared wire text (without trailing
    * newline). `binaryHex` renders a non-null binary column — PG and
    * MySQL differ there, and in booleans: MySQL LOAD DATA coerces the
    * text 'true' into TINYINT(1)/BIT as 0 (truncation warning, or an
    * error in strict mode), so the MySQL encoder must emit 1/0 — the
    * reference gets this for free because MySQL's own
    * `ResultSet.getString` renders booleans as "1"/"0". Postgres COPY
    * accepts true/false. */
  def encodeRow(
      row: Row,
      schema: StructType,
      binaryHex: Array[Byte] => String,
      disableEscape: Boolean = false,
      boolAsInt: Boolean = false): String = {
    val b = new java.lang.StringBuilder(64)
    var i = 0
    while (i < schema.length) {
      if (i > 0) b.append(UnitSep)
      if (row.isNullAt(i)) b.append(NullMarker)
      else schema(i).dataType match {
        case BinaryType =>
          b.append(binaryHex(row.getAs[Array[Byte]](i)))
        case StringType =>
          b.append(escapeField(row.getString(i), disableEscape))
        case BooleanType if boolAsInt =>
          b.append(if (row.getBoolean(i)) '1' else '0')
        case _ =>
          // numbers / dates / timestamps: JDBC text forms are their
          // toString renderings, nothing escapable inside
          b.append(String.valueOf(row.get(i)))
      }
      i += 1
    }
    b.toString
  }

  /** The COPY meta-command the reference issues
    * (`PostgresqlManager.java:174-191`). */
  def pgCopyCommand(table: String, columns: Seq[String]): String = {
    val cols = if (columns.isEmpty) "" else columns.mkString(" (", ", ", ")")
    s"COPY $table$cols FROM STDIN WITH DELIMITER e'\\x1f' ENCODING 'UTF-8' "
  }

  /** The LOAD DATA command with hex-staged binary columns: binary
    * fields load into @variables and are decoded with
    * `SET col = UNHEX(@col)` (`MySQLManager.java:176-215`). */
  def mysqlLoadDataCommand(table: String, schema: StructType): String = {
    val sb = new StringBuilder
    sb ++= s"LOAD DATA LOCAL INFILE 'dummy' INTO TABLE $table"
    sb ++= " CHARACTER SET UTF8 FIELDS TERMINATED BY X'1F' ("
    sb ++= schema.fields.map {
      case f if f.dataType == BinaryType => s"@${f.name}"
      case f => f.name
    }.mkString(", ")
    sb ++= ")"
    val binCols = schema.fields.filter(_.dataType == BinaryType).map(_.name)
    if (binCols.nonEmpty)
      sb ++= binCols.map(c => s"$c = UNHEX(@$c)").mkString(" SET ", ", ", "")
    sb.toString
  }

  sealed trait FastPath
  case object PgCopy extends FastPath
  case object MySqlLoadData extends FastPath
  case object SqlServerBulk extends FastPath

  /** Which fast path a URL selects, independent of driver presence. */
  def pathForUrl(url: String): Option[FastPath] =
    DialectMerge.fromUrl(url) match {
      case DialectMerge.Postgres => Some(PgCopy)
      case DialectMerge.MySql if !url.startsWith("jdbc:sqlite") => Some(MySqlLoadData)
      case DialectMerge.SqlServer => Some(SqlServerBulk)
      case _ => None
    }

  private def classPresent(name: String): Boolean =
    try { Class.forName(name); true } catch { case _: Throwable => false }

  /** JDBC connection `Properties` from the engine's option map — the
    * same `sink.connect.parameter.*` passthrough the generic writer
    * applies (user / password / driver / vendor knobs). A sink that
    * authenticates via options must keep working when the vendor
    * driver appears on the classpath and the bulk path activates. */
  def connProps(options: Map[String, String]): java.util.Properties = {
    val p = new java.util.Properties()
    options.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private[sources] def openConnection(url: String,
      options: Map[String, String]): java.sql.Connection = {
    options.get("driver").foreach(Class.forName)
    java.sql.DriverManager.getConnection(url, connProps(options))
  }

  /** True when the URL has a fast path AND its driver is loadable —
    * the activation condition for [[bulkAppend]]. */
  def available(url: String): Boolean = pathForUrl(url) match {
    case Some(PgCopy) => classPresent("org.postgresql.copy.CopyManager")
    case Some(MySqlLoadData) =>
      classPresent("com.mysql.cj.jdbc.JdbcPreparedStatement") ||
        classPresent("org.mariadb.jdbc.MariaDbStatement")
    case Some(SqlServerBulk) =>
      classPresent("com.microsoft.sqlserver.jdbc.SQLServerBulkCopy")
    case None => false
  }

  /** Stream `df` into `table` through the vendor bulk protocol, one
    * connection per Spark partition. Caller guarantees [[available]];
    * table must already exist (complete mode truncates first, staging
    * modes create it — same contract as the generic writer). */
  def bulkAppend(df: DataFrame, url: String, table: String,
      batchRows: Int = 5000, disableEscape: Boolean = false,
      options: Map[String, String] = Map.empty): Unit = {
    val schema = df.schema
    val path = pathForUrl(url).getOrElse(
      throw new IllegalArgumentException(s"no bulk path for $url"))
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) path match {
        case PgCopy => pgCopyPartition(rows, url, options, table, schema, disableEscape)
        case MySqlLoadData =>
          mysqlLoadPartition(rows, url, options, table, schema, batchRows, disableEscape)
        case SqlServerBulk =>
          sqlServerBulkPartition(rows, url, options, table, schema, batchRows)
      }
    }
  }

  /** The JDBC type code + precision/scale BulkCopy declares per Spark
    * column (`SQLServerManager.java:61-128` feeds BulkCopy from a
    * ResultSet; here the declaration comes from the schema). */
  def sqlServerColumnMeta(dt: DataType): (Int, Int, Int) = dt match {
    case BooleanType => (java.sql.Types.BIT, 1, 0)
    case ByteType => (java.sql.Types.TINYINT, 3, 0)
    case ShortType => (java.sql.Types.SMALLINT, 5, 0)
    case IntegerType => (java.sql.Types.INTEGER, 10, 0)
    case LongType => (java.sql.Types.BIGINT, 19, 0)
    case FloatType => (java.sql.Types.REAL, 7, 0)
    case DoubleType => (java.sql.Types.DOUBLE, 15, 0)
    case d: DecimalType => (java.sql.Types.DECIMAL, d.precision, d.scale)
    case StringType => (java.sql.Types.NVARCHAR, 4000, 0)
    case BinaryType => (java.sql.Types.VARBINARY, 8000, 0)
    case DateType => (java.sql.Types.DATE, 10, 0)
    case TimestampType | _: TimestampNTZType => (java.sql.Types.TIMESTAMP, 27, 7)
    case other => (java.sql.Types.NVARCHAR, 4000, 0)
  }

  /** Reflection-free core of the BulkCopy record feed: answers the
    * `ISQLServerBulkData` surface (column metadata + row cursor) from
    * a Spark schema and row iterator. The dynamic proxy below binds it
    * to the driver's interface at runtime. */
  final class BulkRecordState(schema: StructType, rows: Iterator[Row]) {
    private var current: Row = _
    val ordinals: java.util.Set[Integer] = {
      val s = new java.util.LinkedHashSet[Integer]()
      (1 to schema.length).foreach(i => s.add(Integer.valueOf(i)))
      s
    }
    def columnName(i: Int): String = schema(i - 1).name
    def columnType(i: Int): Int = sqlServerColumnMeta(schema(i - 1).dataType)._1
    def precision(i: Int): Int = sqlServerColumnMeta(schema(i - 1).dataType)._2
    def scale(i: Int): Int = sqlServerColumnMeta(schema(i - 1).dataType)._3
    def next(): Boolean = {
      if (!rows.hasNext) false
      else { current = rows.next(); true }
    }
    def rowData(): Array[AnyRef] =
      (0 until schema.length).map { i =>
        if (current.isNullAt(i)) null else current.get(i).asInstanceOf[AnyRef]
      }.toArray
  }

  /** One partition's BulkCopy stream: reflective
    * `SQLServerBulkCopy.writeToServer(ISQLServerBulkData)` with the
    * record interface satisfied by a dynamic proxy over
    * [[BulkRecordState]] — same calls as `SQLServerManager.java:75-120`
    * without a compile-time driver dependency. */
  private def sqlServerBulkPartition(rows: Iterator[Row], url: String,
      options: Map[String, String], table: String, schema: StructType,
      batchRows: Int): Unit = {
    val conn = openConnection(url, options)
    try {
      val dataIface = Class.forName("com.microsoft.sqlserver.jdbc.ISQLServerBulkData")
      val state = new BulkRecordState(schema, rows)
      val record = java.lang.reflect.Proxy.newProxyInstance(
        dataIface.getClassLoader, Array(dataIface),
        (_, method, args) => method.getName match {
          case "getColumnOrdinals" => state.ordinals
          case "getColumnName" => state.columnName(args(0).asInstanceOf[Int])
          case "getColumnType" => Integer.valueOf(state.columnType(args(0).asInstanceOf[Int]))
          case "getPrecision" => Integer.valueOf(state.precision(args(0).asInstanceOf[Int]))
          case "getScale" => Integer.valueOf(state.scale(args(0).asInstanceOf[Int]))
          case "getRowData" => state.rowData()
          case "next" => java.lang.Boolean.valueOf(state.next())
          case other => throw new UnsupportedOperationException(other)
        })
      val bcClass = Class.forName("com.microsoft.sqlserver.jdbc.SQLServerBulkCopy")
      val bc = bcClass.getConstructor(classOf[java.sql.Connection]).newInstance(conn)
      val optClass = Class.forName("com.microsoft.sqlserver.jdbc.SQLServerBulkCopyOptions")
      val opts = optClass.getConstructor().newInstance()
      optClass.getMethod("setBatchSize", classOf[Int])
        .invoke(opts, Integer.valueOf(batchRows))
      optClass.getMethod("setBulkCopyTimeout", classOf[Int])
        .invoke(opts, Integer.valueOf(0))
      bcClass.getMethod("setBulkCopyOptions", optClass).invoke(bc, opts)
      bcClass.getMethod("setDestinationTableName", classOf[String]).invoke(bc, table)
      bcClass.getMethod("writeToServer", dataIface).invoke(bc, record)
      bcClass.getMethod("close").invoke(bc)
    } finally conn.close()
  }

  /** One partition's COPY stream. Reflective against the PG driver:
    * CopyManager.copyIn(sql) -> CopyIn.writeToCopy/endCopy — the same
    * calls as `PostgresqlManager.java:68-72,146-156`. */
  private def pgCopyPartition(rows: Iterator[Row], url: String,
      options: Map[String, String], table: String, schema: StructType,
      disableEscape: Boolean): Unit = {
    val conn = openConnection(url, options)
    try {
      val pgConn = conn.unwrap(Class.forName("org.postgresql.PGConnection")
        .asInstanceOf[Class[AnyRef]])
      val mgr = Class.forName("org.postgresql.copy.CopyManager")
        .getConstructor(Class.forName("org.postgresql.core.BaseConnection"))
        .newInstance(pgConn)
      val copyIn = mgr.getClass.getMethod("copyIn", classOf[String])
        .invoke(mgr, pgCopyCommand(table, schema.fieldNames.toSeq))
      val write = copyIn.getClass.getMethod("writeToCopy",
        classOf[Array[Byte]], classOf[Int], classOf[Int])
      val end = copyIn.getClass.getMethod("endCopy")
      rows.foreach { r =>
        val bytes = (encodeRow(r, schema, bytesToPostgresHex, disableEscape) + "\n")
          .getBytes(StandardCharsets.UTF_8)
        write.invoke(copyIn, bytes, Integer.valueOf(0), Integer.valueOf(bytes.length))
      }
      end.invoke(copyIn)
    } finally conn.close()
  }

  /** One partition's LOAD DATA stream, flushed every `batchRows` rows
    * through setLocalInfileInputStream + executeUpdate
    * (`MySQLManager.java:164-174`). */
  private def mysqlLoadPartition(rows: Iterator[Row], url: String,
      options: Map[String, String], table: String, schema: StructType,
      batchRows: Int, disableEscape: Boolean): Unit = {
    val sql = mysqlLoadDataCommand(table, schema)
    val conn = openConnection(url, options)
    try {
      val st = conn.prepareStatement(sql)
      val stClass = Seq("com.mysql.cj.jdbc.JdbcPreparedStatement",
        "org.mariadb.jdbc.MariaDbStatement")
        .flatMap(n => try Some(Class.forName(n)) catch { case _: Throwable => None })
        .find(c => st.isWrapperFor(c.asInstanceOf[Class[AnyRef]]))
        .getOrElse(throw new IllegalStateException("no local-infile capable driver"))
      val unwrapped = st.unwrap(stClass.asInstanceOf[Class[AnyRef]])
      val setStream = unwrapped.getClass.getMethod(
        "setLocalInfileInputStream", classOf[java.io.InputStream])
      val execUpdate = unwrapped.getClass.getMethod("executeUpdate", classOf[String])
      val buf = new java.lang.StringBuilder(1 << 16)
      var n = 0
      def flush(): Unit = if (n > 0) {
        setStream.invoke(unwrapped, new java.io.ByteArrayInputStream(
          buf.toString.getBytes(StandardCharsets.UTF_8)))
        execUpdate.invoke(unwrapped, sql)
        buf.setLength(0); n = 0
      }
      rows.foreach { r =>
        buf.append(encodeRow(r, schema, bytesToHex, disableEscape,
          boolAsInt = true)).append('\n')
        n += 1
        if (n >= batchRows) flush()
      }
      flush()
      st.close()
    } finally conn.close()
  }
}
