package graft.sources

import java.sql.Connection

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.{ReplicationMode, SinkConf, SourceConf}

/** JDBC source/sink with the reference's replication semantics on top
  * of Spark's JDBC data source (SURVEY.md §2.1 S1-S8, §2.2 W2-W6,
  * §2.6).
  *
  * Reads: partition predicates from [[JdbcPartitioning.plan]] so N
  * Spark tasks each pull one source-side slice over its own
  * connection — the exact shape of the reference's N `ReplicaTask`
  * threads (`ReplicaDB.java:239-254`), but distributed. The `pgwire`
  * opt-in reads through [[PgWireSource]] with the same planner.
  *
  * Writes: the one mode dispatch for every database sink, run over a
  * [[SinkSession]] — the JDBC driver's (below) or, on the `pgwire`
  * opt-in, [[PgWireTransport]]'s. One control session is held for
  * the whole write and idles in autocommit while the rows load
  * partition-parallel on their own connections.
  *  - complete: truncate (unless `--sink-disable-truncate`), then
  *    append; the sink's table definition is never replaced.
  *  - complete-atomic: load a staging table, then swap it into the
  *    sink inside ONE transaction (delete + insert-select, single
  *    commit) — readers never observe a partial sink, the reference's
  *    `SqlManager.java:386-434` contract without the async
  *    uncommitted-delete trick (which Spark's driver/executor split
  *    makes unnecessary: the swap is cheap source-side SQL).
  *  - incremental: load staging, then emit the dialect MERGE/upsert
  *    (DialectMerge) in one transaction; a failed load leaves the
  *    sink untouched.
  * Both staged modes drop the staging table whether or not the load
  * and the commit succeed.
  */
object JdbcConnector {

  GraftDerbyDialect.ensureRegistered
  GraftOracleDialect.ensureRegistered

  /** What [[write]] needs from a sink transport: one control session
    * (truncate, staging DDL, swap and merge SQL, key lookup) plus the
    * partition-parallel loader, which dials the sink on its own
    * connections. */
  private[sources] trait SinkSession extends AutoCloseable {
    def exec(sql: String): Unit
    /** `body` as one transaction, rolled back when it throws. */
    def transaction(body: => Unit): Unit
    /** Primary-key columns of the table named exactly `table`. */
    def primaryKeys(table: String): Seq[String]
    def append(df: DataFrame, table: String): Unit
    final def execIgnore(sql: String): Unit =
      try exec(sql) catch { case _: java.sql.SQLException => () }
  }

  def read(spark: SparkSession, conf: SourceConf): DataFrame = {
    val url = conf.connect
    // explicit `pgwire` opt-in: partitioned cursor scan over the
    // engine's own v3 wire client, no PG JDBC jar (PgWireSource
    // applies the same subselect wrap / projection / predicate /
    // partitioning contract as the JDBC path below)
    if (PgWireTransport.enabled(url, conf.connOptions))
      return PgWireSource.read(spark, conf)
    val table = conf.query
      .map(q => s"($q) T1") // reference subselect wrap, SqlManager.java:58-93
      .orElse(conf.table)
      .getOrElse(throw new IllegalArgumentException("JDBC source needs table or query"))
    val props = new java.util.Properties()
    conf.connOptions.foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("fetchsize", conf.fetchSize.toString)

    val df =
      if (conf.partitions <= 1) spark.read.jdbc(url, table, props)
      else {
        val preds = JdbcPartitioning.plan(url, conf.partitions, conf.options, table,
          sql => withConnection(url, conf.connOptions) { c =>
            val rs = c.createStatement().executeQuery(sql)
            rs.next()
            Seq(rs.getString(1), rs.getString(2))
          })
        spark.read.jdbc(url, table, preds.toArray, props)
      }
    val projected = conf.columns.map(cs => df.select(cs.map(df.col): _*)).getOrElse(df)
    conf.where.map(projected.filter).getOrElse(projected)
  }

  def write(df: DataFrame, conf: SinkConf): Unit = {
    val url = conf.connect
    // Denodo is a read-only virtualization layer — the reference
    // refuses every sink operation up front
    // (DenodoManager.java:33-45); fail at plan time, not mid-load.
    if (url.startsWith("jdbc:denodo") || url.startsWith("jdbc:vdb"))
      throw new UnsupportedOperationException(
        "Denodo is not supported for data insertion")
    val rawTable = conf.table.getOrElse(
      throw new IllegalArgumentException("JDBC sink needs a table"))
    val dialect = DialectMerge.fromUrl(url)
    // --quoted-identifiers: quote each dot-segment of every emitted
    // table identifier (reference `ConnManager.java:200-206`)
    def qt(t: String): String =
      if (conf.quotedIdentifiers)
        t.split('.').map(DialectMerge.quote(_, dialect)).mkString(".")
      else t
    val table = qt(rawTable)
    val aligned = conf.columns.map(cs => df.select(cs.map(df.col): _*)).getOrElse(df)
    // explicit `pgwire` opt-in: control SQL and parallel COPY over the
    // engine's own v3 wire client — no PG JDBC jar required
    val s =
      if (PgWireTransport.enabled(url, conf.connOptions)) PgWireTransport.session(conf)
      else jdbcSession(conf)

    def staged(commit: String => Unit): Unit = {
      val staging = qt(stagingTableName(conf, rawTable))
      s.execIgnore(s"DROP TABLE $staging")
      s.exec(DialectMerge.createStagingSql(staging, table, dialect))
      try {
        s.append(aligned, staging)
        s.transaction(commit(staging))
      } finally s.execIgnore(s"DROP TABLE $staging")
    }

    try conf.mode match {
      case ReplicationMode.Complete =>
        if (!conf.disableTruncate) s.exec(DialectMerge.truncateSql(table, dialect))
        s.append(aligned, table)

      case ReplicationMode.CompleteAtomic =>
        staged { staging =>
          s.exec(s"DELETE FROM $table")
          s.exec(s"INSERT INTO $table SELECT * FROM $staging")
        }

      case ReplicationMode.Incremental =>
        // PK discovery with the reference's upper/lower-case retry
        // (`SqlManager.java:283-318`)
        val keys =
          if (conf.keyColumns.nonEmpty) conf.keyColumns
          else Iterator(rawTable, rawTable.toUpperCase, rawTable.toLowerCase)
            .map(s.primaryKeys).find(_.nonEmpty).getOrElse(Nil)
        require(keys.nonEmpty, s"incremental mode needs key columns for $rawTable")
        staged(staging => s.exec(DialectMerge.mergeSql(table, staging,
          aligned.columns.toSeq, keys, dialect, quoteIds = conf.quotedIdentifiers)))
    } finally s.close()
  }

  /** The JDBC-driver [[SinkSession]]: control SQL on one
    * `java.sql.Connection`; rows load through the vendor bulk path
    * when its driver is loadable ([[BulkLoad]]), else through Spark's
    * batched-insert writer (`batchsize` = fetch size). */
  private def jdbcSession(conf: SinkConf): SinkSession = new SinkSession {
    private val url = conf.connect
    private val opts = conf.connOptions
    private val c = BulkLoad.openConnection(url, opts)

    def exec(sql: String): Unit = {
      val st = c.createStatement()
      try st.execute(sql) finally st.close()
    }

    def transaction(body: => Unit): Unit = {
      c.setAutoCommit(false)
      try { body; c.commit() }
      catch { case e: Throwable => c.rollback(); throw e }
      finally c.setAutoCommit(true)
    }

    def primaryKeys(table: String): Seq[String] = {
      val rs = c.getMetaData.getPrimaryKeys(null, null, table)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) buf += rs.getString("COLUMN_NAME")
      rs.close()
      buf.toSeq
    }

    def append(df: DataFrame, table: String): Unit =
      if (BulkLoad.available(url))
        BulkLoad.bulkAppend(df, url, table, conf.batchSize,
          disableEscape = conf.disableEscape, options = opts)
      else {
        val writer = df.write.mode(SaveMode.Append)
          .option("batchsize", conf.batchSize.toString)
        opts.foldLeft(writer) { case (w, (k, v)) => w.option(k, v) }
          .jdbc(url, table, new java.util.Properties())
      }

    def close(): Unit = c.close()
  }

  /** Staging table name resolution, reference
    * `ConnManager.java:145-178`: an explicit `--sink-staging-table`
    * wins verbatim; otherwise the random name is built from the
    * unqualified sink table (or the `--sink-staging-table-alias` when
    * the combined name would blow the vendor identifier limit) and
    * placed in `--sink-staging-schema` when given. */
  private[sources] def stagingTableName(conf: SinkConf, table: String): String =
    conf.stagingTable.getOrElse {
      val base = conf.stagingTableAlias.getOrElse(table.split('.').last)
      val name = DialectMerge.stagingName(base, scala.util.Random.nextInt())
      conf.stagingSchema.map(s => s"$s.$name").getOrElse(name)
    }

  def withConnection[T](url: String, options: Map[String, String])(f: Connection => T): T = {
    val c = BulkLoad.openConnection(url, options)
    try f(c) finally c.close()
  }
}
