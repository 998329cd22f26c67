package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

import graft.core.SinkConf

/** The PostgreSQL wire transport under [[JdbcConnector.write]]'s
  * mode dispatch: W1's COPY fast path over the engine's OWN client
  * ([[PgWireClient]]) — activates when the sink options carry
  * `pgwire.socket` (unix-socket directory, psql `-h` style) or
  * `pgwire=true` (TCP to the JDBC URL's host:port). No PG JDBC jar
  * needed anywhere on the classpath.
  *
  * It supplies the [[JdbcConnector.SinkSession]] the modes run over
  * (`PostgresqlManager.java:49-172` semantics): control SQL on one
  * client with its session timezone pinned, merge keys from pg_index
  * (the JDBC getPrimaryKeys metadata call IS this catalog query
  * inside the PG driver), and rows through [[copyAppend]] — every
  * Spark partition streams its rows as one `COPY … FROM STDIN` on its
  * own connection, N partitions in parallel, no driver-side funnel
  * (each executor dials the sink directly, exactly like the
  * reference's N ReplicaTask threads).
  */
object PgWireTransport {

  /** Explicit opt-in: wire transport never activates implicitly (the
    * reflective JDBC path stays the default when a driver exists). */
  def enabled(url: String, options: Map[String, String]): Boolean =
    DialectMerge.fromUrl(url) == DialectMerge.Postgres &&
      (options.contains("pgwire.socket") ||
        options.get("pgwire").exists(_.equalsIgnoreCase("true")))

  /** Serializable connection descriptor — executors dial the sink
    * directly from it inside [[copyAppend]]'s partition closures. */
  final case class Endpoint(target: PgWireClient.Target, db: String,
      user: String, password: Option[String]) extends Serializable

  private[sources] def connFor(url: String, options: Map[String, String]): Endpoint = {
    val (target, db) = PgWireClient.targetFor(url, options).getOrElse(
      throw new IllegalArgumentException(
        s"pgwire transport cannot resolve a server address from $url"))
    Endpoint(target, db,
      options.getOrElse("user", System.getProperty("user.name")),
      options.get("password"))
  }

  /** Pin the session timezone to the JVM default — what the PG JDBC
    * driver sends in its startup packet. [[BulkLoad.encodeRow]]
    * renders timestamps as the JVM wall clock with no offset; without
    * this a server whose default timezone differs would re-interpret
    * every timestamptz COPY value and silently shift the instant.
    * Best-effort: a zone id PG doesn't know leaves the server default
    * (the pre-fix behavior), never fails the load. */
  private[sources] def pinSessionTz(cl: PgWireClient): Unit =
    try { cl.exec(s"SET TIME ZONE '${java.util.TimeZone.getDefault.getID}'"); () }
    catch { case _: java.sql.SQLException => () }

  /** Parallel COPY: one wire connection per non-empty Spark
    * partition, rows encoded to the exact [[BulkLoad.encodeRow]]
    * wire text the JDBC path streams. */
  def copyAppend(df: DataFrame, conn: Endpoint, table: String,
      disableEscape: Boolean): Unit = {
    val schema = df.schema
    val copySql = BulkLoad.pgCopyCommand(table, schema.fieldNames.toSeq)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val cl = PgWireClient.connect(conn.target, conn.user, conn.db, conn.password)
        try {
          pinSessionTz(cl)
          cl.copyIn(copySql, rows.map(r =>
            (BulkLoad.encodeRow(r, schema, BulkLoad.bytesToPostgresHex,
              disableEscape) + "\n").getBytes(UTF_8)))
          ()
        } finally cl.close()
      }
    }
  }

  /** Merge-key discovery from the catalog — what the PG JDBC driver's
    * `getPrimaryKeys` runs under the hood — for exactly this name
    * (the caller retries upper/lower case); a bare `::regclass` cast
    * would case-fold a mixed-case table name and miss it. */
  def discoverPrimaryKeys(cl: PgWireClient, table: String): Seq[String] = {
    val parts = table.split('.')
    val bare = parts.last.replace("'", "''")
    // a schema-qualified sink must never adopt a same-named table's
    // key from ANOTHER schema (app.users vs public.users) — filter on
    // pg_namespace whenever the caller qualified the name
    val nsp = if (parts.length > 1)
      Some(parts(parts.length - 2).replace("'", "''")) else None
    cl.exec(
      s"""SELECT a.attname FROM pg_index i
         |JOIN pg_class c ON c.oid = i.indrelid
         |JOIN pg_namespace n ON n.oid = c.relnamespace
         |JOIN pg_attribute a ON a.attrelid = i.indrelid AND a.attnum = ANY(i.indkey)
         |WHERE c.relname = '$bare' AND i.indisprimary${
           nsp.map(x => s" AND n.nspname = '$x'").getOrElse("")}
         |ORDER BY array_position(i.indkey, a.attnum)""".stripMargin)
      .rows.map(_.head)
  }

  /** The control session of one sink write: a client with its
    * session timezone pinned, loading through [[copyAppend]]. */
  private[sources] def session(conf: SinkConf): JdbcConnector.SinkSession = {
    val endpoint = connFor(conf.connect, conf.connOptions)
    val cl = PgWireClient.connect(endpoint.target, endpoint.user, endpoint.db, endpoint.password)
    pinSessionTz(cl)
    new JdbcConnector.SinkSession {
      def exec(sql: String): Unit = { cl.exec(sql); () }
      def transaction(body: => Unit): Unit = {
        cl.exec("BEGIN")
        try { body; cl.exec("COMMIT"); () }
        catch { case e: Throwable => execIgnore("ROLLBACK"); throw e }
      }
      def primaryKeys(table: String): Seq[String] = discoverPrimaryKeys(cl, table)
      def append(df: DataFrame, table: String): Unit =
        copyAppend(df, endpoint, table, conf.disableEscape)
      def close(): Unit = cl.close()
    }
  }
}
