package graft.sources

/** Per-dialect merge/upsert SQL emitters — the `incremental` mode's
  * staging->sink commit step, re-expressed from the reference's
  * per-manager implementations (SURVEY.md §2.6):
  *  - Postgres `INSERT .. ON CONFLICT DO UPDATE`
  *    (`manager/PostgresqlManager.java:262-307`)
  *  - Oracle `MERGE INTO` (`manager/OracleManager.java:287-349`)
  *  - MySQL `ON DUPLICATE KEY UPDATE` (`manager/MySQLManager.java:253-286`)
  *  - SQL Server `MERGE INTO` with the all-PK degenerate case
  *    (`manager/SQLServerManager.java:285-350`)
  *  - SQLite `ON CONFLICT` (`manager/SqliteManager.java:237-274`)
  *  - Derby/ANSI `MERGE INTO` (our embedded-test dialect)
  *
  * Pure string builders, unit-tested per dialect; executed by
  * JdbcConnector on a single sink connection after Spark has loaded
  * the staging table partition-parallel (stage-then-merge keeps the
  * reference's durability property: a failed load never touches the
  * sink).
  */
object DialectMerge {

  sealed trait Dialect { def name: String }
  case object Postgres extends Dialect { val name = "postgresql" }
  case object MySql extends Dialect { val name = "mysql" }
  case object Oracle extends Dialect { val name = "oracle" }
  case object SqlServer extends Dialect { val name = "sqlserver" }
  case object Sqlite extends Dialect { val name = "sqlite" }
  case object DerbyAnsi extends Dialect { val name = "derby" }

  def fromUrl(url: String): Dialect = {
    val u = url.toLowerCase
    if (u.startsWith("jdbc:postgresql")) Postgres
    else if (u.startsWith("jdbc:mysql") || u.startsWith("jdbc:mariadb")) MySql
    else if (u.startsWith("jdbc:oracle")) Oracle
    else if (u.startsWith("jdbc:sqlserver")) SqlServer
    else if (u.startsWith("jdbc:sqlite")) Sqlite
    else DerbyAnsi
  }

  def quote(id: String, d: Dialect): String = d match {
    case MySql => s"`$id`"
    case SqlServer => s"[$id]"
    case _ => "\"" + id + "\""
  }

  /** Build the merge statement: upsert `staging` into `sink` keyed on
    * `keys`; non-key columns are updated on match. When every column
    * is a key (degenerate case, reference
    * `SQLServerManager.java:327-332`) the update clause is dropped and
    * only not-matched rows insert.
    *
    * Postgres updates a matched row only when its non-key columns
    * differ from the staged ones as binary row images
    * (`ROW(t.…) *<> ROW(excluded.…)`), so an unchanged row gets no new
    * row version. Consequences for a caller: row-level UPDATE
    * triggers do not fire for unchanged rows, and the statement's row
    * count is changed plus inserted rows, not every staged row. The
    * comparison is byte-level, so a real difference is never skipped
    * (−0.0 vs 0.0, numeric 1.0 vs 1.00, NULL vs value, json); NULL
    * equals NULL. A conflicting row is still locked when the guard
    * skips it. The other dialects update every matched row.
    */
  def mergeSql(sink: String, staging: String, allColumns: Seq[String],
      keys: Seq[String], dialect: Dialect,
      quoteIds: Boolean = true): String = {
    require(keys.nonEmpty, "merge requires at least one key column")
    // unquoted mode folds, so key matching must fold too: discovered
    // keys arrive in the SINK's case (pg_index: lower), the frame's
    // columns in the SOURCE's (Derby metadata: upper)
    val nonKeys =
      if (quoteIds) allColumns.filterNot(keys.contains)
      else allColumns.filterNot(c => keys.exists(_.equalsIgnoreCase(c)))
    // quoteIds mirrors SinkConf.quotedIdentifiers (reference
    // `--quoted-identifiers`, ConnManager.java:200-206): unquoted
    // identifiers FOLD to the vendor's case, which is what makes a
    // cross-case replication (Derby/Oracle UPPER frame -> PG lower
    // table) work — the r13 mode fuzz caught the COPY path (never
    // quotes, folds) and this merge path (always quoted, exact-case)
    // disagreeing on the same table, so neither order could succeed.
    def q(c: String) = if (quoteIds) quote(c, dialect) else c
    val colList = allColumns.map(q).mkString(", ")

    dialect match {
      case Postgres | Sqlite =>
        val conflict = keys.map(q).mkString(", ")
        val updates = nonKeys.map(c => s"${q(c)} = excluded.${q(c)}").mkString(", ")
        val action = if (nonKeys.isEmpty) "NOTHING" else s"UPDATE SET $updates"
        // SQLite's parser rejects upsert-from-SELECT without a WHERE
        // clause (the documented ON CONFLICT/join ambiguity; the
        // reference emits the same guard, SqliteManager.java:252-254).
        // Verified against a real sqlite3 in SqliteWireSpec; Postgres
        // parses the bare form (PgWireSpec).
        val guard = if (dialect == Sqlite) " WHERE true" else ""
        // Postgres skips the rewrite when the non-key columns are
        // byte-identical (record_image_ne): IS DISTINCT FROM would call
        // -0.0 = 0.0 and numeric 1.0 = 1.00 equal, and has no json operator
        def row(alias: String) =
          nonKeys.map(c => s"$alias.${q(c)}").mkString("ROW(", ", ", ")::record")
        val (alias, skipSame) =
          if (dialect == Postgres && nonKeys.nonEmpty)
            (" AS t", s" WHERE ${row("t")} OPERATOR(pg_catalog.*<>) ${row("excluded")}")
          else ("", "")
        s"INSERT INTO $sink$alias ($colList) SELECT $colList FROM $staging$guard " +
          s"ON CONFLICT ($conflict) DO $action$skipSame"

      case MySql =>
        val updates =
          if (nonKeys.isEmpty) keys.map(c => s"${q(c)} = ${q(c)}").take(1).mkString
          else nonKeys.map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")
        s"INSERT INTO $sink ($colList) SELECT $colList FROM $staging " +
          s"ON DUPLICATE KEY UPDATE $updates"

      case Oracle | SqlServer | DerbyAnsi =>
        val on = keys.map(c => s"t.${q(c)} = s.${q(c)}").mkString(" AND ")
        val updates = nonKeys.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
        val insertCols = allColumns.map(q).mkString(", ")
        val insertVals = allColumns.map(c => s"s.${q(c)}").mkString(", ")
        val matched = if (nonKeys.isEmpty) "" else s" WHEN MATCHED THEN UPDATE SET $updates"
        val hint = if (dialect == Oracle) "/*+ PARALLEL */ " else ""
        val terminator = if (dialect == SqlServer) ";" else ""
        s"MERGE ${hint}INTO $sink t USING $staging s ON ($on)$matched " +
          s"WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)$terminator"
    }
  }

  /** TRUNCATE with the dialects that need DELETE emulation (reference
    * `SqliteManager.java:320-335`, `manager/StandardJDBCManager.java:243-245`). */
  def truncateSql(table: String, dialect: Dialect): String = dialect match {
    case Sqlite | DerbyAnsi => s"DELETE FROM $table"
    case _ => s"TRUNCATE TABLE $table"
  }

  /** Staging-table DDL cloned from the sink's structure (reference
    * §2.6: per-dialect CREATE ... no-rows tricks). */
  def createStagingSql(staging: String, sink: String, dialect: Dialect): String =
    dialect match {
      case Postgres =>
        s"CREATE UNLOGGED TABLE $staging (LIKE $sink INCLUDING DEFAULTS) WITH (autovacuum_enabled = false)"
      case Oracle =>
        s"CREATE TABLE $staging NOLOGGING AS SELECT * FROM $sink WHERE rownum = -1"
      case MySql | Sqlite =>
        s"CREATE TABLE $staging AS SELECT * FROM $sink WHERE 1 = 0"
      case SqlServer =>
        s"SELECT * INTO $staging FROM $sink WHERE 0 = 1"
      case DerbyAnsi =>
        s"CREATE TABLE $staging AS SELECT * FROM $sink WITH NO DATA"
    }

  /** Random staging name, reference `ConnManager.java:144-177`. The
    * seed must be per-invocation random (not derived from the table):
    * two concurrent loads into the same sink would otherwise share a
    * staging table and each would drop the other's in-flight data. */
  def stagingName(base: String, seed: Int): String =
    s"${base}_repdb${math.abs(seed.toLong) % 100000}"
}
