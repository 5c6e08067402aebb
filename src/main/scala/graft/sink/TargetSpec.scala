package graft.sink

import graft.core.TableSpec
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Write-target abstraction mirroring the reference's engine-spec dispatch
  * (sqltask/engine_specs/base.py:61-117 and per-engine subclasses), with
  * the same capability flags (base.py:54-57).
  *
  * The load-bearing semantic is idempotent batch overwrite (SURVEY.md
  * §1.4): re-running a batch replaces exactly that batch's rows
  * (reference: DELETE WHERE batch params, then chunked INSERT).
  */
trait TargetSpec {
  def supportsPrimaryKeys: Boolean = false
  def supportsColumnComments: Boolean = false
  def supportsTableComments: Boolean = false
  def supportsSchemas: Boolean = false

  /** Idempotent delete+insert of one batch (reference truncate_rows +
    * insert_rows, engine_specs/base.py:102-117, 61-95).
    */
  def overwriteBatch(df: DataFrame, spec: TableSpec): Unit

  /** Plain append (reference insert_rows without the delete). */
  def append(df: DataFrame, spec: TableSpec): Unit

  /** Create-if-absent / evolve schema (reference migrate_schema,
    * sqltask/base/table.py:94-144). */
  def migrate(spark: SparkSession, spec: TableSpec): Unit = ()

  def read(spark: SparkSession, spec: TableSpec): DataFrame
}

/** Which column-comment DDL mechanism a JDBC dialect accepts. The two
  * mechanisms are mutually exclusive in practice — MySQL-family dialects
  * take an inline `COMMENT '...'` clause on ADD COLUMN and have no
  * `COMMENT ON`, while Postgres/standard dialects take `COMMENT ON
  * COLUMN` and reject the inline clause — so a single boolean flag
  * cannot gate both without emitting invalid SQL for one of them (the
  * reference resolves this per engine spec subclass,
  * engine_specs/base.py:54-57 + overrides).
  */
sealed trait ColumnCommentStyle
object ColumnCommentStyle {
  /** No column-comment DDL at all (Derby, SQLite). */
  case object Unsupported extends ColumnCommentStyle
  /** Inline `COMMENT '...'` on ADD COLUMN (MySQL family). Comments on
    * columns that already exist cannot be synced without a full column
    * redefinition (`MODIFY COLUMN` with the complete type), which
    * migrate deliberately does not attempt.
    */
  case object Inline extends ColumnCommentStyle
  /** Standalone `COMMENT ON COLUMN t.c IS '...'` (Postgres, Snowflake,
    * standard SQL) — used both for added columns and for syncing
    * pre-existing ones.
    */
  case object CommentOn extends ColumnCommentStyle
}

/** Parquet directory target, partitioned by the batch columns.
  *
  * Batch overwrite = dynamic partition overwrite: only partitions present
  * in `df` are replaced — the exact Spark analog of the reference's
  * `DELETE WHERE <batch cols> = <batch vals>` + insert. At 100 TB this is
  * a metadata swap per partition, no data rewrite outside the batch.
  */
final case class ParquetTarget(basePath: String) extends TargetSpec {
  override val supportsColumnComments = true  // via StructField metadata
  override val supportsTableComments = true

  def path(spec: TableSpec): String = s"$basePath/${spec.name}"

  override def overwriteBatch(df: DataFrame, spec: TableSpec): Unit = {
    val writer = Parquet.writer(df)
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
    (if (spec.batchColumns.nonEmpty)
       writer.partitionBy(spec.batchColumns: _*)
     else writer)
      .parquet(path(spec))
  }

  override def append(df: DataFrame, spec: TableSpec): Unit = {
    val writer = Parquet.writer(df).mode(SaveMode.Append)
    (if (spec.batchColumns.nonEmpty)
       writer.partitionBy(spec.batchColumns: _*)
     else writer)
      .parquet(path(spec))
  }

  /** Schema evolution: parquet handles column adds via `mergeSchema` at
    * read; there is nothing to pre-create. Column drops (reference
    * drop_column, engine_specs/base.py:196-211) require a rewrite and are
    * intentionally not done implicitly.
    */
  override def read(spark: SparkSession, spec: TableSpec): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path(spec))
}

/** JDBC target: no partition concept, so batch overwrite is an explicit
  * DELETE over the batch predicate followed by a batched append — exactly
  * the reference's SQL-insert path (engine_specs/base.py:82-117), with
  * Spark's JDBC writer doing 10k-row batches per partition in place of the
  * reference's driver-side chunking.
  */
final case class JdbcTarget(
    url: String,
    properties: java.util.Properties = new java.util.Properties(),
    batchSize: Int = 10000,
    // DROP COLUMN during migrate destroys data on a typo'd rename, so it
    // is opt-in; the default logs and skips, keeping ADD COLUMN automatic
    // (the reference's migrate_schema drops unconditionally).
    allowColumnDrops: Boolean = false,
    // COMMENT ON TABLE DDL is dialect-specific (Derby has none), so
    // table-comment sync is capability-gated exactly like the
    // reference's supports_table_comments flag
    // (engine_specs/base.py:54-57): false skips the DDL silently.
    override val supportsTableComments: Boolean = false,
    // Column comments route through ONE of two mutually exclusive
    // mechanisms (inline clause vs COMMENT ON) — see
    // [[ColumnCommentStyle]]; Unsupported skips both silently.
    columnCommentStyle: ColumnCommentStyle = ColumnCommentStyle.Unsupported,
    // The reference renders a literal AUTOINCREMENT keyword
    // (engine_specs/base.py:182-183), valid only on
    // Snowflake/SQLite-family dialects; Derby/DB2 spell it
    // "GENERATED ALWAYS AS IDENTITY", MySQL "AUTO_INCREMENT",
    // Postgres "GENERATED ALWAYS AS IDENTITY". Per-dialect hook, like
    // JdbcDialects.getJDBCType already is for the column type.
    autoIncrementClause: String = "AUTOINCREMENT",
    // SQLite-family dialects have no ALTER TABLE ... DROP COLUMN: with
    // this false (and allowColumnDrops on), migrate drops undeclared
    // columns by the reference's SQLite workaround (engine_specs/
    // sqlite.py:18-47): rename old table aside, CREATE the declared
    // schema, INSERT..SELECT the declared columns, drop the old table.
    supportsDropColumn: Boolean = true,
    // RENAME TABLE syntax for the recreate path, %s-templated
    // (old, new); Derby spells it "RENAME TABLE %s TO %s".
    renameTableDdl: String = "ALTER TABLE %s RENAME TO %s") extends TargetSpec {
  override val supportsPrimaryKeys = true
  override val supportsSchemas = true
  override def supportsColumnComments: Boolean =
    columnCommentStyle != ColumnCommentStyle.Unsupported

  /** Database/schema this target's URL points at (reference
    * EngineContext url-param extraction, sqltask/base/engine.py:23-24).
    */
  def urlParams: UrlParams = JdbcUrl.getUrlParams(url, supportsSchemas)

  /** A copy of this target rebound to another database/schema, keeping
    * connection properties, batch size, capability flags and dialect
    * hooks — the reference's EngineContext.create_new
    * (sqltask/base/engine.py:37-53): unspecified sides fall back to
    * the current URL's values.
    */
  def withNamespace(database: Option[String] = None,
      schema: Option[String] = None): JdbcTarget =
    copy(url = JdbcUrl.modifyUrl(url, database, schema, supportsSchemas))

  override def overwriteBatch(df: DataFrame, spec: TableSpec): Unit = {
    deleteBatch(df, spec)
    append(df, spec)
  }

  /** DELETE FROM t WHERE batchCol = val AND ... (engine_specs/base.py:102-117).
    * Batch values are taken from the spec's batch columns in `df` (constant
    * within a batch by construction). NO batch columns ⇒ the whole table
    * is one batch: DELETE every row, exactly the reference's
    * `empty_where_clause` path (base.py:110-115) — without it a re-run
    * of `overwriteBatch` would append duplicates instead of replacing,
    * breaking the idempotency contract.
    */
  private def deleteBatch(df: DataFrame, spec: TableSpec): Unit = {
    // lazy: the whole-table path needs no batch values (and must not
    // run a Spark job over a zero-column projection)
    lazy val batchVals =
      df.select(spec.batchColumns.map(df(_)): _*).distinct().collect()
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try {
      // first-ever overwriteBatch: nothing to delete — the append that
      // follows creates the table (same contract as the reference's
      // truncate-then-insert on a fresh target)
      val meta = conn.getMetaData
      val tables = meta.getTables(null, conn.getSchema,
        tableNamePattern(meta, spec.name), null)
      val exists = try tables.next() finally tables.close()
      if (!exists) return
      // Spark's JDBC writer quotes column identifiers (case-exact) but
      // passes the table name through unquoted — mirror that exactly or
      // case-folding databases (Derby, Postgres) won't resolve them.
      def q(id: String) = "\"" + id + "\""
      if (spec.batchColumns.isEmpty) {
        // whole-table batch: DELETE all rows even when the incoming df
        // is empty (the reference truncates before inserting nothing)
        conn.createStatement().executeUpdate(s"DELETE FROM ${spec.name}")
      } else {
        val where =
          spec.batchColumns.map(c => s"${q(c)} = ?").mkString(" AND ")
        val stmt =
          conn.prepareStatement(s"DELETE FROM ${spec.name} WHERE $where")
        batchVals.foreach { row =>
          spec.batchColumns.zipWithIndex.foreach { case (_, i) =>
            stmt.setObject(i + 1, row.get(i))
          }
          stmt.addBatch()
        }
        stmt.executeBatch()
      }
    } finally conn.close()
  }

  /** `name` as a JDBC metadata table-name PATTERN: case-folded the
    * way the database stores unquoted identifiers (Spark's JDBC writer
    * passes the table name through unquoted), with the escape
    * character, `_` and `%` escaped so `fact_customer` doesn't also
    * match `factXcustomer`. */
  private def tableNamePattern(meta: java.sql.DatabaseMetaData,
      name: String): String = {
    val esc = meta.getSearchStringEscape
    val folded =
      if (meta.storesUpperCaseIdentifiers) name.toUpperCase
      else if (meta.storesLowerCaseIdentifiers) name.toLowerCase
      else name
    folded.replace(esc, esc + esc)
      .replace("_", esc + "_").replace("%", esc + "%")
  }

  override def append(df: DataFrame, spec: TableSpec): Unit =
    df.write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .jdbc(url, spec.name, properties)

  private def quoteId(id: String) = "\"" + id + "\""

  /** SQL literal rendering for DDL clauses (reference
    * engine_specs/base.py:176-181: string defaults quoted, others
    * verbatim). Strings escape embedded quotes by DOUBLING them (ANSI)
    * rather than the reference's backslash escape, which only MySQL-
    * family dialects accept.
    */
  private[sink] def sqlLiteral(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case other => String.valueOf(other)
  }

  /** ADD COLUMN DDL with the reference's clause set
    * (engine_specs/base.py:159-193): DEFAULT, AUTOINCREMENT,
    * NOT NULL, PRIMARY KEY (capability-gated), COMMENT
    * (capability-gated). Divergence from the reference: nullable
    * columns get NO explicit `NULL` keyword (bare NULL is not in
    * several dialects' ADD COLUMN grammar, Derby included; omission
    * means nullable everywhere).
    */
  private[sink] def addColumnDdl(tableName: String, cd: graft.core.ColumnDef): String =
    s"ALTER TABLE $tableName ADD COLUMN ${columnDdl(cd)}"

  /** One column's DDL fragment — shared by ADD COLUMN and the
    * recreate-path CREATE TABLE so both render identical clauses.
    */
  private def columnDdl(cd: graft.core.ColumnDef): String = {
    val sqlType = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      .getJDBCType(cd.dataType)
      .map(_.databaseTypeDefinition)
      .getOrElse(cd.dataType.sql)
    val sb = new StringBuilder(s"${quoteId(cd.name)} $sqlType")
    cd.default.foreach(d => sb.append(s" DEFAULT ${sqlLiteral(d)}"))
    if (cd.autoIncrement) sb.append(" " + autoIncrementClause)
    if (!cd.nullable) sb.append(" NOT NULL")
    if (supportsPrimaryKeys && cd.primaryKey) sb.append(" PRIMARY KEY")
    if (columnCommentStyle == ColumnCommentStyle.Inline)
      cd.comment.foreach(c => sb.append(s" COMMENT ${sqlLiteral(c)}"))
    sb.toString
  }

  /** CREATE TABLE from the declared spec (recreate drop path only —
    * normal table creation is Spark's JDBC writer on first append).
    */
  private[sink] def createTableDdl(spec: TableSpec): String =
    spec.columns.map(columnDdl).mkString(
      s"CREATE TABLE ${spec.name} (", ", ", ")")

  /** COMMENT ON TABLE DDL (reference update_table_comment,
    * engine_specs/base.py:213-227).
    */
  private[sink] def tableCommentDdl(tableName: String, comment: String) =
    s"COMMENT ON TABLE $tableName IS ${sqlLiteral(comment)}"

  /** COMMENT ON COLUMN DDL (reference update_column_comment,
    * engine_specs/base.py:229-247).
    */
  private[sink] def columnCommentDdl(tableName: String, colName: String,
      comment: String) =
    s"COMMENT ON COLUMN $tableName.${quoteId(colName)} IS " +
      sqlLiteral(comment)

  /** Live schema migration (reference migrate_schema,
    * sqltask/base/table.py:94-144): diff the declared spec against the
    * live table via JDBC metadata; add missing columns (with DEFAULT/
    * AUTOINCREMENT/NOT NULL/PK/COMMENT clauses per the declared
    * [[graft.core.ColumnDef]] — reference add_column,
    * engine_specs/base.py:159-193), drop redundant ones, and — when the
    * dialect supports it — sync table and column comments that differ
    * from the live REMARKS (reference table.py:105-131). No-op when the
    * table doesn't exist yet (created by the first append) or already
    * matches.
    */
  override def migrate(spark: SparkSession, spec: TableSpec): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try {
      val meta = conn.getMetaData
      // Spark's JDBC writer creates case-exact quoted column names.
      // Pin the schema to the connection's current one so same-named
      // tables in other schemas can't pollute the diff.
      val pattern = tableNamePattern(meta, spec.name)
      val rs = meta.getColumns(null, conn.getSchema, pattern, null)
      // name → live comment (REMARKS; null/absent ⇒ None)
      val live = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME") ->
          Option(r.getString("REMARKS")).filter(_.nonEmpty))
        .toMap
      if (live.isEmpty) return // table not created yet
      val declared = spec.columns.map(_.name)
      val stmt = conn.createStatement()
      declared.filterNot(live.contains).foreach { c =>
        val cd = spec.columns.find(_.name == c).get
        stmt.executeUpdate(addColumnDdl(spec.name, cd))
        // Inline-style dialects carried the comment in the ADD COLUMN
        // clause; CommentOn-style dialects take it as a second statement
        if (columnCommentStyle == ColumnCommentStyle.CommentOn)
          cd.comment.foreach(cm =>
            stmt.executeUpdate(columnCommentDdl(spec.name, cd.name, cm)))
      }
      // comment sync for pre-existing columns; only when declared,
      // non-empty, and different from the live REMARKS — the
      // reference's exact update condition (table.py:118-131). Only the
      // CommentOn mechanism can do this: inline-style dialects would
      // need a full MODIFY COLUMN redefinition (see
      // [[ColumnCommentStyle.Inline]]).
      if (columnCommentStyle == ColumnCommentStyle.CommentOn)
        spec.columns.filter(cd => live.contains(cd.name)).foreach { cd =>
          cd.comment.filter(c => !live(cd.name).contains(c)).foreach {
            c => stmt.executeUpdate(columnCommentDdl(spec.name, cd.name, c))
          }
        }
      if (supportsTableComments)
        spec.comment.foreach { c =>
          val trs = meta.getTables(null, conn.getSchema, pattern, null)
          val liveTableComment =
            try {
              if (trs.next()) Option(trs.getString("REMARKS"))
                .filter(_.nonEmpty)
              else None
            } finally trs.close()
          if (!liveTableComment.contains(c))
            stmt.executeUpdate(tableCommentDdl(spec.name, c))
        }
      val undeclared = live.keysIterator.filterNot(declared.contains).toSeq
      if (undeclared.nonEmpty && !allowColumnDrops)
        undeclared.foreach(c =>
          System.err.println(s"graft.migrate: ${spec.name}.$c exists in " +
            "the database but not in the spec; NOT dropping (set " +
            "allowColumnDrops=true to drop undeclared columns)"))
      else if (undeclared.nonEmpty && supportsDropColumn)
        undeclared.foreach(c => stmt.executeUpdate(
          s"ALTER TABLE ${spec.name} DROP COLUMN ${quoteId(c)}"))
      else if (undeclared.nonEmpty) {
        // no DROP COLUMN in this dialect: the reference's SQLite
        // workaround (sqlite.py:18-47), all undeclared columns at once —
        // rename aside, recreate the declared schema, copy, drop old
        val old = s"${spec.name}_old"
        stmt.executeUpdate(renameTableDdl.format(spec.name, old))
        stmt.executeUpdate(createTableDdl(spec))
        val cols = spec.columns.map(cd => quoteId(cd.name)).mkString(", ")
        stmt.executeUpdate(
          s"INSERT INTO ${spec.name} ($cols) SELECT $cols FROM $old")
        stmt.executeUpdate(s"DROP TABLE $old")
      }
    } finally conn.close()
  }

  override def read(spark: SparkSession, spec: TableSpec): DataFrame =
    spark.read.jdbc(url, spec.name, properties)
}
