package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Row-source constructors (SURVEY.md §2.1, S1-S5).
  *
  * A reference "row source" is an iterable of name→value mappings
  * (sqltask/base/row_source.py:4-16); the Spark-native equivalent of the
  * abstraction itself is the DataFrame, so constructors return DataFrames
  * and registration is a temp view.
  */
object Sources {

  /** CSV scan with the reference's semantics (sqltask/sources/csv.py:12-76):
    * header row gives column names, every value stays a string (downstream
    * casts are explicit, as in `map_all` funcs), malformed/ragged rows fail
    * the read (the reference raises on arity mismatch, csv.py:68-71).
    * Charset is caller-supplied (UTF-8 default); [[csvAutoDetect]]
    * reproduces the reference's chardet-style auto-detection
    * (utils/file.py:6-22).
    *
    * `columns` declares the header up front, the CSV counterpart of the
    * schema-first option of [[json]] and [[orc]]: the all-string schema
    * is built from the names, so no job reads the header while the plan
    * is built. The declaration is checked rather than trusted
    * (`enforceSchema=false`): every file's header must list the same
    * names in the same order (case-insensitively unless
    * `spark.sql.caseSensitive`), or the scan fails — a misnamed, missing
    * or extra column never silently shifts values into the wrong column.
    * Empty (the default) reads the names from the header at plan time.
    *
    * UTF-16 files are read in multiLine mode: the default line split
    * happens on raw 0x0A bytes, which shears the two-byte UTF-16 code
    * units (a UTF-16LE file then fails the FAILFAST read, a UTF-16BE one
    * gains a U+FFFD at the end of every row) before decoding; multiLine
    * decodes the stream with the charset first.
    */
  def csv(
      spark: SparkSession,
      path: String,
      delimiter: String = ",",
      encoding: String = "UTF-8",
      columns: Seq[String] = Nil): DataFrame = {
    val utf16 = java.nio.charset.Charset.forName(encoding).name
      .startsWith("UTF-16")
    val r0 = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .option("delimiter", delimiter)
      .option("encoding", encoding)
      .option("mode", "FAILFAST")
    val r = if (utf16) r0.option("multiLine", "true") else r0
    (if (columns.isEmpty) r
     else r.option("enforceSchema", "false")
       .schema(StructType(columns.map(StructField(_, StringType)))))
      .csv(path)
  }

  /** Charset auto-detection for [[csv]] — the reference detects with
    * chardet before reading (sqltask/utils/file.py:6-22, sampling the
    * file head). Minimal deterministic equivalent over the first
    * `sampleBytes` of ONE file: BOM wins outright; else a strict UTF-8
    * validity scan accepts UTF-8; else fall back to ISO-8859-1 — a
    * single-byte charset where every byte sequence decodes (chardet's
    * latin fallback role), and one of the charsets Spark's CSV reader
    * accepts (windows-1252 is not). Driver-side and sampled, so safe to
    * call on huge files; for a multi-file dataset detect on one
    * representative member (mixed-encoding datasets need per-file
    * handling upstream, same as the reference).
    */
  def detectEncoding(path: String, sampleBytes: Int = 65536): String = {
    val f = new java.io.File(path)
    // a dataset directory: detect on its first regular file (one
    // representative member, as documented)
    val target =
      if (f.isDirectory)
        f.listFiles().filter(_.isFile).sortBy(_.getName).headOption
          .getOrElse(throw new IllegalArgumentException(
            s"detectEncoding: no regular files in directory $path"))
      else if (f.isFile) f
      else throw new IllegalArgumentException(
        s"detectEncoding needs a local file or directory, got: $path " +
          "(globs/URIs are not supported — pass encoding explicitly)")
    val in = new java.io.FileInputStream(target)
    val buf =
      try in.readNBytes(sampleBytes)
      finally in.close()
    if (buf.length >= 3 && buf(0) == 0xEF.toByte && buf(1) == 0xBB.toByte &&
      buf(2) == 0xBF.toByte) "UTF-8"
    else if (buf.length >= 2 && buf(0) == 0xFF.toByte &&
      buf(1) == 0xFE.toByte) "UTF-16LE"
    else if (buf.length >= 2 && buf(0) == 0xFE.toByte &&
      buf(1) == 0xFF.toByte) "UTF-16BE"
    else if (buf.count(_ == 0) * 5 >= buf.length && buf.length >= 4) {
      // BOM-less UTF-16: NUL bytes are valid UTF-8, so a null-pattern
      // check must run BEFORE the UTF-8 scan (chardet does the same).
      // ASCII-heavy UTF-16LE has NULs at odd offsets, BE at even.
      val oddNuls = buf.indices.count(i => i % 2 == 1 && buf(i) == 0)
      val evenNuls = buf.indices.count(i => i % 2 == 0 && buf(i) == 0)
      if (oddNuls >= evenNuls) "UTF-16LE" else "UTF-16BE"
    } else {
      // strict UTF-8 validation of the sample (ignore a multi-byte
      // sequence truncated by the sample boundary)
      var i = 0
      var utf8 = true
      while (utf8 && i < buf.length) {
        val b = buf(i) & 0xFF
        val need =
          if (b < 0x80) 0
          else if (b >= 0xC2 && b <= 0xDF) 1
          else if (b >= 0xE0 && b <= 0xEF) 2
          else if (b >= 0xF0 && b <= 0xF4) 3
          else -1
        if (need < 0) utf8 = false
        else if (i + need >= buf.length && need > 0) {
          // a multi-byte sequence cut off at the SAMPLE boundary is
          // fine; cut off at the true end-of-file it is invalid UTF-8
          if (buf.length == sampleBytes) i = buf.length else utf8 = false
        }
        else {
          var j = 1
          while (utf8 && j <= need) {
            val c = buf(i + j) & 0xFF
            if (c < 0x80 || c > 0xBF) utf8 = false
            j += 1
          }
          i += need + 1
        }
      }
      if (utf8) "UTF-8" else "ISO-8859-1"
    }
  }

  /** [[csv]] with the encoding auto-detected from the file head — the
    * full CsvRowSource contract (S2) including chardet-style detection.
    */
  def csvAutoDetect(spark: SparkSession, path: String,
      delimiter: String = ","): DataFrame =
    csv(spark, path, delimiter, detectEncoding(path))

  /** Parquet scan — the native columnar source for this engine. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC scan — the other vectorized columnar format Spark ships
    * natively (predicate pushdown + column pruning work exactly as for
    * parquet). Schema optional: ORC carries its own, and unlike JSON a
    * schema-inference pass reads only footers, so schema-first is a
    * consistency check rather than a scan saver here.
    */
  def orc(
      spark: SparkSession,
      path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).orc(path)
  }

  /** JSON-lines scan. Schema-first by default (`schema` supplied ⇒ no
    * inference pass over the data — at 100 TB an inference scan doubles
    * the read); FAILFAST like the CSV source so malformed rows abort
    * rather than silently null out.
    */
  def json(
      spark: SparkSession,
      path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val r = spark.read.option("mode", "FAILFAST")
    schema.fold(r)(r.schema).json(path)
  }

  /** In-memory rows from (columnNames, tuples) — reference `ListRowSource`
    * (sqltask/sources/generic.py:30-42).
    */
  def fromRows(
      spark: SparkSession,
      columnNames: Seq[String],
      rows: Seq[Seq[Any]]): DataFrame = {
    require(rows.forall(_.length == columnNames.length),
      "every row must have one value per column name")
    val schema = StructType(columnNames.map(n => StructField(n, StringType)))
    // Untyped rows: infer a per-column type from the first non-null value
    // would be fragile; mirror the reference's dict semantics by requiring
    // the caller to pass a schema when values aren't strings.
    fromRows(spark, schema, rows)
  }

  /** In-memory rows with an explicit schema — reference `DictRowSource`
    * (sqltask/sources/generic.py:7-17) with declared types.
    */
  def fromRows(
      spark: SparkSession,
      schema: StructType,
      rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema)

  /** Parameterized SQL over registered temp views — reference
    * `SqlRowSource` (sqltask/sources/sql.py:17-62). The reference shipped
    * the SQL to an external database; here Catalyst executes it natively.
    * Named `:param`-style binding maps to Spark's named-parameter SQL.
    */
  def sql(
      spark: SparkSession,
      sqlText: String,
      params: Map[String, Any] = Map.empty): DataFrame =
    if (params.isEmpty) spark.sql(sqlText) else spark.sql(sqlText, params)

  /** Register a DataFrame under a name (reference `add_row_source`,
    * sqltask/__init__.py:72-90) so [[sql]] queries can reference it.
    */
  def register(df: DataFrame, name: String): DataFrame = {
    df.createOrReplaceTempView(name)
    df
  }

  /** Render a value as a SQL literal for remote-side interpolation.
    * Strings escape embedded quotes; temporal values render as typed
    * literals; null renders as NULL.
    */
  private def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case None => "NULL"
    case Some(x) => sqlLiteral(x)
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case d: java.time.LocalDate => s"DATE '$d'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case d: Double =>
      require(!d.isNaN && !d.isInfinite,
        s"non-finite double has no SQL literal form: $d")
      d.toString
    case f: Float =>
      require(!f.isNaN && !f.isInfinite,
        s"non-finite float has no SQL literal form: $f")
      f.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.toString
    case other => throw new IllegalArgumentException(
      s"unsupported SQL parameter type: ${other.getClass.getName}")
  }

  /** The OTHER half of the reference's `SqlRowSource` (SURVEY.md §2.1
    * S3): the query executes IN the remote database and Spark streams
    * the result — the reference's actual runtime shape ("expensive data
    * filtering and aggregation during data extraction", README.md:18-19),
    * vs [[sql]] which runs the statement natively under Catalyst.
    *
    * `:name` parameters are rendered as SQL literals before pushdown
    * (JDBC sources take a query string, not a bound statement; the
    * reference's engine-side binding has no Spark analog). Values go
    * through [[sqlLiteral]] — strings are quote-escaped, so a value
    * cannot terminate the literal, but as with the reference this is
    * config-authored SQL, not an untrusted-input surface.
    *
    * Binding is STRICT, and substitution skips non-parameter colons:
    * `:name` inside a single-quoted string literal is left verbatim,
    * `x::int`-style double-colon casts are never treated as parameters,
    * and a placeholder with no binding — or a `params` entry matching
    * no placeholder — throws here rather than deferring to an opaque
    * remote SQL error (a typo'd param name would otherwise push `:nmae`
    * to the database). Placeholders inside double-quoted IDENTIFIERS
    * are still substituted — don't name columns `":x"`.
    *
    * Scale path: `partitionOn = Some((column, lower, upper, n))` wraps
    * the query as a derived table and issues n range-partitioned
    * parallel reads — without it a JDBC read is ONE connection on one
    * executor, the classic single-reader bottleneck. The bounds only
    * steer the split points; rows outside them are still read (Spark's
    * stride semantics), so the result is identical, just parallel.
    */
  def jdbc(
      spark: SparkSession,
      url: String,
      query: String,
      properties: java.util.Properties = new java.util.Properties,
      params: Map[String, Any] = Map.empty,
      partitionOn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val bound = bindParams(query, params)
    val reader = spark.read.format("jdbc")
      .option("url", url)
    partitionOn match {
      case None =>
        reader.option("query", bound).options(propsMap(properties)).load()
      case Some((col, lower, upper, n)) =>
        // query + partitionColumn are mutually exclusive in the JDBC
        // source; a derived-table dbtable carries the pushed query
        reader.option("dbtable", s"($bound) graft_sub")
          .option("partitionColumn", col)
          .option("lowerBound", lower)
          .option("upperBound", upper)
          .option("numPartitions", n)
          .options(propsMap(properties))
          .load()
    }
  }

  /** Renders `:name` placeholders as SQL literals, strictly: an unbound
    * placeholder or an unused `params` entry throws (a typo'd name
    * would otherwise push `:nmae` to the database as opaque SQL).
    *
    * Single pass over the ORIGINAL query: sequential per-param
    * replacement would re-scan substituted literal VALUES and rewrite
    * any ':name' they happen to contain. The alternation consumes
    * single-quoted string literals whole (with '' escapes), `--` line
    * comments, and slash-star block comments, so a colon inside any of
    * them is never a placeholder; the (?<!:) lookbehind keeps
    * '::type' casts intact even when a param shares the type's name;
    * and the placeholder must start with a letter/underscore (named
    * params can't start with a digit), so an array slice like
    * `arr[1:3]` is left verbatim rather than parsed as unbound `:3`.
    */
  private[sources] def bindParams(query: String,
      params: Map[String, Any]): String = {
    val m = java.util.regex.Pattern
      .compile("'(?:[^']|'')*'|--[^\\r\\n]*|/\\*[\\s\\S]*?\\*/|" +
        "(?<!:):([A-Za-z_]\\w*)").matcher(query)
    val sb = new java.lang.StringBuilder
    val seen = scala.collection.mutable.Set.empty[String]
    val unbound = scala.collection.mutable.LinkedHashSet.empty[String]
    while (m.find()) {
      val rep =
        if (m.group(1) == null) m.group(0) // literal/comment: verbatim
        else params.get(m.group(1)) match {
          case Some(v) => seen += m.group(1); sqlLiteral(v)
          case None => unbound += m.group(1); m.group(0)
        }
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    if (unbound.nonEmpty) throw new IllegalArgumentException(
      s"query references parameter(s) with no binding: " +
        unbound.mkString(":", ", :", "") +
        s" (bound: ${params.keys.toSeq.sorted.mkString(", ")})")
    val unused = params.keySet -- seen
    if (unused.nonEmpty) throw new IllegalArgumentException(
      s"params bound but never referenced by the query: " +
        unused.toSeq.sorted.mkString(", ") +
        " (typo'd placeholder name?)")
    sb.toString
  }

  private def propsMap(p: java.util.Properties): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
  }
}
