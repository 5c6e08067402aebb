package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types.StringType

class SourcesSpec extends SparkSpec {

  test("csv scan: header names, all values strings (sources/csv.py:12-76)") {
    val header = Seq("report_date", "name", "birthday")
    val read = Sources.csv(spark, fixture("customers.csv"))
    val declared = Sources.csv(spark, fixture("customers.csv"), columns = header)
    for (df <- Seq(read, declared)) {
      assert(df.columns.toSeq == header)
      assert(df.schema.fields.forall(_.dataType == StringType))
      assert(df.count() == 5)
      // empty CSV cell -> null (the reference yields '' which is falsy; null
      // is the Spark-idiomatic missing marker and what our DQ rules test)
      assert(df.filter(df("birthday").isNull).count() == 1)
    }
    assert(declared.collect().toSeq == read.collect().toSeq)
  }

  test("csv scan: a declared header that does not match the file fails the scan") {
    def scanError(columns: Seq[String]): String = {
      // the plan builds without touching the file; the scan checks it
      val df = Sources.csv(spark, fixture("customers.csv"), columns = columns)
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    }
    val misnamed = scanError(Seq("report_date", "customer", "birthday"))
    assert(misnamed.contains("CSV header does not conform to the schema"))
    assert(misnamed.contains("customer"))
    for (columns <- Seq(Seq("report_date", "name"),
        Seq("report_date", "name", "birthday", "blood_group")))
      assert(scanError(columns).contains(
        "Number of column in CSV header is not equal to number of fields in the schema"),
        columns)
  }

  test("charset auto-detection: BOM, valid UTF-8, single-byte fallback") {
    import java.nio.file.Files
    def tmp(bytes: Array[Byte]): String = {
      val f = Files.createTempFile(tempDir("graft-enc"), "enc", ".csv")
      Files.write(f, bytes)
      f.toString
    }
    // UTF-8 BOM
    assert(Sources.detectEncoding(tmp(
      Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
        "a,b\n1,2\n".getBytes("UTF-8"))) == "UTF-8")
    // UTF-16LE BOM
    assert(Sources.detectEncoding(tmp(
      Array(0xFF, 0xFE).map(_.toByte) ++
        "a,b\n".getBytes("UTF-16LE"))) == "UTF-16LE")
    // BOM-less valid multi-byte UTF-8 (snowman)
    assert(Sources.detectEncoding(tmp(
      "name\n\u2603 fr\u00f8st\n".getBytes("UTF-8"))) == "UTF-8")
    // latin-1 bytes (0xE9 = é) are invalid UTF-8 -> fallback
    assert(Sources.detectEncoding(tmp(
      "name\ncaf\u00e9\n".getBytes("ISO-8859-1"))) == "ISO-8859-1")
    // BOM-less ASCII-content UTF-16LE: NUL pattern, not the UTF-8 scan
    assert(Sources.detectEncoding(tmp(
      "a,b\n1,2\n".getBytes("UTF-16LE"))) == "UTF-16LE")
    assert(Sources.detectEncoding(tmp(
      "a,b\n1,2\n".getBytes("UTF-16BE"))) == "UTF-16BE")
    // end-to-end: csvAutoDetect round-trips the latin-1 value
    val p = tmp("name\ncaf\u00e9\n".getBytes("ISO-8859-1"))
    val df = Sources.csvAutoDetect(spark, p)
    assert(df.collect().head.getString(0) == "caf\u00e9")
    // end-to-end: a UTF-16LE file WITH BOM parses into clean values
    // (multiLine mode decodes before line-splitting)
    val p16 = tmp(Array(0xFF, 0xFE).map(_.toByte) ++
      "name,val\nalpha,1\nbeta,2\n".getBytes("UTF-16LE"))
    val df16 = Sources.csvAutoDetect(spark, p16)
    assert(df16.columns.toSeq == Seq("name", "val"))
    assert(df16.collect().map(_.getString(0)).toSeq == Seq("alpha", "beta"))
  }

  test("csv scan: a declared UTF-16 encoding reads BOM-less BE and LE " +
      "files into clean values") {
    import java.nio.file.Files
    for (enc <- Seq("UTF-16BE", "UTF-16LE")) {
      val f = Files.createTempFile("graft-utf16", ".csv")
      try {
        Files.write(f, "name,val\nalpha,1\nbeta,2\n".getBytes(enc))
        val df = Sources.csv(spark, f.toString, encoding = enc,
          columns = Seq("name", "val"))
        assert(df.collect().map(r => (r.getString(0), r.getString(1)))
          .toSeq == Seq(("alpha", "1"), ("beta", "2")), enc)
      } finally Files.delete(f)
    }
  }

  test("in-memory list source (sources/generic.py:30-42)") {
    val df = Sources.fromRows(spark, Seq("a", "b"),
      Seq(Seq("1", "x"), Seq("2", "y")))
    assert(df.count() == 2 && df.columns.toSeq == Seq("a", "b"))
  }

  test("json-lines scan: schema-first skips inference, FAILFAST on garbage") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-json")
    val f = dir.resolve("rows.json")
    java.nio.file.Files.writeString(f,
      """{"id": 1, "name": "a"}
        |{"id": 2, "name": "b"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val df = Sources.json(spark, f.toString, Some(schema))
    assert(df.schema == schema && df.count() == 2)
    // inference path agrees on this input
    assert(Sources.json(spark, f.toString).count() == 2)
    val bad = dir.resolve("bad.json")
    java.nio.file.Files.writeString(bad, "{\"id\": oops\n")
    intercept[org.apache.spark.SparkException] {
      Sources.json(spark, bad.toString, Some(schema)).collect()
    }
  }

  test("parameterized sql over registered views (sources/sql.py:17-62)") {
    Sources.register(Sources.csv(spark, fixture("customers.csv")), "customers")
    val df = Sources.sql(spark,
      "SELECT name FROM customers WHERE report_date = :rd ORDER BY name",
      Map("rd" -> "2019-06-30"))
    assert(df.count() == 5)
    assert(df.head().getString(0) == "John Connor")
  }
}
