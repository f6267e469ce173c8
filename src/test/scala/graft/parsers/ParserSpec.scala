package graft.parsers

import java.nio.file.Files
import graft.SparkSpec
import graft.domain.ParserConfig
import graft.domain.IngestionError.ParseError

/** Parser semantics pinned to the reference's behaviors (SURVEY §2.1,
  * fixtures from the reference's own unit tests — csv_parser_tests.rs —
  * and dev-test.sh). */
class ParserSpec extends SparkSpec {

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("parser_spec")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  // --- CSV (reference csv_parser.rs) ---

  test("csv: headers from first row, all fields string") {
    val df = CsvParser.parse(spark, tmpFile("t.csv", "name,age,city\nJohn,30,NYC\nJane,25,LA\n"), None)
    assert(df.schema.fieldNames.toSeq == Seq("name", "age", "city"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 2)
    assert(df.filter("name = 'John' AND age = '30'").count() == 1)
  }

  test("csv: config-supplied headers make first row data (csv_parser_tests.rs:6-27)") {
    val cfg = Some(ParserConfig(headers = Some(Seq("name", "age", "email", "city"))))
    val df = CsvParser.parse(spark, tmpFile("t.csv", "John,30,j@x.com,NYC\nJane,25,a@x.com,LA\n"), cfg)
    assert(df.schema.fieldNames.toSeq == Seq("name", "age", "email", "city"))
    assert(df.count() == 2)
  }

  test("csv: overflow fields get column_{i} names (csv_parser_tests.rs:29-38)") {
    val cfg = Some(ParserConfig(headers = Some(Seq("name", "age"))))
    val df = CsvParser.parse(spark, tmpFile("t.csv", "John,25,john@test.com,extra\n"), cfg)
    assert(df.schema.fieldNames.toSeq == Seq("name", "age", "column_2", "column_3"))
    assert(df.head().getString(3) == "extra")
  }

  test("csv: quoted delimiter doesn't inflate probed width (r2 VERDICT bug 1)") {
    // "a,b" is ONE field; with config headers the probe must report 3
    // columns, not 4 — a 4-wide schema would make FAILFAST reject the file.
    val cfg = Some(ParserConfig(headers = Some(Seq("name", "desc", "city"))))
    val df = CsvParser.parse(spark, tmpFile("t.csv", "John,\"a,b\",NYC\nJane,\"c,d\",LA\n"), cfg)
    assert(df.schema.fieldNames.toSeq == Seq("name", "desc", "city"))
    assert(df.count() == 2)
    assert(df.filter("desc = 'a,b'").count() == 1)
  }

  test("csv: countFields is RFC-4180 quote-aware") {
    assert(CsvParser.countFields("a,b,c", ",") == 3)
    assert(CsvParser.countFields("\"a,b\",c", ",") == 2)
    assert(CsvParser.countFields("\"a\"\"x,y\"\"b\",c", ",") == 2) // escaped "" inside quotes
    assert(CsvParser.countFields("", ",") == 1)
    assert(CsvParser.countFields("a;;b", ";") == 3)
    assert(CsvParser.countFields("\"a;b\";c", ";") == 2)
  }

  test("csv: ragged rows error (strict mode, csv_parser.rs:22)") {
    val df = CsvParser.parse(spark, tmpFile("t.csv", "a,b,c\n1,2,3\n4,5\n"), None)
    assertThrows[org.apache.spark.SparkException](df.collect())
  }

  test("csv: custom delimiter honored (dead config in reference, live here)") {
    val cfg = Some(ParserConfig(delimiter = Some(";")))
    val df = CsvParser.parse(spark, tmpFile("t.csv", "a;b\n1;2\n"), cfg)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
  }

  // --- JSON (reference json_parser.rs) ---

  test("json: top-level array explodes to rows with native types") {
    val df = JsonParser.parse(spark, tmpFile("t.json", """[{"n":"A","v":1},{"n":"B","v":2}]"""), None)
    assert(df.count() == 2)
    assert(df.schema("v").dataType.typeName == "long")
  }

  test("json: single object becomes one row") {
    val df = JsonParser.parse(spark, tmpFile("t.json", """{"n":"A","v":{"x":[1,2]}}"""), None)
    assert(df.count() == 1)
  }

  test("json: scalar fallback refuses a large mis-typed file instead of buffering it") {
    // a >16MB non-JSON blob routes to the scalar fallback, which must
    // error rather than collect the whole file onto the driver
    val blob = ("not json at all " * ((1 << 20) + 1)) // just over 16 MB
    val path = tmpFile("big.json", blob)
    val ex = intercept[IllegalArgumentException](JsonParser.parse(spark, path, None))
    assert(ex.getMessage.contains("scalar fallback refuses"))
  }

  test("json: malformed file fails with ParseError; scalars keep the value wrap") {
    // the truncated array the benchmark's malformed-json drop plants
    val truncated = """[{"id": 1, "name": "x"}, {"id": 2, "na"""
    Seq(truncated, """{"n": "A",""", """[[1, 2]]""", "42 43", "").foreach { body =>
      intercept[ParseError](JsonParser.parse(spark, tmpFile("bad.json", body), None))
    }
    Seq("42", "\"x\"", "[1, \"a\", null]", "[]").foreach { body =>
      val rows = JsonParser.parse(spark, tmpFile("s.json", body), None).collect()
      assert(rows.map(_.getString(0)).toSeq == Seq(body))
    }
  }

  // --- TXT (reference txt_parser.rs) ---

  test("txt: 1-based line numbers in file order") {
    val df = TxtParser.parse(spark, tmpFile("t.txt", "first\nsecond\nthird\n"), None)
    val rows = df.orderBy("line_number").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rows.map(_.getString(1)).toSeq == Seq("first", "second", "third"))
  }

  // --- XML (reference xml_parser.rs) ---

  test("xml: record rows, attributes merged, all strings") {
    val xml = """<data><record id="1"><name>A</name><age>30</age></record>
                |<record id="2"><name>B</name><age>25</age></record></data>""".stripMargin
    val df = XmlParser.parse(spark, tmpFile("t.xml", xml), None)
    assert(df.count() == 2)
    assert(df.schema.fieldNames.toSet == Set("id", "name", "age"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.filter("id = '1' AND age = '30'").count() == 1)
  }

  test("xml: zero records errors (xml_parser.rs:66-69)") {
    assertThrows[Exception](
      XmlParser.parse(spark, tmpFile("t.xml", "<data><other/></data>"), None).collect())
  }

  // --- Excel (reference excel_parser.rs) ---

  test("excel: non-zip input is a ParseError (calamine parity)") {
    assertThrows[ParseError](
      ExcelParser.parse(spark, tmpFile("t.xlsx", "name,age\nnot,a-zip\n"), None))
  }

  test("excel: column ref decoding") {
    assert(ExcelParser.columnIndex("A1") == 0)
    assert(ExcelParser.columnIndex("B3") == 1)
    assert(ExcelParser.columnIndex("AA10") == 26)
  }

  test("excel: ref-less cells place positionally (r2 VERDICT bug 2)") {
    // The r= attribute is optional in OOXML; calamine reads such cells
    // positionally. Row 2 mixes explicit and missing refs:
    //   <c r="A2">x</c><c>y</c><c>z</c>  ->  x, y(B), z(C)
    val dir = Files.createTempDirectory("parser_spec")
    val p = dir.resolve("refless.xlsx")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    def entry(name: String, content: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(content.getBytes("UTF-8")); zout.closeEntry()
    }
    def c(ref: Option[String], v: String) =
      s"""<c${ref.map(r => s""" r="$r"""").getOrElse("")} t="inlineStr"><is><t>$v</t></is></c>"""
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        s"""<row r="1">${c(Some("A1"), "h1")}${c(Some("B1"), "h2")}${c(Some("C1"), "h3")}</row>""" +
        s"""<row r="2">${c(Some("A2"), "x")}${c(None, "y")}${c(None, "z")}</row>""" +
        s"""<row r="3">${c(None, "p")}${c(Some("C3"), "q")}</row>""" + // no-ref first cell -> A; then explicit C
        "</sheetData></worksheet>"
    entry("xl/workbook.xml", """<?xml version="1.0"?><workbook/>""")
    entry("xl/worksheets/sheet1.xml", sheet)
    zout.close()
    val df = ExcelParser.parse(spark, p.toString, None)
    assert(df.schema.fieldNames.toSeq == Seq("h1", "h2", "h3"))
    val rows = df.collect().map(r => (0 until 3).map(i => Option(r.getString(i)).getOrElse("")).toList).sortBy(_.head)
    assert(rows.toList == List(List("p", "", "q"), List("x", "y", "z")))
  }

  // --- dispatch (reference parser_adapter.rs / ingestion_service.rs) ---

  test("dispatch: extension extraction lowercases last segment") {
    assert(ParserDispatch.extractFileType("a/b/FILE.CSV") == "csv")
    assert(ParserDispatch.extractFileType("x.tar.json") == "json")
    assert(ParserDispatch.extractFileType("noext") == "")
  }

  test("dispatch: pdf routes to the pure-JVM extractor (beyond the reference's error path)") {
    // the reference advertises .pdf but errors (parser_adapter.rs:54-57);
    // round 10 implements it — dispatch now routes, and a MALFORMED pdf
    // still fails into the audit trail at parse time (ing09's contract)
    assert(ParserDispatch.parserFor("pdf") == PdfParser)
    assertThrows[ParseError](
      graft.ops.Pdf.extract("%PDF-1.4 not supported".getBytes("ISO-8859-1")))
  }

  test("dispatch: compound compressed extensions route the inner text format") {
    assert(ParserDispatch.parserForKey("a/b/data.csv.gz") == CsvParser)
    assert(ParserDispatch.parserForKey("x.jsonl.bz2") == JsonlParser)
    assert(ParserDispatch.parserForKey("plain.csv") == CsvParser) // unchanged path
    // binary containers carry their own framing: a codec wrapper is refused
    assertThrows[ParseError](ParserDispatch.parserForKey("x.parquet.gz"))
    assertThrows[ParseError](ParserDispatch.parserForKey("x.xlsx.gz"))
    assertThrows[ParseError](ParserDispatch.parserForKey("bare.gz"))
  }

  test("jsonl: line-split scan preserves types; blank lines skipped") {
    val dir = Files.createTempDirectory("parser_jsonl")
    val p = dir.resolve("t.jsonl")
    Files.writeString(p,
      "{\"k\":\"a\",\"v\":1}\n\n{\"k\":\"b\",\"v\":2}\n")
    assert(ParserDispatch.parserForKey("t.jsonl") == JsonlParser)
    val df = JsonlParser.parse(spark, p.toString, None)
    assert(df.schema("v").dataType.typeName == "long")
    assert(df.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("a", 1L), ("b", 2L)))
  }

  test("gzip csv: codec-wrapped text streams through the inner parser") {
    val dir = Files.createTempDirectory("parser_gz")
    val p = dir.resolve("t.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    out.write("name,age\nAda,36\nBo,41\n".getBytes("UTF-8")); out.close()
    val df = ParserDispatch.parserForKey("t.csv.gz").parse(spark, p.toString, None)
    assert(df.schema.fieldNames.toSeq == Seq("name", "age"))
    assert(df.orderBy("name").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("Ada", "36"), ("Bo", "41")))
  }

  // --- columnar sources (beyond-reference: ORC + parquet passthrough) ---

  test("orc: native-typed roundtrip through the dispatch parser") {
    import spark.implicits._
    val dir = Files.createTempDirectory("parser_orc")
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .write.mode("overwrite").orc(dir.resolve("t.orc").toString)
    assert(ParserDispatch.parserFor("orc") == OrcParser)
    val df = OrcParser.parse(spark, dir.resolve("t.orc").toString, None)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(df.schema("v").dataType.typeName == "long") // types preserved
    assert(df.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("a", 1L), ("b", 2L)))
  }

  test("parquet passthrough: native-typed roundtrip through the dispatch parser") {
    import spark.implicits._
    val dir = Files.createTempDirectory("parser_pq")
    Seq(("a", true), ("b", false)).toDF("k", "flag")
      .write.mode("overwrite").parquet(dir.resolve("t.parquet").toString)
    assert(ParserDispatch.parserFor("parquet") == ParquetPassthroughParser)
    val df = ParquetPassthroughParser.parse(spark, dir.resolve("t.parquet").toString, None)
    assert(df.schema("flag").dataType.typeName == "boolean")
    assert(df.count() == 2)
  }

  test("zip archive: refusal contracts — mixed formats, zip-slip entries, " +
      "empty archives, deflate bombs") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("parser_zip")
    def zip(name: String)(entries: (String, Array[Byte])*): String = {
      val p = dir.resolve(name)
      val zo = new ZipOutputStream(Files.newOutputStream(p))
      entries.foreach { case (n, b) =>
        zo.putNextEntry(new ZipEntry(n)); zo.write(b); zo.closeEntry()
      }
      zo.close()
      p.toString
    }
    assert(ParserDispatch.parserFor("zip") == ZipArchiveParser)
    val csv = "a,b\n1,2\n".getBytes("UTF-8")
    // mixed formats: one archive -> one table -> one schema
    val mixed = zip("mixed.zip")("x.csv" -> csv, "y.txt" -> "hello".getBytes)
    val m = intercept[graft.domain.IngestionError.ParseError] {
      ZipArchiveParser.parse(spark, mixed, None): Unit
    }
    assert(m.getMessage.contains("mixed-format"), m.getMessage)
    // zip-slip: a traversal entry refuses before any byte lands
    val slip = zip("slip.zip")("../../evil.csv" -> csv)
    val s = intercept[graft.domain.IngestionError.ParseError] {
      ZipArchiveParser.parse(spark, slip, None): Unit
    }
    assert(s.getMessage.contains("escapes the archive root"), s.getMessage)
    // empty archive = error, the XmlParser empty=error rule
    val empty = zip("empty.zip")()
    val e = intercept[graft.domain.IngestionError.ParseError] {
      ZipArchiveParser.parse(spark, empty, None): Unit
    }
    assert(e.getMessage.contains("no file entries"), e.getMessage)
    // deflate bomb: a 300 MB all-zero entry compresses to ~300 KB of
    // archive but must refuse at the per-entry extraction cap — the
    // local-header size fields are attacker-controlled, so the cap
    // meters ACTUAL decompressed bytes
    val bombPath = dir.resolve("bomb.zip")
    val zo = new ZipOutputStream(Files.newOutputStream(bombPath))
    zo.putNextEntry(new ZipEntry("zeros.csv"))
    val chunk = new Array[Byte](1 << 20)
    (0 until 300).foreach(_ => zo.write(chunk))
    zo.closeEntry(); zo.close()
    val b = intercept[graft.domain.IngestionError.ParseError] {
      ZipArchiveParser.parse(spark, bombPath.toString, None): Unit
    }
    assert(b.getMessage.contains("extraction cap"), b.getMessage)
    // corrupt bytes with a .zip name stay inside the ParseError contract
    val junk = dir.resolve("junk.zip")
    Files.write(junk, Array.tabulate[Byte](64)(i => (i * 7).toByte))
    val j = intercept[graft.domain.IngestionError.ParseError] {
      ZipArchiveParser.parse(spark, junk.toString, None): Unit
    }
    assert(j.getMessage.startsWith("zip archive has no file entries") ||
      j.getMessage.startsWith("corrupt zip"), j.getMessage)
  }

  private def archSamples[A](gen: org.scalacheck.Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(42L + i)))

  test("archive containers (zip/tar) fuzz: mutations never escape the " +
      "ParseError contract during the archive walk") {
    val dir = java.nio.file.Files.createTempDirectory("prop_arch")
    val csv = "a,b\n1,2\n3,4\n".getBytes("UTF-8")
    val zipBase = {
      val p = dir.resolve("base.zip")
      val zo = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(p))
      Seq("x.csv", "d/y.csv").foreach { n =>
        zo.putNextEntry(new java.util.zip.ZipEntry(n)); zo.write(csv); zo.closeEntry()
      }
      zo.close()
      java.nio.file.Files.readAllBytes(p)
    }
    val tarBase = TarArchiveParser.TarFixtureWriter.archive(
      Seq("x.csv" -> csv, "d/y.csv" -> csv), gzip = false)
    val targets = Seq(
      ("zip", zipBase, (b: Array[Byte]) => {
        val p = dir.resolve(s"m${b.length}-${b.hashCode}.zip")
        java.nio.file.Files.write(p, b)
        ZipArchiveParser.parse(spark, p.toString, None)
      }),
      ("tar", tarBase, (b: Array[Byte]) => {
        val p = dir.resolve(s"m${b.length}-${b.hashCode}.tar")
        java.nio.file.Files.write(p, b)
        TarArchiveParser.parse(spark, p.toString, None)
      }))
    targets.foreach { case (name, base, parse) =>
      val mutGen: org.scalacheck.Gen[Array[Byte]] = org.scalacheck.Gen.oneOf(
        org.scalacheck.Gen.choose(0, base.length - 1).map(base.take),
        for { i <- org.scalacheck.Gen.choose(0, base.length - 1); b <- org.scalacheck.Gen.choose(0, 255) }
          yield { val c = base.clone(); c(i) = b.toByte; c },
        for { i <- org.scalacheck.Gen.choose(0, base.length - 1); s <- org.scalacheck.Gen.alphaStr }
          yield base.take(i) ++ s.getBytes("ISO-8859-1") ++ base.drop(i))
      archSamples(mutGen, 150).foreach { bytes =>
        try { parse(bytes): Unit } // a returned (lazy) DataFrame is fine
        catch {
          case _: graft.domain.IngestionError.ParseError => ()
          case e: Throwable =>
            fail(s"$name: non-ParseError ${e.getClass.getName}: " +
              s"${e.getMessage} (len=${bytes.length})")
        }
      }
    }
  }

  test("tar archive: dispatch (.tar/.tgz/.tar.gz), round-trip, and the " +
      "refusal contracts — slip, truncation, mixed, junk") {
    import graft.parsers.TarArchiveParser.TarFixtureWriter
    val dir = Files.createTempDirectory("parser_tar")
    assert(ParserDispatch.parserFor("tar") == TarArchiveParser)
    assert(ParserDispatch.parserFor("tgz") == TarArchiveParser)
    assert(ParserDispatch.parserForKey("x.tar.gz") == TarArchiveParser)
    val csv = "a,b\n1,2\n3,4\n".getBytes("UTF-8")
    // plain .tar round-trip (ing25 gates the .tar.gz arm end-to-end)
    val plain = dir.resolve("ok.tar")
    Files.write(plain, TarFixtureWriter.archive(Seq("d/x.csv" -> csv), gzip = false))
    val df = TarArchiveParser.parse(spark, plain.toString, None)
    assert(df.count() == 2)
    assert(df.select("source_entry").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("d/x.csv"))
    // slip entry refuses before extraction
    val slip = dir.resolve("slip.tar")
    Files.write(slip, TarFixtureWriter.archive(Seq("../evil.csv" -> csv), gzip = false))
    val s = intercept[graft.domain.IngestionError.ParseError] {
      TarArchiveParser.parse(spark, slip.toString, None): Unit
    }
    assert(s.getMessage.contains("escapes the archive root"), s.getMessage)
    // truncation mid-payload refuses (size field promises more bytes)
    val whole = TarFixtureWriter.archive(Seq("x.csv" -> csv), gzip = false)
    val trunc = dir.resolve("trunc.tar")
    Files.write(trunc, whole.take(512 + 4)) // header + 4 payload bytes
    val t = intercept[graft.domain.IngestionError.ParseError] {
      TarArchiveParser.parse(spark, trunc.toString, None): Unit
    }
    assert(t.getMessage.contains("truncated"), t.getMessage)
    // mixed formats refuse like the zip arm
    val mixed = dir.resolve("mixed.tar")
    Files.write(mixed, TarFixtureWriter.archive(Seq(
      "x.csv" -> csv, "y.txt" -> "hi".getBytes), gzip = false))
    val m = intercept[graft.domain.IngestionError.ParseError] {
      TarArchiveParser.parse(spark, mixed.toString, None): Unit
    }
    assert(m.getMessage.contains("mixed-format"), m.getMessage)
    // junk bytes stay inside the ParseError contract
    val junk = dir.resolve("junk.tar")
    Files.write(junk, Array.tabulate[Byte](700)(i => (i * 11 + 1).toByte))
    val j = intercept[graft.domain.IngestionError.ParseError] {
      TarArchiveParser.parse(spark, junk.toString, None): Unit
    }
    assert(j.getMessage.startsWith("tar") || j.getMessage.startsWith("corrupt tar"),
      j.getMessage)
  }
}
