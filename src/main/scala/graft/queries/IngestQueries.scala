package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain._
import graft.pipeline.IngestionPipeline
import graft.rules.RuleMatcher
import graft.sinks.{CouchDbSink, MongoWire, ParquetLogRepository, ParquetSink, StubCouchServer}
import graft.sources.LocalFileSource

/** End-to-end ingestion queries: each one writes the reference's own test
  * fixture (FIXTURES.md / reference dev-test.sh), runs the full pipeline
  * (rule match -> parse -> enrich -> sink -> audit log), reads the sink
  * back, and is hash-checked against a literal VALUES oracle. This is the
  * operator inventory S3-S8/T1-T5/P1-P2/K1/K4 under the same gate as the
  * relational queries.
  *
  * Determinism: fixtures are byte-identical every run; log ids use the
  * md5(file_name) generator (prod default is UUID); sink dirs are fresh
  * temp dirs so append-mode can't accumulate across runs.
  */
object IngestQueries {

  /** Runs one file through a fresh pipeline; returns the sink table read
    * back. Deterministic log ids; fixture bytes supplied by `write`. */
  private def runPipeline(
      spark: SparkSession,
      key: String,
      rules: Seq[IngestionConfigRule])(write: Path => Unit): DataFrame = {
    val base = SharedBases.tempDir("graft_ing")
    val bucket = "data-ingestion-bucket"
    val filePath = base.resolve(bucket).resolve(key)
    Files.createDirectories(filePath.getParent)
    write(filePath)
    val sinkDir = base.resolve("sink")
    val sink = new ParquetSink(sinkDir.toString)
    val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = md5Hex)
    val matcher = new RuleMatcher(rules)
    val pipeline = new IngestionPipeline(new LocalFileSource(base.toString), matcher, sink, logs)
    val result = pipeline.processFile(spark, FileToProcess(bucket, key))
    spark.read.parquet(sink.tablePath(result.targetTable))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def writeString(p: Path, s: String): Unit = Files.writeString(p, s)

  // ---- fixtures (reference dev-test.sh:45-117, FIXTURES.md §1) ----
  private val csvFixture = "name,age,city\nJohn,30,NYC\nJane,25,LA\nBob,35,Chicago\n"
  private val csvNoHeaders = "John,30,john@x.com,NYC\nJane,25,jane@x.com,LA\nBob,35,bob@x.com,Chicago\n"
  private val csvOverflow = "John,25,john@test.com,extra\nJane,31,jane@test.com,more\n"
  private val jsonFixture = """[{"name":"Alice","value":100},{"name":"Bob","value":200}]"""
  private val txtFixture = "Log entry 1: Application started\nLog entry 2: Processing data\nLog entry 3: Task completed\n"
  private val xmlFixture =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<data>
      |  <record id="1"><name>John Doe</name><age>30</age><email>john.doe@example.com</email></record>
      |  <record id="2"><name>Jane Roe</name><age>25</age><email>jane.roe@example.com</email></record>
      |</data>""".stripMargin

  /** Minimal XLSX: zip container with one worksheet of inline strings. */
  private def writeXlsx(p: Path, rows: Seq[Seq[String]]): Unit = {
    val zout = new ZipOutputStream(Files.newOutputStream(p))
    def entry(name: String, content: String): Unit = {
      zout.putNextEntry(new ZipEntry(name))
      zout.write(content.getBytes("UTF-8"))
      zout.closeEntry()
    }
    def ref(r: Int, c: Int): String = { // 0-based -> "A1"
      var n = c + 1; val sb = new StringBuilder
      while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
      sb.toString + (r + 1)
    }
    val sheetXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        rows.zipWithIndex.map { case (cells, r) =>
          s"""<row r="${r + 1}">""" + cells.zipWithIndex.map { case (v, c) =>
            s"""<c r="${ref(r, c)}" t="inlineStr"><is><t>$v</t></is></c>"""
          }.mkString + "</row>"
        }.mkString + "</sheetData></worksheet>"
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"/>""")
    entry("xl/worksheets/sheet1.xml", sheetXml)
    zout.close()
  }

  /** Writes `df` as a single file of `fmt` at `p` (Spark writes a
    * directory; the one part file is moved to the fixture path). */
  private def writeSparkFormat(spark: SparkSession, fmt: String, p: Path,
      build: SparkSession => DataFrame): Unit = {
    val tmp = SharedBases.tempDir("graft_fmt")
    build(spark).coalesce(1).write.format(fmt).mode("overwrite").save(tmp.resolve("out").toString)
    val listing = Files.list(tmp.resolve("out"))
    val part = try listing.filter(f =>
      f.getFileName.toString.startsWith("part-")).findFirst().get()
    finally listing.close()
    Files.move(part, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S4+T1+T3+T4+K1: CSV with headers from first row, all-string schema.
    "ing01_csv_headers" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "data/test.csv", RuleMatcher.seedRules)(writeString(_, csvFixture))
        .orderBy("name")
    }),

    // S4 variant: config-supplied headers; first row is data.
    "ing02_csv_custom_headers" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "data/test_no_headers.csv", RuleMatcher.seedRules)(
        writeString(_, csvNoHeaders)).orderBy("name")
    }),

    // S4 edge: rows wider than config headers -> column_{i} overflow names.
    "ing03_csv_overflow" -> ((spark: SparkSession, _: String) => {
      val rules = Seq(IngestionConfigRule(".*\\.csv$", "overflow_data",
        Some(ParserConfig(headers = Some(Seq("name", "age"))))))
      runPipeline(spark, "data/test_overflow.csv", rules)(writeString(_, csvOverflow))
        .orderBy("name")
    }),

    // S5+T2: JSON top-level array -> rows, native types preserved.
    "ing04_json" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "data/test.json", RuleMatcher.seedRules)(writeString(_, jsonFixture))
        .orderBy("name")
    }),

    // S6+T5: TXT -> 1-based line_number + content.
    "ing05_txt" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "logs/test.txt", RuleMatcher.seedRules)(writeString(_, txtFixture))
        .orderBy("line_number")
    }),

    // S7: XML <record> rows; attributes merged; all strings.
    "ing06_xml" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "data/test.xml", RuleMatcher.seedRules)(writeString(_, xmlFixture))
        .orderBy("id")
    }),

    // S8: XLSX first sheet; row 1 headers; overflow cells DROPPED.
    "ing07_excel" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "reports/test.xlsx", RuleMatcher.seedRules)(
        writeXlsx(_, Seq(
          Seq("name", "age", "department"),
          Seq("Alice", "28", "HR"),
          Seq("Charlie", "32", "Finance", "OVERFLOW-DROPPED"))))
        .orderBy("name")
    }),

    // S8, legacy container: a REAL pre-2007 .xls (BIFF8-in-CFB) through
    // the same pipeline — the reference advertises .xls but its calamine
    // Xlsx type fails on a real CFB file (parser_adapter.rs:49-52);
    // the repo reads it for real (parsers/BiffXls.scala), container
    // sniffed by magic, with typed cells (RK integer, IEEE double,
    // boolean) stringified under the documented rules and overflow
    // cells dropped per the Excel contract.
    "ing26_legacy_xls" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "reports/legacy.xls", RuleMatcher.seedRules)(
        graft.parsers.BiffXls.writeXls(_, Seq(
          Seq[Any]("name", "age", "department"),
          Seq[Any]("Alice", 28, "HR"),
          Seq[Any]("Bob", 31.0, "Finance", "OVERFLOW-DROPPED"))))
        .orderBy("name")
    }),

    // P1+P2 as a data-plane query: regex rule match, longest-pattern-wins,
    // via regexp_like join + length-ranked window (broadcast rules).
    "ing08_route_longest_wins" -> ((spark: SparkSession, _: String) => {
      import spark.implicits._
      val rules = RuleMatcher.seedRules.map(r => (r.pattern, r.targetTable))
        .toDF("pattern", "target_table")
      val keys = Seq("data/test.csv", "data/test_no_headers.csv", "reports/q1.xlsx",
        "archive/backup.xlsx", "logs/test.txt", "data/readme.unknown", "data/test.json")
        .toDF("key")
      val matched = keys.join(broadcast(rules), expr("key rlike pattern"), "left_outer")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
        .orderBy(length(col("pattern")).desc, col("pattern").asc)
      matched.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("key"), coalesce(col("target_table"), lit("NO_MATCH")).as("target_table"))
        .orderBy("key")
    }),

    // S8 via DataSource V2: many-file XLSX directory read (one partition
    // per file, by-name projection across differing headers).
    "ing10_excel_dsv2" -> ((spark: SparkSession, _: String) => {
      val dir = SharedBases.tempDir("graft_dsv2")
      writeXlsx(dir.resolve("a.xlsx"), Seq(Seq("name", "age"), Seq("Alice", "28")))
      writeXlsx(dir.resolve("b.xlsx"), Seq(Seq("age", "name"), Seq("31", "Bob")))
      spark.read.format("xlsx").load(dir.toString)
        .orderBy("name")
    }),

    // K1-K3 over the real wire protocol: the same CSV pipeline, but the
    // sink POSTs `_bulk_docs` batches to a CouchDB-protocol server (an
    // in-process stub — no egress in this environment) and the result is
    // the server's stored docs read back. Exercises the reference's
    // actual deployment path (couchdb/data_repo.rs:23-59) end-to-end.
    "ing11_couchdb_wire" -> ((spark: SparkSession, _: String) => {
      import spark.implicits._
      val base = SharedBases.tempDir("graft_couch")
      val bucket = "data-ingestion-bucket"
      val filePath = base.resolve(bucket).resolve("data").resolve("test.csv")
      Files.createDirectories(filePath.getParent)
      Files.writeString(filePath, csvFixture)
      val server = new StubCouchServer
      try {
        val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = md5Hex)
        val pipeline = new IngestionPipeline(
          new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules),
          new CouchDbSink(server.baseUrl), logs)
        val result = pipeline.processFile(spark, FileToProcess(bucket, "data/test.csv"))
        require(result.rowsWritten == 3, s"wire sink reported ${result.rowsWritten} rows, expected 3")
        // server.docs materializes on the driver, so the server can stop
        // before the returned DataFrame is collected.
        spark.read.json(server.docs(result.targetTable).toDS())
          .select("name", "age", "city", "file_name", "log_id")
          .orderBy("name")
      } finally server.stop()
    }),

    // Beyond-reference columnar sources: ORC and parquet files route
    // through the same rule-match -> parse -> enrich -> sink -> audit
    // pipeline as the reference's five text formats. Native types are
    // preserved; the scan is splittable (stripes / row groups), so the
    // same pipeline ingests a 100 TB lake drop without the reference's
    // whole-file-in-RAM cap (s3_adapter.rs:39-49).
    "ing12_orc" -> ((spark: SparkSession, _: String) => {
      import spark.implicits._
      val rules = Seq(IngestionConfigRule(".*\\.orc$", "orc_data"))
      runPipeline(spark, "data/test.orc", rules)(
        writeSparkFormat(spark, "orc", _, s =>
          { import s.implicits._
            Seq(("Alice", 100L), ("Bob", 200L)).toDF("name", "value") }))
        .orderBy("name")
    }),

    // Avro OCF through the same pipeline, read by the hand-rolled DSv2
    // source (sync-split scans + decoder-level pruning — AvroDataSource).
    // The fixture is written with the Avro library itself (Spark ships no
    // avro writer without the connector), exercising real wire bytes:
    // deflate-less binary encoding, sync markers, [null,string] union.
    "ing18_avro" -> ((spark: SparkSession, _: String) => {
      val rules = Seq(IngestionConfigRule(".*\\.avro$", "avro_data"))
      runPipeline(spark, "data/test.avro", rules) { p =>
        import org.apache.avro.SchemaBuilder
        import org.apache.avro.file.DataFileWriter
        import org.apache.avro.generic.{GenericDatumWriter, GenericRecord, GenericRecordBuilder}
        val schema = SchemaBuilder.record("Doc").fields()
          .requiredString("name").requiredLong("value").optionalString("tag")
          .endRecord()
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, p.toFile)
        w.append(new GenericRecordBuilder(schema)
          .set("name", "Erin").set("value", 300L).set("tag", "x").build())
        w.append(new GenericRecordBuilder(schema)
          .set("name", "Frank").set("value", 400L).set("tag", null).build())
        w.close()
      }.orderBy("name")
    }),

    // JSON-Lines through the pipeline: the lake-scale JSON shape (one
    // object per line, line-splittable scan — JsonlParser scaladoc).
    // Native types preserved, like .json but without the whole-file cap.
    "ing20_jsonl" -> ((spark: SparkSession, _: String) => {
      val rules = Seq(IngestionConfigRule(".*\\.jsonl$", "jsonl_data"))
      runPipeline(spark, "data/test.jsonl", rules)(writeString(_,
        """{"name":"Gail","value":500,"active":true}
          |{"name":"Hank","value":600,"active":false}
          |{"name":"Iris","value":700,"active":true}
          |""".stripMargin))
        .orderBy("name")
    }),

    // Compressed text through the pipeline: x.csv.gz resolves the
    // compound extension (ParserDispatch.parserForKey), and Spark's CSV
    // reader streams through the gzip codec by file name — the per-part
    // compression convention of real lake drops. Same header semantics
    // as ing01; the enrich columns carry the full compressed key.
    // ZIP ARCHIVE ingestion (beyond-reference container sibling of
    // ing21's codec wrapper): one drop = one zip of homogeneous CSVs,
    // streamed entry-at-a-time to scratch on the control plane, every
    // entry scanned by the INNER parser's splittable reader, rows
    // carrying per-entry lineage (source_entry) through the union and
    // the full pipeline enrichment. Mixed archives, zip-slip entries
    // and deflate bombs refuse instructively (ParserSpec).
    "ing24_zip_archive" -> ((spark: SparkSession, _: String) => {
      val rules = Seq(IngestionConfigRule(".*\\.zip$", "zip_data"))
      runPipeline(spark, "data/drop.zip", rules) { p =>
        val zo = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
        def add(name: String, body: String): Unit = {
          zo.putNextEntry(new java.util.zip.ZipEntry(name))
          zo.write(body.getBytes("UTF-8"))
          zo.closeEntry()
        }
        add("part1.csv", "name,age,city\nJohn,30,NYC\nJane,25,LA\n")
        add("part2.csv", "name,age,city\nBob,35,Chicago\n")
        add("sub/part3.csv", "name,age,city\nEve,28,Boston\nFinn,33,Denver\n")
        zo.close()
      }.orderBy("name")
    }),

    // TAR.GZ archive ingestion — ing24's POSIX-ustar sibling through
    // the compound-extension dispatch (x.tar.gz), hand-rolled 512-block
    // header walk, JSONL entries this time so the inner line-splittable
    // parser differs from ing24's CSV arm.
    "ing25_tar_archive" -> ((spark: SparkSession, _: String) => {
      val rules = Seq(IngestionConfigRule(".*\\.tar\\.gz$", "tar_data"))
      runPipeline(spark, "data/drop.tar.gz", rules) { p =>
        Files.write(p, graft.parsers.TarArchiveParser.TarFixtureWriter.archive(Seq(
          "a/rows1.jsonl" ->
            "{\"name\":\"John\",\"v\":30}\n{\"name\":\"Jane\",\"v\":25}\n".getBytes("UTF-8"),
          "b/rows2.jsonl" ->
            "{\"name\":\"Bob\",\"v\":35}\n".getBytes("UTF-8")), gzip = true)): Unit
      }.orderBy("name")
    }),

    "ing21_gzip_csv" -> ((spark: SparkSession, _: String) => {
      val rules = Seq(IngestionConfigRule(".*\\.csv\\.gz$", "gz_data"))
      runPipeline(spark, "data/test.csv.gz", rules) { p =>
        val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
        out.write(csvFixture.getBytes("UTF-8"))
        out.close()
      }.orderBy("name")
    }),

    // Write-side proof over REAL data: the engine archives the documents
    // table to Avro OCF with its own DSv2 writer (executor-parallel part
    // files, atomic rename commit), reads it back with its own splittable
    // reader, and aggregates — gated against DuckDB reading the ORIGINAL
    // parquet, so any loss/corruption/type drift in either direction of
    // the Avro codec surfaces as a hash mismatch.
    "ing19_avro_roundtrip" -> ((spark: SparkSession, dir: String) => {
      graft.sources.AvroDataSource.enable(spark)
      val out = SharedBases.tempDir("graft_avro_rt").resolve("docs")
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(4)
        .write.format("avro").mode("overwrite").save(out.toString)
      spark.read.format("avro").load(out.toString)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"),
          max(length(col("text"))).as("max_len"))
        .orderBy("source")
    }),

    "ing13_parquet" -> ((spark: SparkSession, _: String) => {
      val rules = Seq(IngestionConfigRule(".*\\.parquet$", "parquet_data"))
      runPipeline(spark, "data/test.parquet", rules)(
        writeSparkFormat(spark, "parquet", _, s =>
          { import s.implicits._
            Seq(("Carol", 7L, true), ("Dave", 9L, false)).toDF("name", "score", "active") }))
        .orderBy("name")
    }),

    // Bad-record capture: the reference hard-fails a whole file on one
    // ragged row (strict csv reader, csv_parser.rs:22 — ing03/ParserSpec
    // pin that). The lake-scale alternative is PERMISSIVE ingest: good
    // rows flow, malformed rows land in a corrupt-record column and are
    // routed to a quarantine output instead of poisoning the batch.
    // Scan-local (the capture happens inside the CSV reader's codegen) —
    // no second pass over the file.
    "ing14_bad_records" -> ((spark: SparkSession, _: String) => {
      val dir = SharedBases.tempDir("graft_bad")
      val p = dir.resolve("mixed.csv")
      Files.writeString(p,
        "name,age,city\nJohn,30,NYC\nBADLINE-ONLY-ONE-FIELD\nJane,25,LA\n")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("age", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("city", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_bad", org.apache.spark.sql.types.StringType)))
      spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(p.toString)
        .select(col("name"), col("age"), col("city"),
          col("_bad").isNotNull.as("quarantined"), col("_bad").as("raw"))
        .orderBy(col("quarantined"), col("name"))
    }),

    // Schema evolution: two drops of the same table where the newer one
    // grew a column; mergeSchema unifies them (old rows read the new
    // column as null) — the read-side half of lakehouse schema
    // evolution. Footer-only schema merge, no data rewrite.
    "ing15_schema_evolution" -> ((spark: SparkSession, _: String) => {
      import spark.implicits._
      val dir = SharedBases.tempDir("graft_evo")
      Seq(("Alice", 100L)).toDF("name", "value")
        .write.parquet(dir.resolve("drop=1").toString)
      Seq(("Bob", 200L, "eu-west")).toDF("name", "value", "region")
        .write.parquet(dir.resolve("drop=2").toString)
      spark.read.option("mergeSchema", "true")
        .parquet(dir.resolve("drop=1").toString, dir.resolve("drop=2").toString)
        .select(col("name"), col("value"), col("region"))
        .orderBy("name")
    }),

    // K1-K3 over the reference's DEFAULT deployed wire: the same CSV
    // pipeline, but the sink speaks the MongoDB OP_MSG/BSON protocol to
    // an in-process wire server (no egress in this environment) and the
    // result is the server's stored docs read back. Exercises the
    // reference's default path end-to-end (mongodb/data_repo.rs:20-70;
    // documentdb/data_repo.rs:18-44 is wire-identical), selected through
    // SinkFactory exactly as DATABASE_TYPE=mongodb + MONGODB_URI would.
    "ing16_mongodb_wire" -> ((spark: SparkSession, _: String) => {
      import spark.implicits._
      val base = SharedBases.tempDir("graft_mongo")
      val bucket = "data-ingestion-bucket"
      val filePath = base.resolve(bucket).resolve("data").resolve("test.csv")
      Files.createDirectories(filePath.getParent)
      Files.writeString(filePath, csvFixture)
      val server = new graft.sinks.StubMongoServer
      try {
        val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = md5Hex)
        val sink = graft.sinks.SinkFactory.fromEnv(Map(
          "DATABASE_TYPE" -> "mongodb",
          "MONGODB_URI" -> s"mongodb://${server.host}:${server.port}",
          "MONGODB_DATABASE" -> "ingestion_db"), base.resolve("unused").toString)
        val pipeline = new IngestionPipeline(
          new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules),
          sink, logs)
        val result = pipeline.processFile(spark, FileToProcess(bucket, "data/test.csv"))
        require(result.rowsWritten == 3, s"wire sink reported ${result.rowsWritten} rows, expected 3")
        // server.docs materializes on the driver, so the server can stop
        // before the returned DataFrame is collected.
        spark.read.json(server.docs("ingestion_db", result.targetTable).toDS())
          .select("name", "age", "city", "file_name", "log_id")
          .orderBy("name")
      } finally server.stop()
    }),

    // The FULL reference deployment shape over the wire: routing rules
    // live in the `ingestion_config` collection and are fetched by a
    // wire `find` (config_repo.rs:16-33) — including the parser_config
    // headers that drive the no-headers CSV parse — and the parsed rows
    // bulk-insert back over the same wire. Config seeding mirrors
    // migration.js: an OP_MSG insert of the rule documents.
    "ing17_mongodb_config" -> ((spark: SparkSession, _: String) => {
      import spark.implicits._
      val base = SharedBases.tempDir("graft_mcfg")
      val bucket = "data-ingestion-bucket"
      val filePath = base.resolve(bucket).resolve("data").resolve("test_no_headers.csv")
      Files.createDirectories(filePath.getParent)
      Files.writeString(filePath, csvNoHeaders)
      val server = new graft.sinks.StubMongoServer
      try {
        // migration.js-style seeding, over the wire
        val sock = new java.net.Socket(server.host, server.port)
        try MongoWire.insertMany(
          new java.io.DataOutputStream(sock.getOutputStream),
          new java.io.DataInputStream(sock.getInputStream),
          "ingestion_db", "ingestion_config", Seq(
            """{"pattern": ".*\\.csv$", "target_table": "csv_data"}""",
            """{"pattern": ".*test_no_headers\\.csv$", "target_table": "csv_no_headers_data",
              | "parser_config": {"headers": ["name", "age", "email", "city"]}}""".stripMargin))
        finally sock.close()
        val config = new graft.rules.MongoConfigRepository(
          server.host, server.port, "ingestion_db")
        val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = md5Hex)
        val pipeline = new IngestionPipeline(
          new LocalFileSource(base.toString), config,
          new graft.sinks.MongoDbSink(server.host, server.port, "ingestion_db"), logs)
        val result = pipeline.processFile(spark, FileToProcess(bucket, "data/test_no_headers.csv"))
        require(result.targetTable == "csv_no_headers_data",
          s"longest-wins over wire-loaded rules picked ${result.targetTable}")
        require(result.rowsWritten == 3, s"wire sink reported ${result.rowsWritten} rows")
        spark.read.json(server.docs("ingestion_db", result.targetTable).toDS())
          .select("name", "age", "email", "city", "file_name", "log_id")
          .orderBy("name")
      } finally server.stop()
    }),

    // ing22: PDF ingestion — the reference ADVERTISES .pdf
    // (instructions.md:8, dev-test.sh:109-168) but its adapter errors
    // (parser_adapter.rs:54-57); this routes it through the pure-JVM
    // extractor (graft.ops.Pdf: classic xref, FlateDecode, Tj/TJ/quote
    // show ops) — a documented improvement, with malformed/encrypted
    // PDFs still failing into the audit trail exactly as before
    // (ing09's bad.pdf path is unchanged). The fixture is synthesized
    // by the matching deterministic writer with FlateDecode ON, so the
    // gate covers the compressed path end-to-end through the pipeline.
    "ing22_pdf" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "docs/report.pdf",
        RuleMatcher.seedRules :+ IngestionConfigRule(".*\\.pdf$", "pdf_docs"))(
        p => Files.write(p, graft.ops.Pdf.synthesize(Seq(
          "Quarterly ingestion report",
          "Revenue 1234\nCosts 567",
          "Appendix: notes (v2)"), compress = true)): Unit)
        .orderBy("page")
    }),

    // ing23: PDF 1.5+ ingestion — the layout MODERN writers emit (and
    // the one round 11 still refused): document structure packed into
    // a compressed /Type /ObjStm container, addressed by a /Type /XRef
    // cross-reference STREAM whose binary rows sit under the PNG 'up'
    // predictor. Same pipeline, same page texts as ing22, so one
    // oracle cross-gates the classic and modern layouts — a reader
    // must not be able to tell which container the text came from.
    "ing23_pdf_objstm" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "docs/report15.pdf",
        RuleMatcher.seedRules :+ IngestionConfigRule(".*\\.pdf$", "pdf_docs"))(
        p => Files.write(p, graft.ops.Pdf.synthesize15(Seq(
          "Quarterly ingestion report",
          "Revenue 1234\nCosts 567",
          "Appendix: notes (v2)"))): Unit)
        .orderBy("page")
    }),

    // ing27: the 1.5 container again, with its xref stream under the
    // TIFF (predictor-2) row coding instead of PNG 'up' — the other
    // predictor family real writers emit. Same texts, so the one
    // oracle now cross-gates all three layouts (classic, 1.5+PNG,
    // 1.5+TIFF): no container or predictor may leak into extraction.
    "ing27_pdf_tiff_predictor" -> ((spark: SparkSession, _: String) => {
      runPipeline(spark, "docs/report15t.pdf",
        RuleMatcher.seedRules :+ IngestionConfigRule(".*\\.pdf$", "pdf_docs"))(
        p => Files.write(p, graft.ops.Pdf.synthesize15(Seq(
          "Quarterly ingestion report",
          "Revenue 1234\nCosts 567",
          "Appendix: notes (v2)"), xrefPredictor = 2)): Unit)
        .orderBy("page")
    }),

    // K4: audit log lifecycle — success and failure paths both recorded.
    "ing09_audit_log" -> ((spark: SparkSession, _: String) => {
      import spark.implicits._
      val base = SharedBases.tempDir("graft_log")
      val bucket = "data-ingestion-bucket"
      Files.createDirectories(base.resolve(bucket).resolve("data"))
      Files.writeString(base.resolve(bucket).resolve("data/test.csv"), csvFixture)
      Files.writeString(base.resolve(bucket).resolve("data/bad.pdf"), "%PDF-1.4 not supported")
      val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = md5Hex)
      val pipeline = new IngestionPipeline(
        new LocalFileSource(base.toString), new RuleMatcher(
          RuleMatcher.seedRules :+ IngestionConfigRule(".*\\.pdf$", "pdf_data")),
        new ParquetSink(base.resolve("sink").toString), logs)
      pipeline.processFile(spark, FileToProcess(bucket, "data/test.csv"))
      try pipeline.processFile(spark, FileToProcess(bucket, "data/bad.pdf"))
      catch { case _: IngestionError.ParseError => () }
      logs.all.map(l => (l.logId, l.fileName, l.status, l.endTime.isDefined))
        .toDF("log_id", "file_name", "status", "has_end_time")
        .orderBy("file_name")
    }),
  )

  // VALUES-based oracles: expected outputs are literals (the fixtures are
  // byte-fixed); log_id/file_name enrichment is md5-derived, computed by
  // DuckDB's own md5() so the oracle stays self-contained.
  private val fn = "'data-ingestion-bucket/' || "

  val oracles: Map[String, String] = Map(
    "ing01_csv_headers" ->
      s"""SELECT name, age, city, ${fn}'data/test.csv' AS file_name,
        |  md5(${fn}'data/test.csv') AS log_id
        |FROM (VALUES ('Bob','35','Chicago'), ('Jane','25','LA'), ('John','30','NYC')) t(name, age, city)
        |ORDER BY name""".stripMargin,

    "ing02_csv_custom_headers" ->
      s"""SELECT name, age, email, city, ${fn}'data/test_no_headers.csv' AS file_name,
        |  md5(${fn}'data/test_no_headers.csv') AS log_id
        |FROM (VALUES ('Bob','35','bob@x.com','Chicago'), ('Jane','25','jane@x.com','LA'),
        |             ('John','30','john@x.com','NYC')) t(name, age, email, city)
        |ORDER BY name""".stripMargin,

    "ing17_mongodb_config" ->
      s"""SELECT name, age, email, city, ${fn}'data/test_no_headers.csv' AS file_name,
        |  md5(${fn}'data/test_no_headers.csv') AS log_id
        |FROM (VALUES ('Bob','35','bob@x.com','Chicago'), ('Jane','25','jane@x.com','LA'),
        |             ('John','30','john@x.com','NYC')) t(name, age, email, city)
        |ORDER BY name""".stripMargin,

    "ing03_csv_overflow" ->
      s"""SELECT name, age, column_2, column_3, ${fn}'data/test_overflow.csv' AS file_name,
        |  md5(${fn}'data/test_overflow.csv') AS log_id
        |FROM (VALUES ('Jane','31','jane@test.com','more'), ('John','25','john@test.com','extra'))
        |  t(name, age, column_2, column_3)
        |ORDER BY name""".stripMargin,

    "ing04_json" ->
      s"""SELECT name, value, ${fn}'data/test.json' AS file_name,
        |  md5(${fn}'data/test.json') AS log_id
        |FROM (VALUES ('Alice', 100), ('Bob', 200)) t(name, value)
        |ORDER BY name""".stripMargin,

    "ing05_txt" ->
      s"""SELECT line_number, content, ${fn}'logs/test.txt' AS file_name,
        |  md5(${fn}'logs/test.txt') AS log_id
        |FROM (VALUES (1, 'Log entry 1: Application started'), (2, 'Log entry 2: Processing data'),
        |             (3, 'Log entry 3: Task completed')) t(line_number, content)
        |ORDER BY line_number""".stripMargin,

    "ing06_xml" ->
      s"""SELECT id, name, age, email, ${fn}'data/test.xml' AS file_name,
        |  md5(${fn}'data/test.xml') AS log_id
        |FROM (VALUES ('1','John Doe','30','john.doe@example.com'),
        |             ('2','Jane Roe','25','jane.roe@example.com')) t(id, name, age, email)
        |ORDER BY id""".stripMargin,

    "ing07_excel" ->
      s"""SELECT name, age, department, ${fn}'reports/test.xlsx' AS file_name,
        |  md5(${fn}'reports/test.xlsx') AS log_id
        |FROM (VALUES ('Alice','28','HR'), ('Charlie','32','Finance')) t(name, age, department)
        |ORDER BY name""".stripMargin,

    "ing26_legacy_xls" ->
      s"""SELECT name, age, department, ${fn}'reports/legacy.xls' AS file_name,
        |  md5(${fn}'reports/legacy.xls') AS log_id
        |FROM (VALUES ('Alice','28','HR'), ('Bob','31','Finance')) t(name, age, department)
        |ORDER BY name""".stripMargin,

    "ing08_route_longest_wins" ->
      """WITH rules(pattern, target_table) AS (VALUES
        |  ('.*\.csv$', 'csv_data'), ('.*\.json$', 'json_data'),
        |  ('reports/.*\.xlsx?$', 'excel_reports'), ('logs/.*\.txt$', 'text_logs'),
        |  ('.*\.xml$', 'xml_data'), ('.*\.xlsx?$', 'excel_data'),
        |  ('.*test_no_headers\.csv$', 'csv_no_headers_data')),
        |keys(key) AS (VALUES ('data/test.csv'), ('data/test_no_headers.csv'), ('reports/q1.xlsx'),
        |  ('archive/backup.xlsx'), ('logs/test.txt'), ('data/readme.unknown'), ('data/test.json')),
        |matched AS (
        |  SELECT key, pattern, target_table,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY length(pattern) DESC, pattern) AS rk
        |  FROM keys LEFT OUTER JOIN rules ON regexp_matches(key, pattern))
        |SELECT key, COALESCE(target_table, 'NO_MATCH') AS target_table
        |FROM matched WHERE rk = 1 ORDER BY key""".stripMargin,

    "ing10_excel_dsv2" ->
      """SELECT name, age FROM (VALUES ('Alice', '28'), ('Bob', '31')) t(name, age)
        |ORDER BY name""".stripMargin,

    "ing11_couchdb_wire" ->
      s"""SELECT name, age, city, ${fn}'data/test.csv' AS file_name,
        |  md5(${fn}'data/test.csv') AS log_id
        |FROM (VALUES ('Bob','35','Chicago'), ('Jane','25','LA'), ('John','30','NYC')) t(name, age, city)
        |ORDER BY name""".stripMargin,

    "ing16_mongodb_wire" ->
      s"""SELECT name, age, city, ${fn}'data/test.csv' AS file_name,
        |  md5(${fn}'data/test.csv') AS log_id
        |FROM (VALUES ('Bob','35','Chicago'), ('Jane','25','LA'), ('John','30','NYC')) t(name, age, city)
        |ORDER BY name""".stripMargin,

    "ing12_orc" ->
      s"""SELECT name, CAST(value AS BIGINT) AS value, ${fn}'data/test.orc' AS file_name,
        |  md5(${fn}'data/test.orc') AS log_id
        |FROM (VALUES ('Alice', 100), ('Bob', 200)) t(name, value)
        |ORDER BY name""".stripMargin,

    "ing18_avro" ->
      s"""SELECT name, CAST(value AS BIGINT) AS value, tag, ${fn}'data/test.avro' AS file_name,
        |  md5(${fn}'data/test.avro') AS log_id
        |FROM (VALUES ('Erin', 300, 'x'), ('Frank', 400, CAST(NULL AS VARCHAR))) t(name, value, tag)
        |ORDER BY name""".stripMargin,

    "ing20_jsonl" ->
      s"""SELECT active, name, CAST(value AS BIGINT) AS value, ${fn}'data/test.jsonl' AS file_name,
        |  md5(${fn}'data/test.jsonl') AS log_id
        |FROM (VALUES (true, 'Gail', 500), (false, 'Hank', 600), (true, 'Iris', 700))
        |  t(active, name, value)
        |ORDER BY name""".stripMargin,

    "ing25_tar_archive" ->
      s"""SELECT name, CAST(v AS BIGINT) AS v, source_entry,
        |  ${fn}'data/drop.tar.gz' AS file_name,
        |  md5(${fn}'data/drop.tar.gz') AS log_id
        |FROM (VALUES
        |  ('Bob', 35, 'b/rows2.jsonl'),
        |  ('Jane', 25, 'a/rows1.jsonl'),
        |  ('John', 30, 'a/rows1.jsonl'))
        |  t(name, v, source_entry)
        |ORDER BY name""".stripMargin,

    "ing24_zip_archive" ->
      s"""SELECT name, age, city, source_entry,
        |  ${fn}'data/drop.zip' AS file_name,
        |  md5(${fn}'data/drop.zip') AS log_id
        |FROM (VALUES
        |  ('Bob','35','Chicago','part2.csv'),
        |  ('Eve','28','Boston','sub/part3.csv'),
        |  ('Finn','33','Denver','sub/part3.csv'),
        |  ('Jane','25','LA','part1.csv'),
        |  ('John','30','NYC','part1.csv'))
        |  t(name, age, city, source_entry)
        |ORDER BY name""".stripMargin,

    "ing21_gzip_csv" ->
      s"""SELECT name, age, city, ${fn}'data/test.csv.gz' AS file_name,
        |  md5(${fn}'data/test.csv.gz') AS log_id
        |FROM (VALUES ('Bob','35','Chicago'), ('Jane','25','LA'), ('John','30','NYC')) t(name, age, city)
        |ORDER BY name""".stripMargin,

    "ing19_avro_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT lang) AS n_langs, MAX(LENGTH(text)) AS max_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "ing13_parquet" ->
      s"""SELECT name, CAST(score AS BIGINT) AS score, active, ${fn}'data/test.parquet' AS file_name,
        |  md5(${fn}'data/test.parquet') AS log_id
        |FROM (VALUES ('Carol', 7, true), ('Dave', 9, false)) t(name, score, active)
        |ORDER BY name""".stripMargin,

    "ing14_bad_records" ->
      """SELECT name, age, city, quarantined, raw
        |FROM (VALUES
        |  ('Jane', '25', 'LA', false, CAST(NULL AS VARCHAR)),
        |  ('John', '30', 'NYC', false, CAST(NULL AS VARCHAR)),
        |  ('BADLINE-ONLY-ONE-FIELD', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), true, 'BADLINE-ONLY-ONE-FIELD'))
        |  t(name, age, city, quarantined, raw)
        |ORDER BY quarantined, name""".stripMargin,

    "ing15_schema_evolution" ->
      """SELECT name, CAST(value AS BIGINT) AS value, region
        |FROM (VALUES ('Alice', 100, CAST(NULL AS VARCHAR)), ('Bob', 200, 'eu-west'))
        |  t(name, value, region)
        |ORDER BY name""".stripMargin,

    "ing22_pdf" ->
      s"""SELECT page, text, ${fn}'docs/report.pdf' AS file_name,
        |  md5(${fn}'docs/report.pdf') AS log_id
        |FROM (VALUES
        |  (1, 'Quarterly ingestion report'),
        |  (2, 'Revenue 1234' || chr(10) || 'Costs 567'),
        |  (3, 'Appendix: notes (v2)')) t(page, text)
        |ORDER BY page""".stripMargin,

    // same texts through the PDF 1.5 container: the layout must not
    // leak into the extraction
    "ing23_pdf_objstm" ->
      s"""SELECT page, text, ${fn}'docs/report15.pdf' AS file_name,
        |  md5(${fn}'docs/report15.pdf') AS log_id
        |FROM (VALUES
        |  (1, 'Quarterly ingestion report'),
        |  (2, 'Revenue 1234' || chr(10) || 'Costs 567'),
        |  (3, 'Appendix: notes (v2)')) t(page, text)
        |ORDER BY page""".stripMargin,

    "ing27_pdf_tiff_predictor" ->
      s"""SELECT page, text, ${fn}'docs/report15t.pdf' AS file_name,
        |  md5(${fn}'docs/report15t.pdf') AS log_id
        |FROM (VALUES
        |  (1, 'Quarterly ingestion report'),
        |  (2, 'Revenue 1234' || chr(10) || 'Costs 567'),
        |  (3, 'Appendix: notes (v2)')) t(page, text)
        |ORDER BY page""".stripMargin,

    "ing09_audit_log" ->
      """SELECT md5(file_name) AS log_id, file_name, status, has_end_time
        |FROM (VALUES ('data-ingestion-bucket/data/bad.pdf', 'Failed', true),
        |             ('data-ingestion-bucket/data/test.csv', 'Success', true))
        |  t(file_name, status, has_end_time)
        |ORDER BY file_name""".stripMargin,
  )
}
