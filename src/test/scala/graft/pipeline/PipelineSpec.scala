package graft.pipeline

import java.nio.file.Files
import graft.SparkSpec
import graft.domain._
import graft.rules.RuleMatcher
import graft.sinks.{ParquetLogRepository, ParquetSink}
import graft.sources.LocalFileSource

/** End-to-end pipeline behavior (reference ingestion_service.rs:36-127),
  * including the deliberate deviation: early failures ARE logged. */
class PipelineSpec extends SparkSpec {

  private def freshPipeline() = {
    val base = Files.createTempDirectory("pipe_spec")
    val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = fn => s"log-$fn")
    val sink = new ParquetSink(base.resolve("sink").toString)
    val pipeline = new IngestionPipeline(
      new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules), sink, logs)
    (base, pipeline, logs, sink)
  }

  test("happy path: parse, enrich, sink, log success") {
    val (base, pipeline, logs, sink) = freshPipeline()
    val bucket = "b"
    Files.createDirectories(base.resolve(bucket).resolve("data"))
    Files.writeString(base.resolve(bucket).resolve("data/t.csv"), "name,age\nA,1\nB,2\n")
    val result = pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv"))
    assert(result.targetTable == "csv_data")
    assert(result.rowsWritten == 2)
    val stored = spark.read.parquet(sink.tablePath("csv_data"))
    assert(stored.columns.toSet == Set("name", "age", "file_name", "log_id"))
    assert(stored.filter("file_name = 'b/data/t.csv'").count() == 2)
    assert(stored.filter(s"log_id = '${result.logId}'").count() == 2)
    val log = logs.all.head
    assert(log.status == IngestionStatus.Success && log.endTime.isDefined)
  }

  test("no matching rule -> NoMatchingRule, logged as Failed (deviation: reference skipped the log)") {
    val (base, pipeline, logs, _) = freshPipeline()
    Files.createDirectories(base.resolve("b"))
    Files.writeString(base.resolve("b").resolve("x.zzz"), "data")
    assertThrows[IngestionError.NoMatchingRule](
      pipeline.processFile(spark, FileToProcess("b", "x.zzz")))
    val log = logs.all.head
    assert(log.status == IngestionStatus.Failed)
    assert(log.message.exists(_.contains("no matching")))
  }

  test("missing object -> SourceError, logged as Failed") {
    val (_, pipeline, logs, _) = freshPipeline()
    assertThrows[IngestionError.SourceError](
      pipeline.processFile(spark, FileToProcess("b", "data/ghost.csv")))
    assert(logs.all.head.status == IngestionStatus.Failed)
  }

  test("schema accumulation: files with different headers coexist in one table") {
    val (base, pipeline, _, sink) = freshPipeline()
    Files.createDirectories(base.resolve("b").resolve("data"))
    Files.writeString(base.resolve("b").resolve("data/a.csv"), "name,age\nA,1\n")
    Files.writeString(base.resolve("b").resolve("data/b.csv"), "name,city\nB,NYC\n")
    pipeline.processFile(spark, FileToProcess("b", "data/a.csv"))
    pipeline.processFile(spark, FileToProcess("b", "data/b.csv"))
    val merged = spark.read.option("mergeSchema", "true").parquet(sink.tablePath("csv_data"))
    assert(merged.columns.toSet == Set("name", "age", "city", "file_name", "log_id"))
    assert(merged.count() == 2)
  }

  test("sink: missed listener event falls back to footer counts, not a thrown failure") {
    import spark.implicits._
    val base = Files.createTempDirectory("sink_spec")
    // metricWaitSeconds = 0: the await virtually always expires before the
    // async listener bus delivers, forcing the committed-footer fallback.
    val sink = new ParquetSink(base.resolve("sink").toString, metricWaitSeconds = 0)
    assert(sink.write(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v"), "t") == 3)
    // Append a second write: fallback must count only the NEW files.
    assert(sink.write(Seq(("d", 4)).toDF("k", "v"), "t") == 1)
    assert(spark.read.parquet(sink.tablePath("t")).count() == 4)
  }

  test("couchdb wire sink: ingests through _bulk_docs with the same audit lifecycle") {
    import graft.sinks.{CouchDbSink, StubCouchServer}
    val server = new StubCouchServer
    try {
      val base = Files.createTempDirectory("couch_spec")
      val bucket = "b"
      Files.createDirectories(base.resolve(bucket).resolve("data"))
      Files.writeString(base.resolve(bucket).resolve("data/t.csv"), "name,age\nA,1\nB,2\n")
      val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = fn => s"log-$fn")
      val pipeline = new IngestionPipeline(
        new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules),
        new CouchDbSink(server.baseUrl), logs)
      val result = pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv"))
      assert(result.rowsWritten == 2)
      // docs landed in the db named after the target table, enriched
      val docs = server.docs(result.targetTable)
      assert(docs.size == 2)
      assert(docs.forall(_.contains("\"log_id\"")))
      assert(docs.forall(_.contains("\"file_name\"")))
      // audit log closed as Success
      val log = logs.all.find(_.logId == result.logId).get
      assert(log.status == IngestionStatus.Success && log.endTime.isDefined)
    } finally server.stop()
  }

  test("couchdb wire sink: HTTP failure propagates as DatabaseError, logged as Failed") {
    import graft.sinks.{CouchDbSink, StubCouchServer}
    val server = new StubCouchServer
    try {
      val base = Files.createTempDirectory("couch_fail")
      val bucket = "b"
      Files.createDirectories(base.resolve(bucket).resolve("data"))
      Files.writeString(base.resolve(bucket).resolve("data/t.csv"), "name,age\nA,1\n")
      val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = fn => s"log-$fn")
      val pipeline = new IngestionPipeline(
        new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules),
        new CouchDbSink(server.baseUrl), logs)
      server.failNextRequest()
      val err = intercept[org.apache.spark.SparkException](
        pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv")))
      assert(err.getMessage.contains("HTTP 500") ||
        Option(err.getCause).exists(_.getMessage.contains("HTTP 500")))
      val log = logs.all.head
      assert(log.status == IngestionStatus.Failed)
    } finally server.stop()
  }

  test("couchdb wire sink: batches cap request size; all docs still arrive") {
    import spark.implicits._
    import graft.sinks.{CouchDbSink, StubCouchServer}
    val server = new StubCouchServer
    try {
      val sink = new CouchDbSink(server.baseUrl, batchSize = 7)
      val n = sink.write((1 to 100).map(i => (s"k$i", i)).toDF("k", "v"), "batched")
      assert(n == 100)
      assert(server.docs("batched").size == 100)
    } finally server.stop()
  }

  test("mongo wire sink: ingests through OP_MSG with the same audit lifecycle") {
    import graft.sinks.{MongoDbSink, StubMongoServer}
    val server = new StubMongoServer
    try {
      val base = Files.createTempDirectory("mongo_spec")
      val bucket = "b"
      Files.createDirectories(base.resolve(bucket).resolve("data"))
      Files.writeString(base.resolve(bucket).resolve("data/t.csv"), "name,age\nA,1\nB,2\n")
      val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = fn => s"log-$fn")
      val pipeline = new IngestionPipeline(
        new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules),
        new MongoDbSink(server.host, server.port, "ingestion_db"), logs)
      val result = pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv"))
      assert(result.rowsWritten == 2)
      // docs landed in db.collection named after the target table, enriched
      val docs = server.docs("ingestion_db", result.targetTable)
      assert(docs.size == 2)
      assert(docs.forall(_.contains("\"log_id\"")))
      assert(docs.forall(_.contains("\"file_name\"")))
      val log = logs.all.find(_.logId == result.logId).get
      assert(log.status == IngestionStatus.Success && log.endTime.isDefined)
    } finally server.stop()
  }

  test("mongo wire sink: ok=0 reply propagates as DatabaseError, logged as Failed") {
    import graft.sinks.{MongoDbSink, StubMongoServer}
    val server = new StubMongoServer
    try {
      val base = Files.createTempDirectory("mongo_fail")
      val bucket = "b"
      Files.createDirectories(base.resolve(bucket).resolve("data"))
      Files.writeString(base.resolve(bucket).resolve("data/t.csv"), "name,age\nA,1\n")
      val logs = new ParquetLogRepository(base.resolve("logs").toString, idGen = fn => s"log-$fn")
      val pipeline = new IngestionPipeline(
        new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules),
        new MongoDbSink(server.host, server.port, "ingestion_db"), logs)
      server.failNextRequest()
      val err = intercept[org.apache.spark.SparkException](
        pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv")))
      assert(err.getMessage.contains("injected") ||
        Option(err.getCause).exists(_.getMessage.contains("injected")))
      val log = logs.all.head
      assert(log.status == IngestionStatus.Failed)
    } finally server.stop()
  }

  test("mongo wire sink: count and byte budgets both cap batches; all docs arrive") {
    import spark.implicits._
    import graft.sinks.{MongoDbSink, StubMongoServer}
    val server = new StubMongoServer
    try {
      val sink = new MongoDbSink(server.host, server.port, "ingestion_db", batchSize = 7)
      val n = sink.write((1 to 100).map(i => (s"k$i", i)).toDF("k", "v"), "batched")
      assert(n == 100)
      assert(server.docs("ingestion_db", "batched").size == 100)
      // byte budget: ~60-byte docs against a 100-byte budget -> batches
      // of 1, never a doc dropped or a multi-doc over-budget message
      val tiny = new MongoDbSink(server.host, server.port, "ingestion_db",
        batchSize = 1000, batchBytes = 100)
      val m = tiny.write((1 to 20).map(i => (s"key$i", "x" * 40)).toDF("k", "pad"), "bytecap")
      assert(m == 20)
      assert(server.docs("ingestion_db", "bytecap").size == 20)
    } finally server.stop()
  }

  test("mongo wire sink: redelivered file writes idempotently with deterministic ids") {
    import graft.sinks.{MongoDbSink, StubMongoServer}
    val server = new StubMongoServer
    try {
      val base = Files.createTempDirectory("mongo_redeliver")
      val bucket = "b"
      Files.createDirectories(base.resolve(bucket).resolve("data"))
      Files.writeString(base.resolve(bucket).resolve("data/t.csv"), "name,age\nA,1\nB,2\n")
      var call = 0
      val logs = new ParquetLogRepository(base.resolve("logs").toString,
        idGen = fn => { call += 1; s"log-$fn-$call" })
      // file_name + name uniquely identify a row in this fixture
      val pipeline = new IngestionPipeline(
        new LocalFileSource(base.toString), new RuleMatcher(RuleMatcher.seedRules),
        new MongoDbSink(server.host, server.port, "ingestion_db",
          deterministicIdColumns = Seq("file_name", "name")), logs)
      val first = pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv"))
      assert(first.rowsWritten == 2)
      // SQS at-least-once: the same file event arrives again
      val again = pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv"))
      assert(again.rowsWritten == 2, "redelivery reports the file as fully written")
      val docs = server.docs("ingestion_db", first.targetTable)
      assert(docs.size == 2, s"no duplicates stored, got ${docs.size}")
    } finally server.stop()
  }

  test("full mongo deployment: config find + data insert + audit log, one wire server") {
    import graft.sinks.{MongoDbSink, MongoLogRepository, MongoWire, StubMongoServer}
    import graft.rules.MongoConfigRepository
    val server = new StubMongoServer
    try {
      val base = Files.createTempDirectory("mongo_full")
      val bucket = "b"
      Files.createDirectories(base.resolve(bucket).resolve("data"))
      Files.writeString(base.resolve(bucket).resolve("data/t.csv"), "name,age\nA,1\nB,2\n")
      // seed routing rules the way migration.js does
      val sock = new java.net.Socket(server.host, server.port)
      try MongoWire.insertMany(
        new java.io.DataOutputStream(sock.getOutputStream),
        new java.io.DataInputStream(sock.getInputStream),
        "ingestion_db", "ingestion_config",
        Seq("""{"pattern": ".*\\.csv$", "target_table": "csv_data"}"""))
      finally sock.close()
      val pipeline = new IngestionPipeline(
        new LocalFileSource(base.toString),
        new MongoConfigRepository(server.host, server.port, "ingestion_db"),
        new MongoDbSink(server.host, server.port, "ingestion_db"),
        new MongoLogRepository(server.host, server.port, "ingestion_db",
          idGen = fn => s"log-$fn"))
      val result = pipeline.processFile(spark, FileToProcess(bucket, "data/t.csv"))
      assert(result.targetTable == "csv_data" && result.rowsWritten == 2)
      assert(server.docs("ingestion_db", "csv_data").size == 2)
      val stored = server.docs("ingestion_db", "ingestion_logs")
      assert(stored.size == 1)
      assert(stored.head.contains("\"status\":\"Success\""))
      assert(!stored.head.contains("\"end_time\":null"))
    } finally server.stop()
  }

  test("sink factory mirrors the reference's DATABASE_TYPE selection") {
    import graft.sinks.{CouchDbSink, MongoDbSink, SinkFactory}
    val dir = Files.createTempDirectory("factory").toString
    assert(SinkFactory.fromEnv(Map("DATABASE_TYPE" -> "couchdb"), dir).isInstanceOf[CouchDbSink])
    // with an endpoint configured, mongodb/documentdb (and the unknown
    // fall-through, like the reference's match arm) select the wire sink
    assert(SinkFactory.fromEnv(
      Map("DATABASE_TYPE" -> "mongodb", "MONGODB_URI" -> "mongodb://h:27017"), dir)
      .isInstanceOf[MongoDbSink])
    assert(SinkFactory.fromEnv(
      Map("DATABASE_TYPE" -> "documentdb", "DOCUMENTDB_URI" -> "mongodb://h:27017"), dir)
      .isInstanceOf[MongoDbSink])
    assert(SinkFactory.fromEnv(
      Map("MONGODB_URI" -> "mongodb://h"), dir).isInstanceOf[MongoDbSink])
    // without a URI the offline parquet stand-in preserves the contract
    Seq(Map("DATABASE_TYPE" -> "mongodb"), Map("DATABASE_TYPE" -> "documentdb"),
      Map.empty[String, String], Map("DATABASE_TYPE" -> "weird")).foreach { env =>
      assert(SinkFactory.fromEnv(env, dir).isInstanceOf[ParquetSink])
    }
  }

  test("audit log update of unknown id errors (log_repo.rs:74-84)") {
    val (_, _, logs, _) = freshPipeline()
    assertThrows[IngestionError.DatabaseError](
      logs.updateLog("nope", new java.sql.Timestamp(0), IngestionStatus.Success, None))
  }

  test("enrich: file_name then log_id, a parsed column of either name replaced in place") {
    val (_, pipeline, _, _) = freshPipeline()
    import spark.implicits._
    val parsed = Seq(("a", "parsed")).toDF("x", "file_name")
    val out = pipeline.enrich(parsed, FileToProcess("b", "k.csv"), "log-1")
    assert(out.columns.toSeq == Seq("x", "file_name", "log_id"))
    assert(out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "b/k.csv", "log-1")))
    assert(pipeline.enrich(Seq("a").toDF("x"), FileToProcess("b", "k.csv"), "log-1").columns.toSeq ==
      Seq("x", "file_name", "log_id"))
  }
}
