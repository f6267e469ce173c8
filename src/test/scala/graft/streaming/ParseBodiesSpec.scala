package graft.streaming

import org.apache.spark.sql.functions.{col, explode, from_json}

import graft.SparkSpec
import graft.domain.FileToProcess

/** EventLoop.parseBodies parses queue envelopes on the driver. The
  * reference is the `from_json` DataFrame path it replaced: for every
  * body shape a queue can deliver, both yield the same files per
  * message. */
class ParseBodiesSpec extends SparkSpec {
  import spark.implicits._

  /** The former Spark-job implementation: from_json with the envelope
    * schema, one row per record with a bucket and a key. */
  private def oracle(bodies: Seq[String]): Map[Int, Seq[FileToProcess]] =
    bodies.zipWithIndex.toDF("body", "idx")
      .select(col("idx"), from_json(col("body"), EventLoop.envelopeSchema).as("env"))
      .select(col("idx"), explode(col("env.Records")).as("r"))
      .select(col("idx"), col("r.s3.bucket.name").as("bucket"), col("r.s3.object.key").as("key"))
      .filter(col("bucket").isNotNull && col("key").isNotNull)
      .collect()
      .groupBy(_.getInt(0)).view
      .mapValues(_.toSeq.map(r => FileToProcess(r.getString(1), r.getString(2)))).toMap

  private def rec(bucket: String, key: String): String =
    s"""{"s3":{"bucket":{"name":$bucket},"object":{"key":$key}}}"""

  private val bodies = Seq(
    "one record" -> s"""{"Records":[${rec("\"b\"", "\"drops/a.csv\"")}]}""",
    "multi-record" -> s"""{"Records":[${rec("\"b\"", "\"k1\"")},${rec("\"c\"", "\"k2\"")},${rec("\"b\"", "\"k3\"")}]}""",
    "malformed" -> """{"Records":[{"s3":{"bucket":{"name":"b"},"object":{"key":"k""",
    "not json" -> "hello",
    "empty body" -> "",
    "array root" -> s"""[{"Records":[${rec("\"b\"", "\"k\"")}]}]""",
    "scalar root" -> "42",
    "empty Records" -> """{"Records":[]}""",
    "null Records" -> """{"Records":null}""",
    "Records not an array" -> s"""{"Records":${rec("\"b\"", "\"k\"")}}""",
    "no Records" -> """{"Event":"s3:TestEvent"}""",
    "number record" -> s"""{"Records":[1, ${rec("\"b\"", "\"k\"")}]}""",
    "string record" -> s"""{"Records":[${rec("\"b\"", "\"k\"")}, "x"]}""",
    "null record" -> s"""{"Records":[null, ${rec("\"b\"", "\"k\"")}]}""",
    "nested array record" -> s"""{"Records":[[${rec("\"b\"", "\"k\"")}]]}""",
    "s3 not an object" -> s"""{"Records":[{"s3":"b/k"}, ${rec("\"b\"", "\"k\"")}]}""",
    "missing bucket" -> s"""{"Records":[{"s3":{"object":{"key":"k"}}},${rec("\"b\"", "\"k2\"")}]}""",
    "missing key" -> s"""{"Records":[{"s3":{"bucket":{"name":"b"}}}]}""",
    "null key" -> s"""{"Records":[${rec("\"b\"", "null")}]}""",
    "numeric key" -> s"""{"Records":[${rec("\"b\"", "123")}]}""",
    "float and boolean" -> s"""{"Records":[${rec("true", "1.5e2")}]}""",
    "object key" -> s"""{"Records":[${rec("\"b\"", """{"x": [1, 2]}""")}]}""",
    "escapes and unicode" -> s"""{"Records":[${rec("\"b\"", "\"dir/caf\\u00e9 \\\"q\\\".csv\"")}]}""",
    "extra fields" -> s"""{"Records":[{"eventName":"ObjectCreated:Put","s3":{"bucket":{"name":"b","arn":"x"},"object":{"key":"k","size":3}}}]}""",
    "single quotes" -> """{'Records':[{'s3':{'bucket':{'name':'b'},'object':{'key':'k'}}}]}""")

  bodies.foreach { case (name, body) =>
    test(s"parseBodies matches the from_json path: $name") {
      assert(EventLoop.parseBodies(Seq(body)) == oracle(Seq(body)))
    }
  }

  test("parseBodies keeps each message's files under its own index") {
    val all = bodies.map(_._2)
    assert(EventLoop.parseBodies(all) == oracle(all))
  }
}
