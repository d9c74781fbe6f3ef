package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source-format coverage beyond parquet: JSON lines and CSV with
  * explicit fail-fast schemas (a complete engine ingests all three),
  * plus sketch aggregates (the 100-TB form of distinct counting).
  */
class SourceFormatSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("JSON-lines round-trip: explicit schema, FAILFAST, same rows as parquet") {
    val docs = Tables.documents(spark, sf)
    val dir = tmp("json")
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).option("mode", "FAILFAST").json(dir)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("CSV round-trip: header + quoted text survive, schema enforced") {
    val docs = Tables.documents(spark, sf)
    val dir = tmp("csv")
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(docs.schema)
      .option("header", "true").option("mode", "FAILFAST").csv(dir)
    assert(back.count() == docs.count())
    // text contains commas/punctuation — quoting must round-trip it
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("JSONL quarantine ingest: torn lines route raw to the store, good rows flow typed") {
    import org.apache.spark.sql.types._
    val base = tmp("jsonl-quar")
    val in = s"$base/in"; val quar = s"$base/quarantine"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // 3 good lines, 2 corrupt: a torn (truncated) line and plain garbage
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "beta"}""",
      """{"doc_id": 3, "te""",
      """not json at all""",
      """{"doc_id": 4, "text": "gamma"}""")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    // fresh store: the repair queue reads empty, not a crash
    assert(graft.sources.JsonlIngest.quarantined(spark, quar).count() == 0L)
    val good = graft.sources.JsonlIngest.readWithQuarantine(
      spark, in, schema, quar, "r1")
    assert(good.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "alpha"), (2L, "beta"), (4L, "gamma")))
    // quarantined lines are the raw bytes, verbatim — repairable —
    // tagged with the delivery they came from
    val bad = graft.sources.JsonlIngest.quarantined(spark, quar)
      .as[(String, String)].collect().sorted.toSeq
    assert(bad == Seq(("r1", """not json at all"""),
      ("r1", """{"doc_id": 3, "te""")), bad.toString)
    // at-least-once re-delivery replaces its own run, never doubles
    graft.sources.JsonlIngest.readWithQuarantine(spark, in, schema, quar, "r1")
      .foreach(_ => ())
    assert(graft.sources.JsonlIngest.quarantined(spark, quar).count() == 2L)
    // a SECOND delivery accumulates alongside, keyed by its own run
    val in2 = s"$base/in2"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in2))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in2/part-0.jsonl"),
      "{\"torn".getBytes("UTF-8"))
    graft.sources.JsonlIngest.readWithQuarantine(spark, in2, schema, quar, "r2")
      .foreach(_ => ())
    assert(graft.sources.JsonlIngest.quarantined(spark, quar)
      .as[(String, String)].collect().sorted.toSeq ==
      (bad :+ (("r2", "{\"torn"))).sorted, "second run must accumulate")
    // the FAILFAST stance on the same file dies — the two postures
    // are deliberately different tools
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST").json(in).collect()
    }
  }

  test("CSV quarantine twin: type-torn lines route raw, good rows flow typed") {
    import org.apache.spark.sql.types._
    val base = tmp("csv-quar")
    val in = s"$base/in"; val quar = s"$base/quarantine"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val lines = Seq(
      "doc_id,text",
      "1,alpha",
      "x,beta", // doc_id not a long — the parser tears the line
      "2,\"gamma, quoted\"")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/part-0.csv"),
      lines.mkString("\n").getBytes("UTF-8"))
    val good = graft.sources.JsonlIngest.readCsvWithQuarantine(
      spark, in, schema, quar, "r1")
    assert(good.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "alpha"), (2L, "gamma, quoted")))
    // the header line is NOT quarantined; the torn line is, verbatim
    assert(graft.sources.JsonlIngest.quarantined(spark, quar)
      .as[(String, String)].collect().toSeq == Seq(("r1", "x,beta")))
  }

  test("CSV header contract: variant headers skip cleanly; a headerless file keeps its first data line") {
    import org.apache.spark.sql.types._
    val base = tmp("csv-hdr")
    val in = s"$base/in"; val quar = s"$base/quarantine"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    // file A: header with quotes, spaces and case drift — parsed-token
    // predicate must recognize it (byte-equality would quarantine it)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.csv"),
      Seq("\"Doc_ID\" , \"TEXT\"", "1,alpha", "", "2,beta")
        .mkString("\n").getBytes("UTF-8"))
    // file B: NO header — its first line is DATA and must survive
    // (the csv reader's header=true would silently swallow it)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.csv"),
      Seq("3,gamma", "4,delta").mkString("\n").getBytes("UTF-8"))
    // file C: a reordered header is OUT of contract — visible in
    // quarantine, never silently dropped
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/c.csv"),
      Seq("text,doc_id", "5,epsilon").mkString("\n").getBytes("UTF-8"))
    val good = graft.sources.JsonlIngest.readCsvWithQuarantine(
      spark, in, schema, quar, "r1")
    assert(good.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
        (4L, "delta"), (5L, "epsilon")))
    assert(graft.sources.JsonlIngest.quarantined(spark, quar)
      .as[(String, String)].collect().toSeq == Seq(("r1", "text,doc_id")))
  }

  test("CSV header collision: a data row equal to the field names quarantines, never vanishes") {
    import org.apache.spark.sql.types._
    val base = tmp("csv-coll")
    val in = s"$base/in"; val quar = s"$base/quarantine"
    // all-string schema — the one place a DATA row can satisfy the
    // header predicate (csvChannel's documented collision corner)
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("kind", StringType)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.csv"),
      Seq("name,kind", "alpha,x", "Name , KIND", "beta,y")
        .mkString("\n").getBytes("UTF-8"))
    val good = graft.sources.JsonlIngest.readCsvWithQuarantine(
      spark, in, schema, quar, "r1")
    assert(good.as[(String, String)].collect().sorted.toSeq ==
      Seq(("alpha", "x"), ("beta", "y")))
    // one header-matching line is consumed as THE header
    // (deterministically the raw-min, here "Name , KIND" — actually a
    // DATA row), and because the file is collided, BOTH
    // header-equivalent lines land in the repair queue: the consumed
    // one as a copy, so its bytes never vanish (round-14 advisor)
    assert(graft.sources.JsonlIngest.quarantined(spark, quar)
      .as[(String, String)].collect().sorted.toSeq ==
      Seq(("r1", "Name , KIND"), ("r1", "name,kind")))
  }

  test("streaming quarantine ingest: streamed == batch on the same delivery, re-delivery idempotent") {
    import org.apache.spark.sql.types._
    val base = tmp("jsonl-stream")
    val in = s"$base/in"; val good = s"$base/good"
    val quar = s"$base/quarantine"; val ck = s"$base/ck"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 3, "te""",
      """{"doc_id": 2, "text": "beta"}""")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/drop-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    graft.streaming.JsonlIngestStream.runOnce(spark, in, good, quar, ck, schema)
    def goodSet = graft.streaming.JsonlIngestStream.goodRows(spark, good, schema)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    def badSet = graft.sources.JsonlIngest.quarantined(spark, quar)
      .select($"raw_line").as[String].collect().toSet
    // streamed == batch ingest of the same delivery (ONE channel)
    val batchGood = graft.sources.JsonlIngest.readWithQuarantine(
        spark, in, schema, s"$base/quar-batch", "r1")
      .as[(Long, String)].collect().toSet
    assert(goodSet == batchGood, s"streamed=$goodSet batch=$batchGood")
    assert(badSet == Set("""{"doc_id": 3, "te"""))
    // a second pass with no new files is a no-op (checkpoint holds)
    graft.streaming.JsonlIngestStream.runOnce(spark, in, good, quar, ck, schema)
    assert(goodSet == batchGood && badSet.size == 1, "no-op re-pass changed stores")
    // re-delivery (fresh checkpoint, same files): batch ids replay
    // and every run=b<id> partition REPLACES itself
    val fs = new org.apache.hadoop.fs.Path(ck)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ck), true)
    graft.streaming.JsonlIngestStream.runOnce(spark, in, good, quar, ck, schema)
    assert(goodSet == batchGood && badSet.size == 1,
      "re-delivered batch duplicated rows")
  }

  test("sketch aggregates: approx_count_distinct within rsd of exact; approx quantiles ordered") {
    val o = Tables.orders(spark, sf)
    val exact = o.select(countDistinct($"o_custkey")).collect()(0).getLong(0)
    val approx = o.select(approx_count_distinct($"o_custkey", 0.02))
      .collect()(0).getLong(0)
    // HLL++ at rsd=0.02: allow 5 sigma
    assert(math.abs(approx - exact).toDouble / exact < 0.10,
      s"approx=$approx exact=$exact")

    val qs = o.stat.approxQuantile("o_totalprice", Array(0.25, 0.5, 0.75), 0.01)
    assert(qs.length == 3 && qs(0) <= qs(1) && qs(1) <= qs(2))
    val (lo, hi) = (o.agg(min($"o_totalprice")).collect()(0).getDouble(0),
      o.agg(max($"o_totalprice")).collect()(0).getDouble(0))
    assert(qs.forall(q => q >= lo && q <= hi))
  }
}
