package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The shared harness: its JSON escaper, its per-query timer and
  * Bench's timed region run over a subset of queries. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val mapper = new ObjectMapper()

  def unquote(json: String): String = mapper.readValue(json, classOf[String])

  test("jsonString round-trips quotes, backslashes and every control char") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    for (s <- Seq("", "plain", "say \"hi\"", "C:\\tmp\\", "\\\"", controls,
                  "tab\there\r\nline", "é ü \u2028 \ud83d\ude00"))
      assert(unquote(Harness.jsonString(s)) == s)
    val ch = Gen.frequency(3 -> Gen.choose(0.toChar, 0x7f.toChar),
      1 -> Gen.oneOf('"', '\\', '\n', '\r', '\t', '\b', '\f', '\u0000', 'é'))
    val seed = org.scalacheck.rng.Seed(7L)
    Iterator.iterate(seed)(_.next).take(300).foreach { sd =>
      Gen.listOf(ch).map(_.mkString).apply(Gen.Parameters.default, sd)
        .foreach(s => assert(unquote(Harness.jsonString(s)) == s))
    }
  }

  test("timedOne records a throwing query and drops only stream_* views") {
    val errors = new Harness.Errors()
    Harness.timedOne(spark, TestSession.sf, errors)("views", (s, _) => {
      s.range(3).createOrReplaceTempView("stream_harness_probe")
      s.range(3).createOrReplaceTempView("keep_harness_probe")
      s.range(3).toDF()
    })
    assert(!spark.catalog.tableExists("stream_harness_probe"))
    assert(spark.catalog.tableExists("keep_harness_probe"))
    spark.catalog.dropTempView("keep_harness_probe")
    assert(errors.isEmpty)
    Harness.timedOne(spark, TestSession.sf, errors)("thrower",
      (_, _) => throw new IllegalStateException("no \"table\"\n"))
    assert(errors.asScala == Map("thrower" -> "no \"table\"\n"))
  }

  test("timedOne leaves none of q335's temp views behind") {
    def views(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views()
    val errors = new Harness.Errors()
    Harness.timedOne(spark, TestSession.sf, errors)("q335_grec_stream_read",
      SparkEntry.queries("q335_grec_stream_read"))
    assert(errors.isEmpty, errors)
    assert(views() -- before == Set.empty)
  }

  // One timed region over a subset, as `graft.Run bench` runs it: a
  // batch query and a streaming query (both spied for the session they
  // get) and a query that throws.
  val message = "bad \"input\"\n\tat C:\\data\u0001"
  lazy val (line, nErrors, seen) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkSession)]()
    def spy(n: String): Harness.Query = (s, d) => {
      seen.add(n -> s); SparkEntry.queries(n)(s, d)
    }
    val queries = SparkEntry.queries ++
      Seq("q02_filter_project", "q41_stream_hourly").map(n => n -> spy(n)) +
      ("q00_throws" -> ((_: SparkSession, _: String) => throw new RuntimeException(message)))
    val (line, n) = Harness.timedRegion(spark, TestSession.sf,
      Seq("q41_stream_hourly", "q00_throws", "q02_filter_project"), queries)
    (line, n, seen.asScala.toSeq)
  }

  test("timed region: the line parses and carries Bench's keys") {
    val j = mapper.readTree(line)
    assert(j.fieldNames().asScala.toSeq ==
      Seq("metric", "value", "unit", "queries", "sf", "errors", "summary"))
    assert(j.get("queries").fieldNames().asScala.toSeq ==
      Seq("q00_throws", "q02_filter_project", "q41_stream_hourly"))
    assert(j.get("summary").fieldNames().asScala.toSeq == Seq("n", "total_sec",
      "batch_total_sec", "median_sec", "max_sec", "slowest", "control_q02_sec",
      "streaming_group_wall_sec", "streaming_iso_control_sec",
      "streaming_isolated", "comparable_fields", "n_errors"))
    assert(j.get("summary").get("streaming_isolated").fieldNames().asScala.toSeq ==
      Seq("q41_stream_hourly"))
  }

  test("timed region: a throwing query is an error, not a green pass") {
    val j = mapper.readTree(line)
    assert(nErrors == 1)
    assert(j.get("summary").get("n_errors").asInt == 1)
    assert(j.get("errors").get("q00_throws").asText == message)
  }

  test("timed region: streaming queries get a new session, batch ones the caller's") {
    val stream = seen.filter(_._1 == "q41_stream_hourly").map(_._2)
    val batch = seen.filter(_._1 == "q02_filter_project").map(_._2)
    // two timed passes plus the isolated pass
    assert(stream.size == 3 && stream.forall(_ ne spark))
    assert(stream.distinct.size == 3)
    assert(batch.size == 2 && batch.forall(_ eq spark))
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("stream_")))
  }
}
