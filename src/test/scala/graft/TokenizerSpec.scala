package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object TestSession {
  lazy val spark: SparkSession = Harness.session(cores = 4)
  val sf = "/root/testdata/sf0.001"
}

class TokenizerSpec extends AnyFunSuite {
  import graft.text.Tokenizer

  lazy val spark = TestSession.spark

  test("tokenizer order: lower -> strip punct -> split -> filter") {
    import spark.implicits._
    val df = Seq((1L, "The QUICK, brown fox! a the end")).toDF("doc_id", "text")
    val toks = Tokenizer.tokens(df, "text", Seq("the", "a"))
      .select("token").as[String].collect().toSeq
    // "The"->"the" dropped as stop word only AFTER lowering; "fox!"->"fox"
    assert(toks == Seq("quick", "brown", "fox", "end"))
  }

  test("empty tokens dropped") {
    import spark.implicits._
    val df = Seq((1L, "  x   y  ")).toDF("doc_id", "text")
    val toks = Tokenizer.tokens(df, "text", Nil)
      .select("token").as[String].collect().toSeq
    assert(toks == Seq("x", "y"))
  }
}

class TfIdfSpec extends AnyFunSuite {
  import graft.text.{Tokenizer, TfIdf}
  import org.apache.spark.sql.functions._

  lazy val spark = TestSession.spark

  test("tf sums to 1 per doc; idf = ln(N/df)") {
    import spark.implicits._
    val df = Seq(
      (1L, "x x y z"), (2L, "x y y"), (3L, "z z z")
    ).toDF("doc_id", "text")
    val counts = TfIdf.termCounts(Tokenizer.tokens(df, "text", Nil), "doc_id")
    val tf = TfIdf.tf(counts, "doc_id")
    val sums = tf.groupBy("doc_id").agg(sum("tf").as("s"))
      .select("s").as[Double].collect()
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-12))
    val idf = TfIdf.idf(counts, "doc_id").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // N=3 docs; x in 2, y in 2, z in 2
    assert(math.abs(idf("x") - math.log(3.0 / 2)) < 1e-9)
  }

  test("end-to-end pipeline row count on sf0.001 documents") {
    val docs = graft.io.Tables.documents(spark, TestSession.sf)
    val out = TfIdf.pipeline(Tokenizer.tokens(docs, "text"), "doc_id", 2)
    assert(out.count() > 0)
    assert(out.columns.contains("tfidf"))
  }
}

class QuerySmokeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("all declared queries run at sf0.001 and return rows") {
    val empty = SparkEntry.queries.flatMap { case (name, fn) =>
      val n = fn(spark, TestSession.sf).count()
      if (n == 0 && name != "q10_customers_without_orders") Some(name) else None
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
  }

  test("every oracle key has a query") {
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty, s"oracles without queries: $orphan")
  }
}
