package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Caches

/** End-of-run cache hygiene: after exercising the cache-heavy query
  * paths (Dedup per-call caches, TF-IDF/doc-vector memos),
  * Caches.clearAll must leave zero persisted RDDs — the invariant the
  * harness mains rely on in a long-lived session. */
class CachesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("clearAll leaves no persistent RDDs after cache-heavy queries") {
    val qs = SparkEntry.queries
    // q26: Dedup shingle+signature caches; q11: TextQueries memo;
    // q22: Clustering doc-vector memo + fit-loop cache; q52:
    // dedupGroups iterative caches + materialized result cache;
    // q79: bm25's tokenize-explode cache
    Seq("q26_dedup_minhash", "q11_doc_term_counts", "q22_kmeans_sparse",
        "q52_dedup_groups", "q79_bm25")
      .foreach(n => qs(n)(spark, TestSession.sf).collect())
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the query paths to have cached something")
    Caches.clearAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("clearAll drops the q81/q109 overlap memo: q81 rebuilds its artifact") {
    val q81 = SparkEntry.queries("q81_session_overlap")
    val dir = new java.io.File(s"/tmp/graft_sessoverlap_${graft.util.Slug(TestSession.sf)}")
    def parts(): Set[String] =
      Option(dir.list()).toSet.flatten.filter(_.startsWith("part-"))
    val first = q81(spark, TestSession.sf).collect().toSet
    val built = parts()
    assert(built.nonEmpty, s"no artifact at $dir")
    Caches.clearAll(spark)
    assert(q81(spark, TestSession.sf).collect().toSet == first)
    // an overwrite writes new part files; a memo hit reads the old ones
    val rebuilt = parts()
    assert(rebuilt.nonEmpty && (built & rebuilt).isEmpty,
      "q81 read the old artifact after clearAll instead of rebuilding it")
  }
}
