package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Caches

/** End-of-run hygiene and the memo/artifact registry behind it: after
  * exercising the cache-heavy and artifact-writing query paths,
  * Caches.clearAll must leave zero persisted RDDs, zero `graft_*`
  * tables, none of the registry's dirs and no registered rewrite rule
  * — the invariant the harness mains rely on in a long-lived session. */
class CachesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  def run(names: String*): Unit =
    names.foreach(n => SparkEntry.queries(n)(spark, sf).collect())

  def graftTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSeq

  def mvRules(s: org.apache.spark.sql.SparkSession): Seq[graft.plans.SummaryRewrite] =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      .extraOptimizations.collect { case r: graft.plans.SummaryRewrite => r }

  def artifact(name: String): Caches.Artifact = {
    val hits = Caches.artifacts.filter(_.name == name)
    assert(hits.size == 1, s"$name: ${Caches.artifacts}")
    hits.head
  }

  test("clearAll leaves no persistent RDDs after cache-heavy queries") {
    // q26: Dedup shingle+signature caches; q11: TextQueries memo;
    // q22: Clustering doc-vector memo + fit-loop cache; q52:
    // dedupGroups iterative caches + materialized result cache;
    // q79: bm25's tokenize-explode cache
    run("q26_dedup_minhash", "q11_doc_term_counts", "q22_kmeans_sparse",
      "q52_dedup_groups", "q79_bm25")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the query paths to have cached something")
    Caches.clearAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("clearAll drops the q81/q109 overlap memo: q81 rebuilds its artifact") {
    Caches.clearAll(spark)
    val first = SparkEntry.queries("q81_session_overlap")(spark, sf).collect().toSet
    val built = new java.io.File(artifact("sessoverlap").dir)
    assert(built.list().exists(_.startsWith("part-")), s"no artifact at $built")
    Caches.clearAll(spark)
    assert(!built.exists(), s"$built survived clearAll")
    assert(SparkEntry.queries("q81_session_overlap")(spark, sf).collect().toSet == first)
    val rebuilt = new java.io.File(artifact("sessoverlap").dir)
    assert(rebuilt != built && rebuilt.list().exists(_.startsWith("part-")))
    Caches.clearAll(spark)
  }

  test("end of run: one query per family leaves nothing behind after clearAll") {
    Caches.clearAll(spark)
    run("q11_doc_term_counts", "q22_kmeans_sparse", "q26_dedup_minhash",
      "q52_dedup_groups", "q81_session_overlap", "q122_stream_cdc_upsert",
      "q204_clustering_coef", "q224_mv_rewrite", "q273_bucketed_join",
      "q312_custom_source", "q313_grec_write_roundtrip",
      "q330_grec_limit_pushdown", "q336_grec_stream_sink")
    val held = Caches.artifacts
    // every disk family registered its dir, and the bucketed ones a table
    assert(held.map(_.name) == Set("sessoverlap", "cdc", "copurchase", "mv",
      "bkt_lineitem", "bkt_orders", "grec", "grec_rt", "grec_lim", "grec_ss"))
    assert(held.forall(a => new java.io.File(a.dir).isDirectory))
    assert(graftTables().size == 4, graftTables())
    assert(mvRules(spark).size == 1)
    Caches.clearAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    assert(graftTables().isEmpty, graftTables())
    assert(Caches.artifacts.isEmpty)
    assert(held.forall(a => !new java.io.File(a.dir).exists()), held)
    assert(mvRules(spark).isEmpty)
  }

  test("q224 across a clear: same rows, one rule, read from the rebuilt rollup") {
    Caches.clearAll(spark)
    val s2 = spark.newSession() // isolate the rule registration
    val q224 = SparkEntry.queries("q224_mv_rewrite")
    val first = q224(s2, sf).collect().toSeq
    val firstDir = artifact("mv").dir
    Caches.clearAll(spark)
    val again = q224(s2, sf)
    assert(again.collect().toSeq == first)
    assert(mvRules(s2).size == 1)
    val dir = artifact("mv").dir
    assert(dir != firstDir)
    val plan = again.queryExecution.executedPlan.toString
    assert(plan.contains(s"${new java.io.File(dir).getName}/lineitem_rollup"),
      s"expected the rebuilt summary scan in the plan:\n$plan")
    Caches.clearAll(spark)
    assert(mvRules(s2).isEmpty)
  }

  test("registry: one build per key, separate entries per dir and session, one release") {
    Caches.clearAll(spark)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val releases = scala.collection.mutable.Buffer.empty[String]
    def entry(s: org.apache.spark.sql.SparkSession, d: String): String =
      Caches.memo("spec_probe", s, d) { builds.incrementAndGet(); d }(
        v => releases.synchronized(releases += v))
    val s2 = spark.newSession()
    assert(entry(spark, "/a/b") == "/a/b")
    assert(entry(spark, "/a/b") == "/a/b")
    assert(builds.get == 1, "the same key built twice")
    // punctuation- and case-only differences and a second session are
    // separate keys: each builds its own entry
    val keys = Seq(spark -> "/a_b", spark -> "/data/SF", spark -> "/data/sf",
      s2 -> "/a/b")
    keys.foreach { case (s, d) => entry(s, d) }
    assert(builds.get == 5)
    // disk entries get their own dir and table per key
    val arts = (Seq(spark -> "/a/b") ++ keys).map { case (s, d) =>
      Caches.artifact("spec_disk", s, d)(identity) }
    assert(arts.map(_.dir).distinct.size == 5)
    assert(arts.map(_.table.toLowerCase).distinct.size == 5)
    assert(arts.forall(a => a.table.startsWith("graft_spec_disk_") &&
      new java.io.File(a.dir).getName.startsWith("graft_spec_disk")))
    Caches.clearAll(spark)
    Caches.clearAll(spark)
    assert(releases.sorted == Seq("/a/b", "/a/b", "/a_b", "/data/SF", "/data/sf"))
    assert(arts.forall(a => !new java.io.File(a.dir).exists()))
    // a cleared key builds afresh
    entry(spark, "/a/b")
    assert(builds.get == 6)
    Caches.clearAll(spark)
  }
}
