package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.text.{Dictionary, TfIdf, Tokenizer, TopK}
import graft.cluster.{KMeans2D, KMeansParallel, KMeansSparse}
import graft.ops.Graph

/** Layer passes of the traced run. Each public function of a layer is
  * called on the persisted output of the stage before it, inside its own
  * span and job group, so the span's time is that function's own work.
  * They run after the timed pass and are not part of its wall time. */
object Staged {
  def run(spark: SparkSession, data: String, r: Recorder, kind: String): Seq[(String, Double)] =
    kind match {
      case "text" => text(spark, data, r)
      case "loops" => loops(spark, data, r)
      case _ => Nil
    }

  private def step[T](spark: SparkSession, r: Recorder, name: String)(body: => T): (T, Double, Long) = {
    val sc = spark.sparkContext
    val group = s"staged:$name"
    sc.setJobGroup(group, group)
    val id = r.openGroup(group, name, "staged", -1, name)
    try {
      val v = body
      val sec = r.close(id)
      org.apache.spark.perfbench.BusFlush(sc)
      (v, sec, r.byGroup.get(group).map(_.jobs).getOrElse(0L))
    } finally sc.clearJobGroup()
  }

  private def kept(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  def text(spark: SparkSession, data: String, r: Recorder): Seq[(String, Double)] = {
    val docs = kept(Tables.documents(spark, data))._1
    val ((tokens, nTokens), tokS, _) = step(spark, r, "text.tokenize")(kept(Tokenizer.tokens(docs, "text")))
    val ((nPairs, filtered, nKept), countS, _) = step(spark, r, "text.count") {
      val (counts, n) = kept(TfIdf.termCounts(tokens, "doc_id"))
      val (f, k) = kept(TfIdf.filterMin(counts, graft.queries.TextQueries.MinCount))
      (n, f, k)
    }
    val ((tfidf, nnz), tfidfS, _) = step(spark, r, "text.tfidf")(
      kept(TfIdf.tfidf(TfIdf.tf(filtered, "doc_id"), TfIdf.idf(filtered, "doc_id"))))
    val (_, docvecS, _) = step(spark, r, "text.docvec")(kept(TfIdf.docVectors(tfidf, "doc_id")))
    val ((_, vocab), dictS, _) = step(spark, r, "text.dict")(
      kept(Dictionary.denseIdsScalable(tokens.select(col("token").as("term")), "term")))
    val (_, topkS, _) = step(spark, r, "text.topk") {
      TopK.global(tfidf, "term", "tfidf", 10).collect()
      TopK.perGroup(tfidf, "doc_id", "term", "tfidf", 5).count()
    }
    graft.util.Caches.clearAll(spark)
    Seq(
      "text.tokenize_s" -> tokS, "text.count_s" -> countS, "text.tfidf_s" -> tfidfS,
      "text.docvec_s" -> docvecS, "text.dict_s" -> dictS, "text.topk_s" -> topkS,
      "text.tokens" -> nTokens.toDouble, "text.vocab" -> vocab.toDouble,
      "text.nnz" -> nnz.toDouble,
      "text.filter_keep_ratio" -> nKept.toDouble / math.max(1L, nPairs))
  }

  val Lloyd2dMaxIter = 20
  val SparseMaxIter = 10
  val PageRankIters = 10
  val LabelPropIters = 5

  def loops(spark: SparkSession, data: String, r: Recorder): Seq[(String, Double)] = {
    val points = kept(Tables.customer(spark, data).select(
      col("c_acctbal").as("x"), (col("c_custkey") % 100).cast("double").as("y")))._1
    val init2d = IndexedSeq((0.0, 50.0), (4000.0, 20.0), (9000.0, 80.0))
    val ((_, it2d), lloydS, lloydJobs) = step(spark, r, "cluster.lloyd2d")(
      KMeans2D.fit(points, "x", "y", init2d, Lloyd2dMaxIter, tol = 0.0))
    val vecs = kept(graft.queries.Clustering.docVectors(spark, data))._1
    val init = KMeansSparse.seedByMinId(vecs, "doc_id", "vec", 5)
    val ((_, itSparse), sparseS, sparseJobs) = step(spark, r, "cluster.sparse")(
      KMeansSparse.fit(vecs, "vec", init, SparseMaxIter, convSim = 1.0))
    val (_, parS, _) = step(spark, r, "cluster.par_init")(
      KMeansParallel.init(vecs, "doc_id", "vec", k = 5, l = 8))
    val edges = kept(Tables.lineitem(spark, data).select(
      col("l_partkey").as("src"), (lit(1000000L) + col("l_suppkey")).as("dst")))._1
    val (_, prS, _) = step(spark, r, "ops.pagerank")(
      Graph.pageRankExact(edges, PageRankIters).count())
    val (_, lpS, _) = step(spark, r, "ops.labelprop")(
      Graph.labelPropagation(edges, LabelPropIters).count())
    graft.util.Caches.clearAll(spark)
    Seq(
      "cluster.lloyd2d_iters" -> it2d.toDouble,
      "cluster.lloyd2d_iter_s" -> lloydS / it2d,
      "cluster.sparse_iters" -> itSparse.toDouble,
      "cluster.sparse_iter_s" -> sparseS / itSparse,
      "cluster.par_init_s" -> parS,
      "cluster.jobs_per_iter" -> (lloydJobs + sparseJobs).toDouble / (it2d + itSparse),
      "ops.pagerank_iter_s" -> prS / PageRankIters,
      "ops.labelprop_iter_s" -> lpS / LabelPropIters)
  }
}
