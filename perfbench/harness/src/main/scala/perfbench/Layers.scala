package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of one traced pass, from the recorder's job groups
  * and spans and from the session's storage and persisted-RDD tables. */
object Layers {
  private val MB = 1048576.0
  private val modules = Seq(
    "Relational" -> graft.queries.Relational.queries.keySet,
    "PipelineOps" -> graft.queries.PipelineOps.queries.keySet,
    "EventQueries" -> graft.queries.EventQueries.queries.keySet,
    "Clustering" -> graft.queries.Clustering.queries.keySet,
    "TextQueries" -> graft.queries.TextQueries.queries.keySet)

  /** Value with at least ten samples above it: the highest percentile
    * the sample supports; the largest value when there are fewer. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size <= 10) s.last else s(s.size - 11)
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def storageMb(spark: SparkSession, ids: Set[Int]): Double =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => i.memSize + i.diskSize).sum / MB

  def pass(spark: SparkSession, r: Recorder, results: Seq[Harness.Result],
           passS: Double, gcS: Double, cpus: Int): Seq[(String, Double)] = {
    org.apache.spark.perfbench.BusFlush(spark.sparkContext)
    val c = new Counters
    r.byGroup.foreach { case (g, v) =>
      if (g.startsWith("build:") || g.startsWith("plan:") || g.startsWith("exec:")) c += v
    }
    val builds = r.byGroup.collect { case (g, v) if g.startsWith("build:") => v.jobs }.sum
    val wall = results.map(q => q.name -> q.sec).toMap
    val byModule = modules.map { case (m, ks) =>
      s"queries.$m.s" -> results.filter(q => ks(q.name)).map(_.sec).sum
    }
    val st = r.stream
    Seq(
      "queries.build_s" -> r.seconds("phase", "build"),
      "queries.build_jobs" -> builds.toDouble,
      "queries.exec_s" -> r.seconds("phase", "exec"),
    ) ++ byModule ++ Seq(
      "plans.plan_s" -> r.seconds("phase", "plan"),
      "io.scan_mb" -> c.inBytes / MB,
      "io.scan_rows" -> c.inRecords.toDouble,
      "io.write_mb" -> c.outBytes / MB,
      "util.cached_mb" -> spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / MB,
      "util.artifact_builds" -> results.map(q => q.artifacts.size + q.tmpArtifacts.size).sum.toDouble,
      "util.artifact_mb" -> storageMb(spark, results.flatMap(_.artifacts).toSet),
      "stream.batches" -> st.batchMs.size.toDouble,
      "stream.batch_p50_s" -> median(st.batchMs.toSeq) / 1e3,
      "stream.batch_tail_s" -> tail(st.batchMs.toSeq) / 1e3,
      "stream.addbatch_s" -> st.addBatchMs / 1e3,
      "stream.walcommit_s" -> st.walCommitMs / 1e3,
      "stream.planning_s" -> st.planningMs / 1e3,
      "stream.state_rows" -> st.stateRows.values.sum.toDouble,
      "stream.state_mb" -> st.stateBytes.values.sum / MB,
      "stream.late_rows" -> st.lateRows.toDouble,
      "stream.control_s" -> wall.getOrElse(Harness.ControlStream, 0.0),
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_run_s" -> c.runMs / 1e3,
      "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.task_wait_s" -> c.waitMs / 1e3,
      "spark.parallel_eff" -> c.runMs / 1e3 / (passS * cpus),
      "spark.shuffle_write_mb" -> c.shuffleWrite / MB,
      "spark.shuffle_read_mb" -> c.shuffleRead / MB,
      "spark.spill_mb" -> c.spill / MB,
      "spark.result_mb" -> c.result / MB,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.failed_tasks" -> c.failedTasks.toDouble,
      "jvm.gc_s" -> gcS,
    )
  }

  /** Which query built each persisted artifact and which later queries
    * read it, as JSON. */
  def artifacts(spark: SparkSession, r: Recorder, results: Seq[Harness.Result]): String = {
    val rows = results.filter(q => q.artifacts.nonEmpty || q.tmpArtifacts.nonEmpty).map { q =>
      val readers = results.filter(o => o.name != q.name &&
        r.rddsByTrace.get(o.name).exists(ids => q.artifacts.exists(ids))).map(_.name)
      Json.obj(Seq(
        "built_by" -> Json.str(q.name),
        "rdds" -> q.artifacts.size.toString,
        "mb" -> Json.num(storageMb(spark, q.artifacts.toSet)),
        "tmp_paths" -> q.tmpArtifacts.map(Json.str).mkString("[", ",", "]"),
        "read_by" -> readers.map(Json.str).mkString("[", ",", "]")))
    }
    rows.mkString("[", ",", "]")
  }
}
