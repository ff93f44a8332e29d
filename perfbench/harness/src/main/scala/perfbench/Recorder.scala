package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One traced interval, in epoch milliseconds. `trace` is the query the
  * span belongs to (or the staged-pass name); `parent` is a span id, -1
  * for a root. */
final case class Span(id: Int, name: String, kind: String, start: Double,
                      end: Double, parent: Int, trace: String)

/** Task-level totals for one job group. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, waitMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, result = 0L
  var inBytes, inRecords, outBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    waitMs += o.waitMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; result += o.result
    inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
  }
}

/** Micro-batch progress totals over every streaming query it listens to. */
final class StreamTotals {
  val batchMs = mutable.ArrayBuffer.empty[Double]
  var addBatchMs, walCommitMs, planningMs, lateRows = 0L
  /** last numRowsTotal / max memoryUsedBytes per (run id, operator). */
  val stateRows = mutable.Map.empty[(String, Int), Long]
  val stateBytes = mutable.Map.empty[(String, Int), Long]
}

/** Listener and span store of the traced run. Every Spark job carries
  * the job group the benchmark set around the call that launched it
  * (`build:<q>`, `plan:<q>`, `exec:<q>` or `staged:<name>`); the
  * recorder files its tasks under that group and turns jobs and stages
  * into child spans of the phase span that owned the group. Spans stay
  * in memory until [[spansJson]] is called at the end of the run. */
final class Recorder extends SparkListener {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = mutable.Map.empty[String, Int]
  private val groupTrace = mutable.Map.empty[String, String]

  def open(name: String, kind: String, parent: Int, trace: String): Int = synchronized {
    val id = spans.size
    spans += Span(id, name, kind, now, Double.NaN, parent, trace)
    id
  }
  def close(id: Int): Double = synchronized {
    val s = spans(id).copy(end = now)
    spans(id) = s
    (s.end - s.start) / 1e3
  }
  /** Summed duration of the spans of one kind and name, in seconds. */
  def seconds(kind: String, name: String): Double = synchronized {
    spans.filter(s => s.kind == kind && s.name == name).map(s => s.end - s.start).sum / 1e3
  }
  /** Opens a span whose Spark jobs are filed under `group`. */
  def openGroup(group: String, name: String, kind: String, parent: Int,
                trace: String): Int = synchronized {
    val id = open(name, kind, parent, trace)
    groupSpan(group) = id
    groupTrace(group) = trace
    id
  }

  private case class Job(id: Int, group: String, start: Long, var end: Long)
  private case class Stage(id: Int, job: Int, var start: Long, var end: Long)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageRecs = mutable.ArrayBuffer.empty[Stage]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  val byGroup = mutable.Map.empty[String, Counters]
  /** RDD ids each trace's stages touched (reads of persisted artifacts). */
  val rddsByTrace = mutable.Map.empty[String, mutable.Set[Int]]
  val stream = new StreamTotals

  private def counters(stageId: Int): Counters = {
    val g = stageJob.get(stageId).flatMap(jobs.get).map(_.group).getOrElse("")
    byGroup.getOrElseUpdate(g, new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, g, e.time, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    byGroup.getOrElseUpdate(g, new Counters).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val start = stageSubmitted.getOrElse((i.stageId, i.attemptNumber()), 0L)
    stageRecs += Stage(i.stageId, stageJob.getOrElse(i.stageId, -1), start,
      i.completionTime.getOrElse(start))
    counters(i.stageId).stages += 1
    val trace = stageJob.get(i.stageId).flatMap(jobs.get)
      .flatMap(j => groupTrace.get(j.group))
    trace.foreach(t => rddsByTrace.getOrElseUpdate(t, mutable.Set.empty) ++=
      i.rddInfos.map(_.id))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(e.stageId)
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      c.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.result += m.resultSize
      c.inBytes += m.inputMetrics.bytesRead
      c.inRecords += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Streaming listener; registered on every session that starts a
    * streaming query (listeners are per session). */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Recorder.this.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      stream.batchMs += d("triggerExecution").toDouble
      stream.addBatchMs += d("addBatch")
      stream.walCommitMs += d("walCommit")
      stream.planningMs += d("queryPlanning")
      p.stateOperators.zipWithIndex.foreach { case (op, i) =>
        val k = (p.runId.toString, i)
        stream.stateRows(k) = op.numRowsTotal
        stream.stateBytes(k) = math.max(stream.stateBytes.getOrElse(k, 0L), op.memoryUsedBytes)
        stream.lateRows += op.numRowsDroppedByWatermark
      }
    }
  }

  /** Job and stage spans under the phase spans, plus every span's self
    * time (its duration minus the union of its children's intervals). */
  def spansJson(): String = synchronized {
    val all = mutable.ArrayBuffer.from(spans)
    val jobSpan = mutable.Map.empty[Int, Int]
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      groupSpan.get(j.group).foreach { parent =>
        val id = all.size
        all += Span(id, s"job ${j.id}", "job", j.start.toDouble, j.end.toDouble,
          parent, all(parent).trace)
        jobSpan(j.id) = id
      }
    }
    stageRecs.foreach { s =>
      jobSpan.get(s.job).foreach { parent =>
        all += Span(all.size, s"stage ${s.id}", "stage", s.start.toDouble,
          s.end.toDouble, parent, all(parent).trace)
      }
    }
    val children = all.groupBy(_.parent)
    def self(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0
      var (lo, hi) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (hi.isNaN || a > hi) {
          if (!hi.isNaN) covered += hi - lo
          lo = a; hi = b
        } else hi = math.max(hi, b)
      }
      if (!hi.isNaN) covered += hi - lo
      (s.end - s.start - covered) / 1e3
    }
    all.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"parent":${s.parent},""" +
        s""""trace":${Json.str(s.trace)},"self_s":${self(s)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
