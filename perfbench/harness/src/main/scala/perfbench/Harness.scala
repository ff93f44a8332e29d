package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry

/** One benchmark JVM. It builds the session and prints `READY` once
  * set-up is done; the Python runner times set-up from the outside, from
  * launch until `READY`. Then it runs passes over the workload's queries,
  * each query once per pass, in the order given, one at a time, each
  * ending in a parquet write of its result:
  *  - the cold pass, on a JVM that has run nothing but the warm-up: the
  *    timed pass of the benchmark;
  *  - `warm` more passes, and traced one more with the job groups, spans
  *    and listener of a [[Recorder]], then the staged layer pass. Before
  *    each of these `Caches.clearAll` drops the memos, so no pass finds
  *    one built; the untraced warm passes are what the traced one is
  *    compared with to measure the cost of tracing.
  * The JSON result file has every pass's walls, the heap retained after
  * the last pass, and the per-layer metrics of the traced pass.
  *
  * Arguments are `key=value` pairs:
  *  - `data`: input directory; `cpus`: local[cpus]; `out`: result file;
  *    `results`: directory for each pass kind's results (`cold/<q>`,
  *    `warm/<q>`, `traced/<q>`) and their oracle SQL; `warm`: number of
  *    untraced warm passes.
  *  - `queries`: comma-separated names from [[SparkEntry.queries]];
  *    [[ControlStream]] names the stateless control stream.
  *  - `isolated`: the queries that run in a new session each (Bench's
  *    treatment of streaming queries).
  *  - `trace=1`: add the traced pass; `spans`: span file.
  *  - `staged=text|loops`: direct-call layer pass after the traced one.
  */
object Harness {
  type Q = (SparkSession, String) => DataFrame

  val ControlStream = "iso_control_stateless"

  final case class Pass(kind: String, sec: Double, gcSec: Double, results: Seq[Result])

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = opt("data")
    val resultDir = opt("results")
    val cpus = opt("cpus")
    val names = opt("queries").split(",").filter(_.nonEmpty).toSeq
    val isolated = opt.getOrElse("isolated", "").split(",").toSet
    val warmPasses = opt.getOrElse("warm", "0").toInt
    val rec = if (opt.get("trace").contains("1")) Some(new Recorder) else None

    val spark = session(cpus)
    // Bench's fixed warm-up action, on this workload's documents table
    spark.range(2000000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$data/documents.parquet").limit(1000).count()
    println("READY")
    System.out.flush()

    val all = SparkEntry.queries
    def query(n: String): Q = if (n == ControlStream) controlStream else all(n)
    def pass(kind: String, r: Option[Recorder]): Pass = {
      val gc0 = gcMillis()
      val p0 = System.nanoTime()
      val results = names.map(n =>
        runOne(spark, data, s"$resultDir/$kind/$n", n, query(n), isolated(n), r))
      Pass(kind, (System.nanoTime() - p0) / 1e9, (gcMillis() - gc0) / 1e3, results)
    }
    def reset(): Unit = { graft.util.Caches.clearAll(spark); System.gc() }

    val passes = scala.collection.mutable.ArrayBuffer(pass("cold", None))
    for (_ <- 1 to warmPasses) {
      reset()
      passes += pass("warm", None)
    }
    val traced = rec.map { r =>
      reset()
      spark.sparkContext.addSparkListener(r)
      val p = pass("traced", Some(r))
      passes += p
      p
    }
    val heapMb = retainedHeapMb()
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$resultDir/oracle_sql.json"),
      Json.obj(names.flatMap(n => oracles.get(n).map(sql => n -> Json.str(sql)))))

    val layers = (rec, traced) match {
      case (Some(r), Some(p)) =>
        val base = Layers.pass(spark, r, p.results, p.sec, p.gcSec, cpus.toInt)
        val artifacts = Layers.artifacts(spark, r, p.results)
        val c0 = System.nanoTime()
        graft.util.Caches.clearAll(spark)
        val clearS = (System.nanoTime() - c0) / 1e9
        val leaked = spark.sparkContext.getPersistentRDDs.size.toDouble
        val staged = opt.get("staged").map(k => Staged.run(spark, data, r, k)).getOrElse(Nil)
        org.apache.spark.perfbench.BusFlush(spark.sparkContext)
        opt.get("spans").foreach(f => Files.writeString(Paths.get(f), r.spansJson()))
        Seq("artifacts" -> artifacts, "layers" -> Json.obj(
          (base ++ Seq("util.clear_s" -> clearS, "util.leaked_rdds" -> leaked) ++ staged)
            .map { case (k, v) => k -> Json.num(v) }))
      case _ => Nil
    }
    val passJson = passes.map { p =>
      Json.obj(Seq("kind" -> Json.str(p.kind), "sec" -> Json.num(p.sec),
        "queries" -> p.results.map { r =>
          Json.obj(Seq("name" -> Json.str(r.name), "sec" -> Json.num(r.sec),
            "tmp" -> r.tmpArtifacts.map(Json.str).mkString("[", ",", "]")) ++
            r.error.map(e => "error" -> Json.str(e)))
        }.mkString("[", ",", "]")))
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(opt("out")),
      Json.obj(Seq("heap_mb" -> Json.num(heapMb), "passes" -> passJson) ++ layers))
    spark.stop()
    System.exit(0)
  }

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One query of the timed pass: its wall, its error if it threw, the
    * RDDs it left persisted and the `/tmp/graft_*` paths it wrote. */
  final case class Result(name: String, sec: Double, error: Option[String],
                          artifacts: Seq[Int], tmpArtifacts: Seq[String])

  /** Bench's timedOne, except that the result is written as parquet to
    * `out` (where the oracle check reads it) instead of to `noop`: the
    * builder call plus the write, timed as one wall; the memory-sink
    * views of streaming queries are dropped after the clock stops.
    * Traced, the builder, the forced physical plan and the write each
    * get a job group and a span. */
  def runOne(base: SparkSession, data: String, out: String, name: String, fn: Q,
             isolated: Boolean, rec: Option[Recorder]): Result = {
    val s = if (isolated) base.newSession() else base
    val sc = s.sparkContext
    rec.foreach(r => s.streams.addListener(r.streaming))
    val rdds0 = sc.getPersistentRDDs.keySet
    val tmp0 = tmpArtifacts()
    val qspan = rec.map(_.open(name, "query", -1, name)).getOrElse(-1)
    def phase[T](p: String)(body: => T): T = rec match {
      case None => body
      case Some(r) =>
        sc.setJobGroup(s"$p:$name", s"$p:$name")
        val id = r.openGroup(s"$p:$name", p, "phase", qspan, name)
        try body finally r.close(id)
    }
    val t0 = System.nanoTime()
    val error =
      try {
        val df = phase("build")(fn(s, data))
        if (rec.isDefined) phase("plan")(df.queryExecution.executedPlan)
        phase("exec")(df.write.mode("overwrite").parquet(out))
        None
      } catch {
        case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
    val sec = (System.nanoTime() - t0) / 1e9
    rec.foreach { r => r.close(qspan); sc.clearJobGroup() }
    dropStreamViews(s)
    rec.foreach(r => s.streams.removeListener(r.streaming))
    val built = (sc.getPersistentRDDs.keySet -- rdds0).toSeq.sorted
    val newTmp = tmpArtifacts().collect { case (p, m) if !tmp0.get(p).contains(m) => p }.toSeq.sorted
    Result(name, sec, error, built, newTmp)
  }

  def dropStreamViews(s: SparkSession): Unit =
    try s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_"))
      .foreach(t => s.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }

  /** Bench's stateless control stream: a pass-through file stream into a
    * memory sink, with no watermark, state store or join. */
  val controlStream: Q = (s, dir) => {
    val name = "stream_isoctl"
    val q = graft.io.Tables.eventsStream(s, dir)
      .select(col("event_id"), col("user_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    s.table(name)
  }

  /** The program keeps some artifacts at fixed `/tmp/graft_*` paths;
    * path → newest mtime under it, so a query that writes one shows. */
  def tmpArtifacts(): Map[String, Long] = {
    def newest(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(newest).foldLeft(f.lastModified)(math.max))
        .getOrElse(f.lastModified)
      else f.lastModified
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_"))
      .map(f => f.getPath -> newest(f)).toMap
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
