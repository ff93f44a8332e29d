package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one memo/artifact registry, and end-of-run cache hygiene.
  *
  * Queries share intermediates within and across query calls the
  * way the reference re-reads its task_1_2 counts and TFIDF.txt: build
  * once, read many times. Each such intermediate is a [[memo]] entry
  * keyed by exactly what it depends on — (name, session, dataset dir)
  * — with its own release action. RETENTION RULE: an entry is held
  * until [[clearAll]], which runs each release once; a staged fit, a
  * cached table, a bucketed artifact or a registered rule lives from
  * its first use to the next clear. [[graft.Harness]] and its callers
  * call [[clearAll]] after each query loop; tests assert nothing stays.
  *
  * Disk entries ([[artifact]], [[workspace]]) get a fresh
  * `graft_<name>…` dir under `java.io.tmpdir` and the catalog table
  * name `graft_<name>_<n>`, so no two keys share either. A shutdown
  * hook deletes the dirs still held when the JVM exits.
  */
object Caches {

  /** A disk entry's home: its dir and its reserved catalog table. */
  final case class Artifact(name: String, dir: String, table: String)

  /** One entry: built at most once, released at most once. */
  private final class Entry {
    private var held: Option[(Any, () => Unit)] = None
    def get[A](build: => A, release: A => Unit): A = synchronized {
      if (held.isEmpty) { val a = build; held = Some((a, () => release(a))) }
      held.get._1.asInstanceOf[A]
    }
    def release(): Unit = synchronized { try held.foreach(_._2()) finally held = None }
  }

  private val entries = new ConcurrentHashMap[(String, SparkSession, String), Entry]()
  private val live = ConcurrentHashMap.newKeySet[Artifact]()
  private val seq = new AtomicLong()
  sys.addShutdownHook(live.asScala.foreach(a => deleteDir(a.dir)))

  /** `build`'s result, built once per (name, session, dir) and held
    * until [[clearAll]] runs `release` on it. Concurrent callers of one
    * key wait for its single build; other keys build in parallel. */
  def memo[A](name: String, session: SparkSession, dir: String)(build: => A)(
      release: A => Unit): A =
    entries.computeIfAbsent((name, session, dir), _ => new Entry).get(build, release)

  /** A [[memo]] on disk: `build` writes into a fresh [[Artifact]] (and
    * may register its table); release drops the table, deletes the dir. */
  def artifact[A](name: String, session: SparkSession, dir: String)(
      build: Artifact => A): A =
    memo(name, session, dir) {
      val art = Artifact(name,
        java.nio.file.Files.createTempDirectory(s"graft_$name").toString,
        s"graft_${name}_${seq.incrementAndGet()}")
      live.add(art)
      try (build(art), art) catch { case e: Throwable => drop(session, art); throw e }
    } { case (_, art) => drop(session, art) }._1

  /** A fresh dir for one query call (its result may read from it),
    * held like any [[artifact]]. */
  def workspace(name: String, session: SparkSession): String =
    artifact(name, session, s"call-${seq.incrementAndGet()}")(_.dir)

  /** The disk entries held now. */
  private[graft] def artifacts: Set[Artifact] = live.asScala.toSet

  private def drop(session: SparkSession, art: Artifact): Unit =
    try session.sql(s"DROP TABLE IF EXISTS ${art.table}")
    finally { deleteDir(art.dir); live.remove(art) }

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Release every registry entry, then unpersist every cached
    * DataFrame/RDD. */
  def clearAll(spark: SparkSession): Unit = {
    entries.keySet.asScala.toSeq.foreach(k => Option(entries.remove(k)).foreach(_.release()))
    // per-call caches (Dedup shingles/signatures, K-Means inputs) are
    // catalog-level cached plans:
    spark.catalog.clearCache()
    // belt-and-braces for anything persisted at the RDD level:
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
