package graft

/** Per-round benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds
  * ([[Harness.timedRegion]]). Queries run in name order (stable across
  * rounds for diffing); a short untimed warmup action first so the
  * earliest query doesn't absorb JVM/JIT/codegen startup.
  */
object Bench {
  def main(args: Array[String]): Unit =
    Harness.bench(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      SparkEntry.queries.keys.toSeq)
}
