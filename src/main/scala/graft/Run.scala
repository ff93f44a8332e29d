package graft

/** Ad-hoc runner over a named subset of the declared queries:
  * `runMain graft.Run <bench|show|explain> <sfDir> <q1,q2,…>`.
  *  - `bench`: Bench's own timed region ([[Harness.bench]]) on the
  *    subset — one JSON line with Bench's keys;
  *  - `show`: each query's first 50 rows and its row count;
  *  - `explain`: each query's formatted physical plan.
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: graft.Run <bench|show|explain> <sfDir> <q1,q2,…>")
    val Array(mode, sfDir, csv) = args
    val names = csv.split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    mode match {
      case "bench" => Harness.bench(sfDir, names)
      case "show" | "explain" =>
        val spark = Harness.session()
        val failed = names.filterNot { n =>
          println(s"===== $n")
          try {
            val df = SparkEntry.queries(n)(spark, sfDir)
            if (mode == "show") {
              df.show(50, truncate = false)
              println(s"rows: ${df.count()}")
            } else df.explain("formatted")
            true
          } catch {
            case e: Throwable => println(s"  failed: ${e.getMessage}"); false
          }
        }
        graft.util.Caches.clearAll(spark)
        spark.stop()
        if (failed.nonEmpty) sys.exit(1)
      case other => sys.error(s"unknown mode $other (bench|show|explain)")
    }
  }
}
