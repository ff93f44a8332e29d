package graft.util

import org.apache.spark.sql.SparkSession

/** End-of-run cache hygiene. Query builders cache intermediates that
  * are reused within and across queries (shingle sets, TF-IDF counts,
  * doc vectors) — correct for a batch run, a leak in a long-lived
  * session. [[graft.Harness]] and its callers call [[clearAll]] after
  * each query loop; tests assert nothing stays persisted. */
object Caches {

  /** Unpersist every cached DataFrame/RDD and drop the query-module
    * memo tables. */
  def clearAll(spark: SparkSession): Unit = {
    graft.queries.TextQueries.clearMemo()
    graft.queries.Clustering.clearMemo()
    graft.queries.PipelineOps.clearMemo()
    graft.queries.Relational.clearMemo()
    graft.queries.EventQueries.clearMemo()
    // per-call caches (Dedup shingles/signatures, K-Means inputs) are
    // catalog-level cached plans:
    spark.catalog.clearCache()
    // belt-and-braces for anything persisted at the RDD level:
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
