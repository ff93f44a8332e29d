package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout — the STANDING shuffle amortizer (SURVEY
  * §2.1's storage side, the Hive/Spark analogue of the reference's
  * pre-partitioned inputs): pay ONE hash shuffle when the table is
  * written, and every later equi join or aggregation on the bucket
  * key is exchange-free — Spark's scan reports the bucket spec as its
  * output partitioning, so `EnsureRequirements` inserts no Exchange.
  *
  * At 100 TB this is the difference between re-shuffling the fact
  * table on every query and never shuffling it again: two tables
  * bucketed on the same key with the same bucket count sort-merge
  * join with ZERO network movement (BucketingSpec pins both the
  * exchange-free join and the exchange-free aggregation, with plain
  * parquet as the shuffling control).
  *
  * Buckets also bound file counts deterministically (`buckets` files
  * per write task group) and `sortBy` gives in-bucket clustering for
  * min/max skipping — the same levers [[graft.ops.ZOrder]] pulls for
  * range predicates, here for equi keys.
  */
object Bucketing {

  /** Write `df` as an EXTERNAL parquet table bucketed (and in-bucket
    * sorted) on `key` at `path`. External keeps the data at an
    * explicit location — the metastore entry only carries the bucket
    * spec that makes later scans report hash partitioning. */
  def writeBucketed(df: DataFrame, name: String, path: String, key: String,
                    buckets: Int, extraSort: Seq[String] = Nil): Unit = {
    require(buckets >= 1, "need at least one bucket")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key, extraSort: _*)
      .option("path", path)
      .saveAsTable(name)
  }

  /** Read a bucketed table back (scan carries the bucket spec). */
  def read(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** `df` written ONCE per (name, session, dataset dir) as a
    * [[graft.util.Caches.artifact]] — a bucketed table in the entry's
    * own dir — and read back on every call until Caches.clearAll. */
  def memo(name: String, spark: SparkSession, dir: String, key: String,
           buckets: Int, extraSort: Seq[String] = Nil)(df: => DataFrame): DataFrame =
    read(spark, graft.util.Caches.artifact(name, spark, dir) { a =>
      writeBucketed(df, a.table, a.dir, key, buckets, extraSort)
      a.table
    })
}
