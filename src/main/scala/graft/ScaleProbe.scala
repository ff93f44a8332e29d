package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-scaling probe: measures a named subset of declared queries at
  * an arbitrary scale directory, synthesizing that directory first if
  * missing by key-offset replication of a source scale factor.
  *
  * Purpose: the driver ships sf ≤ 0.1; the 100 TB claim needs measured
  * evidence further up the curve. `ScaleProbe src out copies q1,q2,…`
  * builds `out` as `copies`× `src` (every key column offset per copy so
  * cardinalities scale with volume — a 10× corpus has 10× orders, 10×
  * users, 10× docs, not 10 duplicates of each key), then times each
  * query with the same noise-immune min-of-two + GC-settle harness as
  * [[Bench]] and prints one JSON line.
  *
  * Document text gets a per-copy suffix token: copies stay NEAR-dups
  * (realistic for a crawl corpus, and exactly the load a dedup pipeline
  * must survive) without being byte-identical.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesStr, queryCsv) = args.take(4)
    val copies = copiesStr.toInt
    // "times" (round-11): a repeat series re-measuring walls only —
    // the harness takes min over several fresh-JVM series for the
    // sub-second side, and the un-timed rows/vols passes only need to
    // run once (they are deterministic counts, not measurements)
    val timesOnly = args.lift(4).contains("times")
    val spark = Harness.session()

    // the replica build DELETES and rewrites tables under `out` — it
    // must never point at the driver-owned read-only testdata (or at
    // the source itself); this guard exists because exactly that
    // mistake once cost a testdata table
    require(!out.startsWith("/root/testdata") && new java.io.File(out).getCanonicalPath != new java.io.File(src).getCanonicalPath,
      s"refusing to build a replica into $out — driver-owned or equal to src")
    if (!new java.io.File(s"$out/_READY").exists()) build(spark, src, out, copies)
    // BUILD-ONLY mode (round-11): queryCsv == "-" builds the replica
    // and exits. The r11 artifact's first big-side chunk measured
    // 2-3x slow because its JVM had just WRITTEN the multi-GB replica
    // (page-cache/writeback residue) — the harness now builds in a
    // dedicated JVM so the first timed chunk starts as clean as the
    // rest (fresh-JVM repeats on the built replica read control ~2.5x
    // vs the contaminated 5.8x).
    if (queryCsv == "-") {
      println(s"""{"metric":"scaleprobe","copies":$copies,"queries":{},"rows":{},"vols":{},"dir":"$out"}""")
      spark.stop()
      return
    }

    // same warmup + measurement discipline as Bench
    Harness.warmUp(spark, out)
    val names = queryCsv.split(",").toSeq
    val errors = new Harness.Errors()
    def pass(): Seq[(String, Double)] =
      names.map(n => Harness.timedOne(spark, out, errors)(n, SparkEntry.queries(n)))
    Harness.gcSettle()
    val p1 = pass()
    graft.util.Caches.clearAll(spark)
    Harness.gcSettle()
    val p2 = pass()
    graft.util.Caches.clearAll(spark)
    // a query that threw must not report a phantom-fast wall
    if (!errors.isEmpty) {
      errors.forEach((n, e) => System.err.println(s"[scaleprobe] $n failed: $e"))
      spark.stop()
      sys.exit(1)
    }
    // OUTPUT-SIZE pass (round-10, verdict ask #1): for every probed
    // query, record the emitted row count beside the seconds so
    // output-bound growth is separable from plan growth — a near-dup
    // pair query over a replicated corpus emits superlinearly MORE
    // PAIRS by design (that is what a near-dup detector is for), and
    // runtime-per-emitted-row is the honest scale reading for it.
    // Counted un-timed, after the timed passes, caches cleared.
    val rows = if (timesOnly) Nil else names.map { name =>
      val n = SparkEntry.queries(name)(spark, out).count()
      graft.util.Caches.clearAll(spark)
      name -> n
    }
    // INTERNAL-VOLUME pass (round-11, verdict asks #3/#7): for
    // fixed-output probes the rows pass above records a constant, so
    // ratio_per_row degenerates to the wall ratio; these meters count
    // the candidate/decoded volume the query actually processes.
    // Un-timed, after the timed passes, like the rows pass.
    val vols = if (timesOnly) Nil else names.flatMap { name =>
      SparkEntry.volumes.get(name).map { fn =>
        val v = fn(spark, out)
        graft.util.Caches.clearAll(spark)
        name -> v
      }
    }
    val qs = p1.zip(p2).map { case ((n, a), (_, b)) => "\"" + n + "\":" + math.min(a, b) }
      .mkString("{", ",", "}")
    val rs = rows.map { case (n, c) => "\"" + n + "\":" + c }
      .mkString("{", ",", "}")
    val vs = vols.map { case (n, c) => "\"" + n + "\":" + c }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scaleprobe","copies":$copies,"queries":$qs,"rows":$rs,"vols":$vs,"dir":"$out"}""")
    spark.stop()
  }

  /** Key-offset replication. Offsets keep every id space disjoint
    * across copies AND disjoint from the q105 node encoding (supplier
    * ids stay < 10^6). */
  private def build(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    val big = 100000000L // 1e8: orderkey/partkey/custkey/doc/vec/event ids
    def rep(name: String, grow: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val all = (0 until copies).map(i => grow(base, i)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    def shift(c: String, step: Long)(df: DataFrame, i: Int): DataFrame =
      df.withColumn(c, col(c) + lit(step * i))
    // supplier step derived from the source's actual key range (a fixed
    // 1000 collided for any source bigger than sf0.1); q105 offsets
    // supplier nodes by +10^6 to disjoint them from part ids, so the
    // replicated key space must stay under that — fail loudly if not
    val maxSupp = spark.read.parquet(s"$src/supplier.parquet")
      .agg(max(col("s_suppkey"))).first().getLong(0)
    val suppStep = math.max(1000L,
      math.pow(10, math.ceil(math.log10(maxSupp + 1.0))).toLong)
    require(suppStep * copies + maxSupp < 1000000L,
      s"supplier replication ($copies copies, step $suppStep) would exceed " +
        "q105's 10^6 supplier-node offset; shrink copies or the source")
    rep("region", (df, i) => if (i == 0) df else df.limit(0))
    rep("nation", (df, i) => if (i == 0) df else df.limit(0))
    // customer NAMES must vary per copy like keys do (the round-9
    // document-text discipline): key-only shifting leaves 10 copies
    // sharing every c_name, so any name-derived grouping — q343's
    // 16-char-prefix blocks — densifies 10× per decade and the probe
    // measures the replica, not the plan. Swap the FIRST character
    // per copy ('0ustomer#…', '1ustomer#…') — same length, the digit
    // window that bounds prefix-block sizes stays intact.
    rep("customer", (df, i) =>
      shift("c_custkey", big)(df, i).withColumn("c_name",
        concat(lit(i.toString), substring(col("c_name"), 2, 1000))))
    rep("supplier", shift("s_suppkey", suppStep))
    rep("part", shift("p_partkey", big))
    rep("orders", (df, i) =>
      shift("o_custkey", big)(shift("o_orderkey", big)(df, i), i))
    rep("lineitem", (df, i) =>
      shift("l_suppkey", suppStep)(
        shift("l_partkey", big)(shift("l_orderkey", big)(df, i), i), i))
    // user_id must step IN LOCKSTEP with c_custkey: events from copy i
    // join customers from copy i (a smaller step detached every
    // replicated event from the customer table, collapsing q101-style
    // enrichment selectivity at probe scale)
    // events goes through the schema-adaptive loader (the testdata's ts
    // encoding is driver-owned and has drifted before). Copies are
    // TIME-SHIFTED end-to-end, not stacked on the same clock window:
    // stacking 10x users onto one window inflates instantaneous session
    // concurrency 10x, so any per-time-cell pairing (q81 overlap join,
    // q109's overlap GRAPH) densifies quadratically — a property of the
    // replication, not the operator (a measured run spilled >80 GB and
    // died ENOSPC in q109's wedge join at 10 copies). Real 100 TB of
    // events extends the TIMELINE at similar instantaneous concurrency;
    // the shift reproduces that, keeping id spaces disjoint AND the
    // temporal density constant.
    def repEvents(): Unit = {
      val base = graft.io.Tables.events(spark, src)
      val Array(mn, mx) = base
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val spanUs = mx - mn + 3600L * 1000000L // +1h: copies never touch
      val all = (0 until copies).map { i =>
        shift("user_id", big)(shift("event_id", big)(base, i), i)
          .withColumn("ts",
            timestamp_micros(unix_micros(col("ts")) + lit(spanUs * i)))
      }.reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    repEvents()
    // Replica documents get TOKEN-LEVEL noise, not a single appended
    // suffix token: with only a suffix, every replica pair is a true
    // Jaccard≈1 / Hamming-0 near-dup, so similarity/dedup probes
    // (q26/q29/q177/q216/q240/q305) measure a quadratically-growing
    // OUTPUT artifact of the replication instead of the plan (the
    // round-8 verdict's degenerate-replica finding). Replacing ~25% of
    // tokens (deterministic xxhash64 coin per (token, position, copy))
    // puts cross-copy Jaccard near 0.4 — ordinary corpus background,
    // not a clique — while copy 0 stays byte-identical to the source.
    rep("documents", (df, i) => {
      val d = shift("doc_id", big)(df, i)
      if (i == 0) d
      else d.withColumn("text",
        array_join(
          transform(split(col("text"), " "), (t, p) =>
            when(pmod(xxhash64(t, p, lit(i)), lit(4)) === 0,
              concat(lit(s"cp${i}x"),
                pmod(xxhash64(p, lit(i)), lit(997)).cast("string")))
              .otherwise(t)),
          " "))
    })
    rep("embeddings", shift("vec_id", big))
    new java.io.File(s"$out/_READY").createNewFile()
    ()
  }
}
