package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.{Bucketing, Tables}
import graft.util.{Caches, Exact}
import org.apache.spark.sql.graftbridge.Bridge

/** Relational operator coverage (SURVEY §2: scans S1/S2, filter F1,
  * joins J1-J4, aggregations A1/A3-A5/A12, top-k T1/T2, set ops §2.6)
  * expressed over the synthetic star schema, each with a DuckDB oracle.
  *
  * Determinism rules (hash-match against the oracle):
  *  - money/ratio doubles aggregate through [[Exact]] (scaled-long sums);
  *  - integer-valued doubles (l_quantity) sum exactly in binary — plain sum;
  *  - running/window sums evaluate in frame order on both engines — exact;
  *  - every query ends in a total ORDER BY mirrored in the oracle.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** q224's materialized view: the (returnflag, linestatus) rollup of
    * lineitem written as a REAL parquet summary table, plus the
    * rewrite rule over it — both held per (session, dir) until
    * Caches.clearAll, whose release also takes the rule back out of
    * the session (a surviving rule would rewrite later rollups onto a
    * deleted summary). Memoized, so repeated q224 calls (bench's two
    * passes) never stack duplicate registrations. */
  private[graft] def lineitemMvRule(s: SparkSession, d: String): graft.plans.SummaryRewrite =
    Caches.memo("mv_rule", s, d) {
      val path = Caches.artifact("mv", s, d) { a =>
        val path = s"${a.dir}/lineitem_rollup"
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
          .write.parquet(path)
        path
      }
      graft.plans.SummaryRewrite("lineitem.parquet",
        dims = Set("l_returnflag", "l_linestatus"),
        sumMap = Map("l_quantity" -> "sum_qty"), cntCol = "cnt",
        summary = s.read.parquet(path).queryExecution.analyzed)
    }(Bridge.removeOptimization(s, _))

  // q273's bucketed fact layout: lineitem and orders as co-bucketed
  // external parquet tables on the order key — the pay-one-shuffle-at-
  // write, join-forever-free storage contract (io/Bucketing), held
  // like the MV above so bench's repeated passes within one clear
  // reuse the layout instead of rewriting it.
  private def bucketedFacts(s: SparkSession, d: String): (DataFrame, DataFrame) = (
    Bucketing.memo("bkt_lineitem", s, d, "l_orderkey", 8)(
      Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_extendedprice"), col("l_discount"))),
    Bucketing.memo("bkt_orders", s, d, "o_orderkey", 8)(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))))

  // q312's custom-format table: a lineitem projection written once per
  // (session, dir) registry entry in the engine's own `grec` binary
  // format, read back through the DataSource V2 connector
  // (graft.io.GraftRecSource). The entry's dir is fresh, so a second
  // session on the same dataset never clobbers files a concurrent
  // scan's planned partitions point at.
  private def grecDir(s: SparkSession, d: String): String =
    Caches.artifact("grec", s, d) { a =>
      // DSv2 committed write path: staged files + job-commit rename
      Tables.lineitem(s, d).select(col("l_orderkey").cast("long"),
          col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
        .write.format("graft.io.GraftRecSource").mode("overwrite")
        .save(a.dir)
      a.dir
    }

  /** The part co-purchase graph (parts sharing an order) as a BUCKETED
    * parquet artifact, not an evictable in-memory cache: the symmetric
    * adjacency (u, v, deg_u, deg_v), degrees precomputed per row,
    * bucketed+sorted on u (the q273 storage contract). The scan
    * reports hash partitioning on u, so degree aggs and adjacency
    * grouping are exchange-free, and degree-orientation (q204's
    * triangle kernel) is a pure narrow filter because both endpoint
    * degrees ride on the row. Round 8 kept these edges in a memoized
    * .cache(); under a full 310-query run's storage pressure that
    * cache thrashed and q204 read 51 s — a disk artifact has no
    * eviction to thrash. */
  private def coPurchaseAdj(s: SparkSession, d: String): DataFrame =
    Bucketing.memo("copurchase", s, d, "u", 16, extraSort = Seq("v")) {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      // the union + two degree joins below reference the self-join
      // output four times — materialize it once. Staged (round-12):
      // O(co-purchase pairs), lineage kept for recompute-on-loss
      val edges = graft.util.Snapshots.stage(
        li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey")
            && col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").cast("long").as("a"),
          col("y.l_partkey").cast("long").as("b"))
        .distinct())
      val mEdges = edges.count()
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      // degrees are one row per node — broadcast below the same
      // node-state gate the triangle kernel uses (round-12: row
      // broadcasts ride the smaller BroadcastNodeEntries threshold);
      // above it the joins shuffle (write time only, amortized over
      // every later read)
      val degK = if (mEdges <= graft.ops.Graph.BroadcastNodeEntries)
        broadcast(deg) else deg
      sym.join(degK.select(col("node").as("u"), col("deg").as("deg_u")), "u")
        .join(degK.select(col("node").as("v"), col("deg").as("deg_v")), "v")
        .select(col("u"), col("v"), col("deg_u"), col("deg_v"))
    }

  /** Internal-VOLUME meters for the scale probe (round-11, verdict
    * ask #3): for fixed-output queries (LIMIT k / O(1)-row aggs) the
    * probe's rows-ratio normalization degenerates to the wall ratio,
    * so these report the INTERNAL work volume — candidate pairs for
    * pair joins, decoded rows for pushdown scans — that the probe
    * divides runtime by instead. Each meter is a cheap aggregate over
    * the same inputs the query reads (never the query re-run). */
  private[graft] val volumes: Map[String, (SparkSession, String) => Long] = Map(
    // q337 is top-100-by-score: its work volume is the capped wedge
    // count Σ_{center: deg ≤ 80} C(deg, 2) — exactly the rows the
    // wedge self-join emits before scoring.
    "q337_link_prediction" -> ((s, d) => {
      coPurchaseAdj(s, d).select(col("u"), col("deg_u")).distinct()
        .filter(col("deg_u") <= 80L)
        .agg(sum(expr("deg_u * (deg_u - 1) div 2")))
        .head().getLong(0)
    }),
    // q329 emits O(groups) rows; its work volume is the records the
    // grec scan must decode and aggregate under the pushed filter.
    "q329_grec_agg_pushdown" -> ((s, d) =>
      s.read.format("graft.io.GraftRecSource").load(grecDir(s, d))
        .where(col("l_quantity") >= 10.0).count()),
  )

  /** Wide hourly × event-type count matrix shared by the pivot (q69)
    * and its unpivot inverse (q73) — one definition so the value list
    * and hour format can't drift apart. */
  private def hourlyTypeMatrix(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:00:00").as("hour"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)

  val queries: Map[String, Q] = Map(
    // q163: bucketed reconciliation fingerprint of lineitem — the
    // Merkle-style anti-entropy digest (64 small rows stand in for the
    // whole table when verifying a copy); portable 60-bit md5 row
    // hashes over canonicalized columns, order-insensitive XOR per
    // bucket, all partial-agg map-side.
    "q163_table_fingerprint" -> ((s, d) =>
      graft.ops.Reconcile.tableFingerprint(Tables.lineitem(s, d),
        keyCols = Seq(
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string")),
        valueCols = Seq(
          round(col("l_quantity") * 100).cast("long").cast("string"),
          round(col("l_extendedprice") * 100).cast("long").cast("string"),
          col("l_returnflag"), col("l_linestatus")), nBuckets = 64)),

    // q356: PARQUET FOOTER INTEGRITY AUDIT — the storage-introspection
    // pass behind zone-map planning (q167/q347): read ONLY the parquet
    // footers (a tail read per file, fanned out over the cluster —
    // seconds at 100 TB) and roll each file's row-group statistics up
    // per column; the oracle recomputes the same numbers FROM THE DATA
    // (count/nulls/min/max per column), so the check certifies that
    // the footer stats a pruning layer would trust actually match the
    // pages — the "do the zone maps lie" audit, and a cross-layer
    // check between parquet-hadoop's footer decode and DuckDB's full
    // scan. Row-group structure folds away (Σ counts, min of mins,
    // max of maxes), so the result is layout-independent.
    "q356_parquet_layout" -> ((s, d) =>
      graft.io.ParquetLayout.report(s,
          Seq(s"$d/lineitem.parquet", s"$d/orders.parquet"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "o_orderkey", "o_custkey"))
        .groupBy(col("file_name"), col("column_name"))
        .agg(sum(col("n_values")).as("n_values"),
          sum(col("null_count")).as("null_count"),
          min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
        .orderBy(col("file_name"), col("column_name"))),

    // q167: zone-map skip report — what a shipdate-sorted layout buys
    // for a one-year predicate: per-4096-row-block min/max + skip flag.
    "q167_zone_map" -> ((s, d) =>
      graft.ops.ZoneMap.report(Tables.lineitem(s, d),
        keyCol = date_format(col("l_shipdate"), "yyyy-MM-dd"),
        tieCols = Seq(col("l_orderkey"), col("l_linenumber")),
        blockSize = 4096,
        predLo = "1995-01-01", predHi = "1996-01-01")),

    // q347: CLUSTERING DEPTH — the layout-quality audit behind q167's
    // zone maps (the OPTIMIZE metric table services report): max #
    // files whose [min,max] partkey zones overlap one point, i.e. the
    // worst-case files-per-point-query. Files are value-range buckets
    // (no global sort — (v·64) div (max+1)); laid out BY partkey the
    // probe column's zones are disjoint (depth 1), laid out BY
    // orderkey every file spans ~the whole partkey domain (depth ≈
    // n_files) — the difference IS the metric. Sweep is O(files)
    // metadata.
    "q347_clustering_depth" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def layout(name: String, orderCol: String): DataFrame = {
        val mx = li.agg(max(col(orderCol).cast("long"))).first().getLong(0)
        val files = li
          .withColumn("_fid", expr(s"cast($orderCol as bigint) * 64 " +
            s"div ${mx + 1}"))
          .groupBy(col("_fid"))
          .agg(min(col("l_partkey").cast("long")).as("lo"),
            max(col("l_partkey").cast("long")).as("hi"))
        graft.ops.ZoneMap.clusteringDepth(files)
          .select(lit(name).as("layout"), col("n_files"), col("max_depth"))
      }
      layout("by_orderkey", "l_orderkey")
        .unionByName(layout("by_partkey", "l_partkey"))
        .orderBy(col("layout"))
    }),

    // TPC-H Q1 shape: scan → filter → hash agg with partial aggregation
    // (the combiner the reference never had — SURVEY §4). Pushdown check:
    // PushedFilters should show the shipdate range at the parquet scan.
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-12-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          Exact.sumExact(col("l_extendedprice"), 2).as("sum_base_price"),
          Exact.sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          Exact.avgExact(col("l_discount"), 2).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Filter + projection, pushed to the parquet scan (SURVEY F1 / §4
    // predicate-pushdown row). Per-row values only — no agg determinism risk.
    "q02_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2001-06-01") && col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // customer ⋈ orders equi-join → segment rollup (SURVEY J2 analog).
    // No broadcast hint: both sides scale with SF, let AQE pick
    // (broadcasts at test sizes, sort-merge at 100 TB).
    "q03_segment_revenue" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumExact(col("o_totalprice"), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // TPC-H Q5 shape: 5-way join. region/nation are fixed-cardinality →
    // explicit broadcast (the reference's distributed-cache joins, J2/J4);
    // the fact-side joins stay shuffle joins for scale.
    "q04_nation_revenue" -> ((s, d) => {
      val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n  = Tables.nation(s, d)
      val c  = Tables.customer(s, d)
      val o  = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Exact.sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    }),

    // Global top-k (SURVEY T1; reference task1_3's single-reducer TreeMap).
    // orderBy+limit → TakeOrderedAndProject: per-partition heaps, no full
    // sort. Deterministic tie-break on partkey.
    "q05_top_parts" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .orderBy(col("total_qty").desc, col("l_partkey"))
        .limit(10)
    }),

    // Grouped top-k via ranked window (SURVEY T2; reference task1_5_2).
    // WindowGroupLimit pushes the rank filter below the sort at scale.
    "q06_top_customers_per_nation" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("c_nationkey"), col("rk"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rk"))
    }),

    // Distinct aggregate (SURVEY A4's countDistinct restated properly —
    // the reference needed a single reducer with global state).
    "q07_priority_stats" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          Exact.sumExact(col("o_totalprice"), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // Running sum per partition — frame-ordered accumulation is
    // deterministic on both engines (left-to-right within the frame).
    "q08_running_qty" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") <= 10)
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // Set op (SURVEY §2.6): union + distinct of two key sets.
    "q09_union_distinct" -> ((s, d) => {
      val big  = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("custkey"))
      val debt = Tables.customer(s, d).filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
      big.union(debt).distinct().orderBy(col("custkey"))
    }),

    // Anti join (SURVEY J1 — the stop-word anti join pattern):
    // customers with no orders, rolled up per nation.
    "q10_customers_without_orders" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),

    // Left-semi join (the EXISTS dual of q10's anti join): customers
    // WITH at least one order, no row multiplication from the probe.
    "q70_semi_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),

    // Full outer join over deliberately asymmetric sides (filters
    // leave some nations customer-only / supplier-only, exercising
    // null-fill on both sides).
    "q71_full_outer" -> ((s, d) => {
      val cn = Tables.customer(s, d).filter(col("c_custkey") % 5 === 0)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val sn = Tables.supplier(s, d).filter(col("s_suppkey") % 3 === 0)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full_outer")
        .select(
          coalesce(cn("c_nationkey"), sn("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // Multiset set ops: EXCEPT ALL / INTERSECT ALL keep duplicates
    // (bag semantics), unlike q51's distinct variants.
    "q72_multiset_ops" -> ((s, d) => {
      val all = Tables.orders(s, d).select(col("o_orderpriority"))
      val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderpriority"))
      val ex = all.exceptAll(f).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_except_all"))
      val in = all.intersectAll(f).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_intersect_all"))
      ex.join(in, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          coalesce(col("n_except_all"), lit(0L)).as("n_except_all"),
          coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"))
        .orderBy(col("o_orderpriority"))
    }),

    // Pivot: hourly × event-type count matrix with an explicit value
    // list (explicit values keep the schema static — no extra pass to
    // discover columns, and both engines emit identical column sets).
    "q69_pivot" -> ((s, d) => hourlyTypeMatrix(s, d).orderBy(col("hour"))),

    // Unpivot (melt): stack() folds q69's wide hourly matrix back to
    // (hour, event_type, n) rows — dropping the fill-zeros restores
    // exactly the long-form rollup, proving pivot/unpivot are inverses.
    "q73_unpivot" -> ((s, d) => {
      hourlyTypeMatrix(s, d).select(col("hour"), expr(
          """stack(5, 'click', click, 'error', error, 'purchase', purchase,
            |'signup', signup, 'view', view) AS (event_type, n_events)""".stripMargin))
        .filter(col("n_events") > 0)
        .orderBy(col("hour"), col("event_type"))
    }),

    // Exact percentiles (sort-based interpolation — both engines use
    // the p·(n−1) rank definition; integer-valued quantities keep the
    // interpolation arithmetic exact).
    "q49_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.95)").as("p95_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Window-function family over a deterministic order: lag/lead,
    // rank vs dense_rank (real ties exist in o_totalprice? order by
    // (o_totalprice desc, o_orderkey) is tie-free), ntile buckets.
    "q48_window_family" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_totalprice") > 480000)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          row_number().over(w).cast("long").as("rn"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    // Full cube (all grouping-set combinations).
    "q50_cube" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          Exact.sumExact(col("o_totalprice"), 2).as("revenue"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          col("n"), col("revenue"))
        .orderBy(col("pri"), col("st"))
    }),

    // Set-op breadth: INTERSECT and EXCEPT of customer key sets.
    "q51_intersect_except" -> ((s, d) => {
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      val rich = Tables.customer(s, d).filter(col("c_acctbal") > 8000)
        .select(col("c_custkey").as("custkey"))
      val both = big.intersect(rich).withColumn("op", lit("both"))
      val onlyBig = big.distinct().exceptAll(rich.distinct())
        .withColumn("op", lit("only_big_orders"))
      both.union(onlyBig).orderBy(col("op"), col("custkey"))
    }),

    // Z-order (Morton) codes — the multi-dimensional layout key
    // (graft.ops.ZOrder.clusterByZ writes z-clustered files whose
    // min/max footers prune 2-D predicates). Pure long bit math,
    // mirrored 1:1 into the oracle.
    "q78_zorder" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.ZOrder.zValue(
            pmod(col("l_partkey"), lit(65536)),
            pmod(col("l_suppkey"), lit(65536))).as("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Arbitrary GROUPING SETS (the general form rollup/cube are sugar
    // for) through the SQL surface — Catalyst plans one Expand, a
    // single shuffle for all three groupings. Scaled-long revenue sum
    // for the cross-engine hash.
    "q83_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderpriority, 'ALL') AS pri,
          |  coalesce(o_orderstatus, 'ALL') AS st,
          |  count(1) AS n,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          |    AS revenue
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
          |  (o_orderstatus), ())
          |ORDER BY pri, st""".stripMargin)
    }),

    // Array higher-order-function family over a derived array column
    // — slice / distinct-sort / HOF transform+aggregate / zip_with,
    // serialized to strings for the cross-engine hash.
    "q90_array_family" -> ((s, d) => {
      val arr = split(col("text"), "\\s+")
      Tables.documents(s, d).select(
          col("doc_id"),
          array_join(slice(arr, 1, 5), ",").as("first5"),
          array_join(sort_array(array_distinct(arr)), ",").as("vocab"),
          aggregate(transform(arr, t => length(t).cast("long")), lit(0L), _ + _)
            .as("total_len"),
          aggregate(zip_with(transform(arr, t => length(t).cast("long")),
              sequence(lit(1L), size(arr).cast("long")), (a, b) => a * b),
            lit(0L), _ + _).as("weighted_len"))
        .orderBy(col("doc_id"))
    }),

    // Map function family: build per-customer status→count maps with
    // map_from_entries, rewrite values (transform_values), prune
    // entries (map_filter), then explode the map back to rows —
    // checked against the purely relational computation in DuckDB, so
    // the whole map round-trip has a ground truth that never touches
    // an engine-specific map type.
    "q100_map_family" -> ((s, d) => {
      val counts = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("o_custkey"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("o_orderstatus"), col("cnt"))))).as("m"))
        .select(col("o_custkey"),
          size(map_keys(col("m"))).cast("long").as("n_statuses"),
          // explode of a MAP yields (key, value) — two generator columns
          explode(map_filter(transform_values(col("m"), (_, v) => v * 2),
            (_, v) => v >= 4)).as(Seq("status", "double_cnt")))
        .select(col("o_custkey"), col("status"), col("double_cnt"),
          col("n_statuses"))
        .orderBy(col("o_custkey"), col("status"))
    }),

    // Date/time function family: truncation, arithmetic, extraction,
    // epoch round-trips — string/integer outputs for the hash.
    "q91_date_family" -> ((s, d) => {
      Tables.orders(s, d).select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate")).cast("long")
            .as("days_to_end"))
        .orderBy(col("o_orderkey"))
    }),

    // Correlated scalar subquery + EXISTS through the SQL surface —
    // Catalyst de-correlates both (scalar → aggregate + left outer
    // join, EXISTS → left semi join), so the declarative form still
    // plans as shuffle-safe joins.
    "q89_correlated_subquery" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_cs")
      Tables.orders(s, d).createOrReplaceTempView("orders_cs")
      s.sql(
        """SELECT c_custkey, c_name,
          |  (SELECT max(o_totalprice) FROM orders_cs
          |   WHERE o_custkey = c_custkey) AS max_order
          |FROM customer_cs
          |WHERE EXISTS (SELECT 1 FROM orders_cs
          |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // 3-D Morton codes (the z-order generalization for three sort
    // dimensions — 21 bits each into one 63-bit key).
    "q87_zorder3" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.ZOrder.zValue3(
            pmod(col("l_partkey"), lit(2097152)),
            pmod(col("l_suppkey"), lit(2097152)),
            pmod(col("l_orderkey"), lit(2097152))).as("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Exact integer PageRank (3 unrolled iterations) over the
    // part→supplier bipartite graph from lineitem — the iterative
    // graph kernel sibling to q52's connected components. Scaled-long
    // arithmetic makes every iteration order-independent and therefore
    // oracle-checkable against DuckDB computing the same recurrence;
    // supplier nodes are offset by 10^6 to keep the id spaces disjoint.
    "q105_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select(
        col("l_partkey").as("src"),
        (lit(1000000L) + col("l_suppkey")).as("dst"))
      graft.ops.Graph.pageRankExact(edges, iters = 3)
        .select(col("node"), col("rank").as("rank_ppt"))
        .orderBy(col("node"))
    }),

    // q209: personalized PageRank — random walk restarting at three
    // seed parts; teleport AND dangling mass return to the seeds, so
    // rank concentrates in their join-neighborhood (seed-corpus
    // expansion / related-item scoring). Same scaled-long discipline
    // and graph as q105, so the unrolled recurrence is oracle-exact.
    "q209_ppr" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select(
        col("l_partkey").as("src"),
        (lit(1000000L) + col("l_suppkey")).as("dst"))
      graft.ops.Graph.personalizedPageRankExact(edges,
          seeds = Seq(1L, 2L, 3L), iters = 3)
        .select(col("node"), col("rank").as("rank_ppt"))
        .orderBy(col("node"))
    }),

    // q218: HITS hubs/authorities (Kleinberg) on the q105 graph —
    // parts act as hubs, suppliers as authorities. Sum-normalized
    // integer half-steps (any positive rescale preserves the HITS
    // ranking; L1 keeps it exact), unrolled for the oracle.
    "q218_hits" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select(
        col("l_partkey").as("src"),
        (lit(1000000L) + col("l_suppkey")).as("dst"))
      graft.ops.Graph.hitsExact(edges, iters = 2)
        .orderBy(col("node"))
    }),

    // q168: synchronous label-propagation communities (3 rounds,
    // min-label tie-break) over the part CO-PURCHASE graph, read from
    // the bucketed artifact (round-10: the q197/q204/q337 path — one
    // bucketed write feeds all five graph queries; label init and the
    // per-round neighbor-count groupBy land on the bucket key with no
    // Exchange). Deterministic by construction, so the unrolled
    // recurrence stays oracle-checkable.
    "q168_label_propagation" -> ((s, d) =>
      graft.ops.Graph.labelPropagationSym(
          coPurchaseAdj(s, d).select(col("u").as("src"), col("v").as("dst")),
          iters = 3)
        .orderBy(col("node"))),

    // Materialized-view rewrite (Goldstein–Larson summary matching as
    // a Catalyst Rule): this aggregate GROUPS COARSER than the
    // registered (returnflag, linestatus) rollup, so the optimizer
    // swaps the lineitem scan for a re-aggregation of the summary
    // parquet — value-identical by SUM/COUNT re-aggregability, which
    // the raw-table oracle certifies; MvRewriteSpec pins that the
    // plan actually reads the summary, not the fact table.
    "q224_mv_rewrite" -> ((s, d) => {
      Bridge.addOptimization(s, lineitemMvRule(s, d))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Grid-density clustering (cell-based DBSCAN family): bucket
    // lineitems into (price, quantity) cells, cells with ≥280 points
    // are core, 8-adjacent core cells union into clusters via the
    // q207 star-contraction CC — arbitrary-shape density clusters
    // with ONE key shuffle and a bounded cell graph, no ε-range join.
    "q221_grid_density" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      graft.cluster.GridDensity.clusters(li,
          floor(round(col("l_extendedprice") * 100) / 500000),
          floor(round(col("l_quantity")) / 5),
          minPts = 280L)
        .orderBy(col("cx"), col("cy"))
    }),

    // Exact quantity-weighted median price per return flag: smallest
    // price whose cumulative quantity reaches half the total —
    // integer boundary, windows over the (flag, cents) grid only.
    "q220_weighted_median" -> ((s, d) => {
      graft.ops.MlEval.weightedMedian(Tables.lineitem(s, d), "l_returnflag",
          round(col("l_extendedprice") * 100),
          round(col("l_quantity")))
        .orderBy(col("l_returnflag"))
    }),

    // Fellegi–Sunter probabilistic record linkage over customers:
    // block, compare name-suffix and acctbal band, score = Σ integer
    // centi-bit log-likelihood weights (m=.95/u=.01 → +340/−10 for
    // name; m=.9/u=.2 → +220/−35 for balance band) — the Splink-style
    // fixed-point FS model, exact.
    //
    // Round-11 re-cut (verdict ask #2): blocks on the CONSTANT-SIZE
    // quasi-identifier — the 16-char name prefix (the q343 move) —
    // instead of (nation, segment). The old key had a FIXED COUNT of
    // blocks (25 nations × 5 segments), so block sizes grew linearly
    // with the data and the within-block pair grid quadratically —
    // the repo's own q343 comment measured that exact shape at 79×
    // per 100×. The name prefix leaves only the last two digits of
    // the padded customer number inside a block (≤100 rows per block
    // at EVERY scale factor), so candidate volume grows linearly and
    // each block is one in-memory join cell.
    "q213_fs_linkage" -> ((s, d) => {
      val pairs = graft.ops.Reconcile.blockedPairs(
        Tables.customer(s, d)
          .withColumn("c_blk", substring(col("c_name"), 1, 16)),
        "c_custkey",
        blockCols = Seq("c_blk"),
        comparisons = Seq(
          "c_name" -> (c => substring(c, -2, 2)),
          "c_acctbal" -> (c => floor(c / 1000))))
      graft.ops.Reconcile.fsScore(pairs,
          weights = Seq(("c_name", 340L, -10L), ("c_acctbal", 220L, -35L)))
        .select(col("id_a"), col("id_b"), col("agree_c_name"),
          col("agree_c_acctbal"), col("fs_score_cb"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // HYBRID skew join: keys with ≥30 lineitem rows go through a
    // broadcast hash join of just their part rows, the light residue
    // through the ordinary shuffle join — the frequency-partitioned
    // complement to q67's salting (which replicates the WHOLE dim
    // `salts`×). Threshold 30 ≈ the sf0.01 median key frequency, so
    // BOTH paths carry real rows here; the result provably equals the
    // plain join, which is exactly what the oracle computes.
    "q208_hybrid_skew_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_extendedprice"))
      val pt = Tables.part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.ops.Skew.hybridJoin(li, pt, Seq("l_partkey"), heavyThreshold = 30L)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
        .orderBy(col("p_brand"))
    }),

    // Hierarchical rollup (beyond the reference — no grouping sets
    // exist there; Catalyst's Expand covers them natively). Subtotal
    // rows keyed 'ALL' so ordering/compare is null-free.
    "q46_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))
    }),

    // q174: 2-D Pareto frontier of parts (maximize p_size, minimize
    // p_retailprice) — the skyline operator. Engine plan = bucketed
    // local-prune + global window (never a pair join); the oracle is
    // the INDEPENDENT quadratic NOT EXISTS dominance formulation, so
    // the check is a true cross-formulation equivalence.
    "q174_pareto_front" -> ((s, d) => {
      graft.ops.Skyline.pareto2D(
          Tables.part(s, d).select(col("p_partkey"), col("p_size"),
            col("p_retailprice")),
          maxCol = "p_size", minCol = "p_retailprice")
        .orderBy(col("p_partkey"))
    }),

    // q176: BFS minimum-hop distances from the landmark part node 1
    // over the same part↔supplier graph as q105/q168 — frontier BSP
    // with anti-join dedup; the oracle unrolls the same three rounds
    // as min-over-union CTEs.
    "q176_bfs_landmark" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select(
        col("l_partkey").as("src"),
        (lit(1000000L) + col("l_suppkey")).as("dst"))
      graft.ops.Graph.bfsDistances(edges, source = 1L, maxHops = 3)
        .orderBy(col("node"))
    }),

    // q197: bounded k-core peel (Seidman 1983) over the part
    // CO-PURCHASE graph (parts sharing an order) — 3 rounds of
    // "delete degree < 60", the density filter of the graph family
    // (q105 rank / q168 communities / q109 triangles); survivors
    // report their in-core degree. The co-purchase graph keeps a
    // similar degree distribution across scale factors (per-order
    // basket size is SF-invariant), so the same k peels a thin,
    // non-empty fringe everywhere.
    "q197_kcore" -> ((s, d) =>
      graft.ops.Graph.kCoreSym(
        coPurchaseAdj(s, d).select(col("u"), col("v")), k = 60, rounds = 3)),

    // q199: Hilbert-curve index of (l_partkey, l_suppkey) at 8 bits
    // per dimension — the strictly-better-locality sibling of q78's
    // Morton z-value (unit steps, no curve seams), state machine
    // derived at init and mirrored into the oracle as linear CTEs.
    "q199_hilbert" -> ((s, d) =>
      graft.ops.Hilbert.withHilbert(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        col("l_partkey"), col("l_suppkey"), bits = 8, out = "hval")
        .select(col("l_orderkey"), col("l_linenumber"), col("hval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // q204: local clustering coefficient per node — triangles over
    // wedges, cc = 2·T(v)/(deg(v)·(deg(v)−1)) over the q197
    // co-purchase graph. The bucketed artifact makes the whole prefix
    // exchange-free: degrees = groupBy on the bucket key; the
    // degree-ORIENTED edge list = a narrow filter (both endpoint
    // degrees ride on the row), handed straight to the triangle
    // kernel's oriented entry — no degree agg, no orientation joins.
    "q204_clustering_coef" -> ((s, d) => {
      val adj = coPurchaseAdj(s, d)
      val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      val o = adj
        .filter(struct(col("deg_u"), col("u")) < struct(col("deg_v"), col("v")))
        .select(col("u").as("src"), col("v").as("dst"))
      val tri = graft.ops.Graph.triangleCountsOriented(o, adj.count() / 2)
      deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          when(col("deg") >= 2L,
            round((lit(2) * coalesce(col("n_triangles"), lit(0L))
                .cast("double")) /
              (col("deg") * (col("deg") - 1L)).cast("double"), 9))
            .otherwise(lit(0.0)).as("cc9"))
        .orderBy(col("node"))
    }),

    // q337: link prediction over the co-purchase graph — Adamic–Adar
    // + Jaccard common-neighbor scores for non-adjacent pairs, top-100
    // by (aa9 DESC, a, b). The hub cap (deg ≤ 80) is the operator's
    // scale lever (bounds wedge fan-out at cap² per center) AND a
    // pinned semantic both engines replay; cap 100 measured 7× the
    // wedge volume (35M rows at sf0.1) for hubs contributing ~zero AA
    // signal — 80 keeps the same top pairs at a 5M-wedge cost. The
    // wedge self-join reads both sides from the bucketed artifact
    // (co-located on w).
    "q337_link_prediction" -> ((s, d) =>
      graft.ops.Graph.linkPrediction(coPurchaseAdj(s, d),
        hubCap = 80L, k = 100)),

    // q192: exact join-size prediction from per-key histograms — the
    // self-join fan-out predictor (Σ cnt² over l_partkey) plus the
    // top-5 skew keys a salted join / AQE split would target; never
    // runs the join itself.
    "q192_join_cardinality" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      graft.ops.Profile.joinCardinality(li, "l_partkey", li, "l_partkey",
        topN = 5)
    }),

    // q190: ANALYZE-style column profile of orders — per-column null
    // count + exact distinct cardinality in one declared pass (one
    // Expand, partial aggs, table read once); the ingest-QA report.
    "q190_column_profile" -> ((s, d) =>
      graft.ops.Profile.columnProfile(Tables.orders(s, d))),

    // q239: expectation-suite batch gate over the star schema — row
    // rules, key uniqueness, referential integrity, each ONE exact
    // aggregate pass; includes checks that genuinely fail on this
    // data (value≤100, n_chars≥100) so the violation counting is
    // exercised, not decorative.
    "q239_quality_checks" -> ((s, d) => {
      import graft.ops.Profile._
      val suite = rowRuleChecks(Tables.lineitem(s, d), "lineitem", Seq(
          "quantity_range" -> col("l_quantity").between(1, 50)))
        .union(rowRuleChecks(Tables.events(s, d), "events", Seq(
          "value_positive" -> (col("value") > 0),
          "value_le_100" -> (col("value") <= 100),
          "known_type" -> col("event_type").isin(
            "click", "view", "purchase", "signup", "error"))))
        .union(rowRuleChecks(Tables.documents(s, d), "documents", Seq(
          "nonempty_text" -> (length(col("text")) > 0),
          "min_chars_100" -> (col("n_chars") >= 100))))
        .union(uniqueCheck(Tables.orders(s, d), "orders", "o_orderkey"))
        .union(refIntegrityCheck(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "orders"))
      suite.orderBy(col("table_name"), col("check_name"))
    }),

    // q263: column-level lineage extracted from the engine's OWN
    // analyzed Catalyst plans (never SQL-text regexing) for two
    // declared queries — the governance/impact-analysis table; the
    // oracle is the PINNED expected mapping, so any plan-construction
    // drift that changes provenance flips the correctness gate.
    "q263_column_lineage" -> ((s, d) => {
      graft.plans.Lineage.lineageDf(s, "q01_pricing_summary",
          queries("q01_pricing_summary")(s, d))
        .unionByName(graft.plans.Lineage.lineageDf(s, "q03_segment_revenue",
          queries("q03_segment_revenue")(s, d)))
        .orderBy(col("query_name"), col("out_col"))
    }),

    // q258: layout-skipping A/B — the same lineitem rows blocked
    // under (a) lexicographic (partkey, suppkey) order and (b) their
    // Z-interleave, zone-mapped, scored against one 2-D predicate
    // box. Measures what q78's curve actually buys: only the leading
    // column prunes under lex; both prune under Z.
    "q258_layout_skipping" -> ((s, d) => {
      graft.ops.ZoneMap.layoutSkipping(Tables.lineitem(s, d),
          xCol = pmod(col("l_partkey"), lit(65536)),
          yCol = pmod(col("l_suppkey"), lit(65536)),
          tieCols = Seq(col("l_orderkey"), col("l_linenumber")),
          blockSize = 1024,
          // box restricts ONLY the second dim: the lex layout is
          // blind to it (leading column unconstrained), the curve
          // is not — the contrast the A/B exists to show
          xLo = 0L, xHi = 65535L, yLo = 0L, yHi = 10L)
        .orderBy(col("layout"))
    }),

    // q250: TPC-H Q3 (shipping priority) adapted to this schema —
    // the classic 3-way join + revenue rollup + top-k: segment-
    // filtered customers ⋈ pre-cutoff orders ⋈ post-cutoff lineitems,
    // exact scaled-long revenue, (revenue DESC, orderkey) top-10 via
    // TakeOrdered. Both fact-side filters push to the parquet scans;
    // the customer side broadcasts.
    "q250_tpch_q3" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      // nation/region are the only FIXED-size dims; customer grows
      // with SF (not broadcastable at 100 TB) — AQE picks broadcast
      // at small scale, shuffle join at large
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(Exact.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // q251: TPC-H Q5 (local supplier volume): the 6-way star join
    // where customer and supplier must sit in the SAME nation, region
    // = ASIA, one-year order window; revenue per nation. Dimension
    // chain broadcasts; the orders/lineitem join is the only big
    // shuffle.
    "q251_tpch_q5" -> ((s, d) => {
      val dims = broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      // customer/supplier scale with SF — no hard broadcast hints;
      // only the fixed nation⋈region chain is pinned broadcast
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(dims, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(Exact.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // q252: TPC-H Q10 (returned-item reporting): customers ranked by
    // revenue lost to returns in one quarter — orders window filter,
    // returnflag filter, 4-way join, exact revenue, top-20.
    "q252_tpch_q10" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-10-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("n_name"))
        .agg(Exact.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // q270: TPC-H Q17 (small-quantity-order revenue) adapted — the
    // correlated-aggregate-against-the-fact-table stress shape: every
    // lineitem compares its quantity to 20% of ITS part's average,
    // stated division-free (5·qty·cnt < Σqty — integral doubles, so
    // the per-part aggregate is order-exact) and grouped per brand.
    // Plan: one partial-agg shuffle on l_partkey builds the per-part
    // profile, AQE joins it back to the fact scan (fact-fact), the
    // part dim broadcasts.
    "q270_tpch_q17" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val pq = l.groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      l.join(pq, Seq("l_partkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter(col("l_quantity") * 5 * col("cnt") < col("sum_qty"))
        .groupBy(col("p_brand"))
        .agg(Exact.sumExact(col("l_extendedprice"), 4).as("rev"))
        .select(col("p_brand"), (col("rev") / 7.0).as("avg_yearly"))
        .orderBy(col("p_brand"))
    }),

    // q271: TPC-H Q20 (part promotion) adapted to a schema without
    // partsupp — the nested semi-join + correlated-agg shape intact:
    // suppliers (in one nation) shipping MORE THAN TWICE the fair
    // per-supplier share of some red part (sup_qty·n_suppliers >
    // 2·part_qty — cross-multiplied exact integers). Inner: two
    // aggregations over the name-filtered fact slice joined on the
    // part key; outer: one left-semi against the supplier dim.
    "q271_tpch_q20" -> ((s, d) => {
      val lr = Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_name").like("%red%"))
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val pt = lr.groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("part_qty"),
          countDistinct(col("l_suppkey")).as("ns"))
      val sp = lr.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("sup_qty"))
      val dominant = sp.join(pt, Seq("l_partkey"))
        .filter(col("sup_qty") * col("ns") > col("part_qty") * 2)
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_3")
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }),

    // q272: TPC-H Q21 (suppliers who kept orders waiting) adapted —
    // the multi-EXISTS self-join stress shape on the fact table with
    // l_returnflag = 'R' standing in for the missing receipt/commit
    // dates: a supplier "kept order waiting" iff its line was
    // returned on a finished multi-supplier order where NO other
    // supplier's line was returned. One semi + one anti self-join,
    // both equi on l_orderkey (never a cartesian), then the supplier
    // rollup and deterministic top-100.
    "q272_tpch_q21" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val l1 = li.filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      l1.join(l2, col("l_orderkey") === col("o2")
          && col("l_suppkey") =!= col("s2"), "left_semi")
        .join(l3, col("l_orderkey") === col("o3")
          && col("l_suppkey") =!= col("s3"), "left_anti")
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // q273: the STORAGE-PARTITIONED JOIN declared end-to-end (round-8
    // verdict ask #8): both fact tables are written co-bucketed on
    // the order key (8 buckets, in-bucket sorted), so the merge-
    // hinted join AND the per-order rollup reuse the bucket spec as
    // their distribution — the whole scan→join→agg pipeline plans
    // with ZERO Exchange (asserted in BucketingSpec), which at 100 TB
    // is the never-reshuffle-the-fact-table contract. Revenue is the
    // exact scaled-long idiom; top-10 via TakeOrdered.
    "q273_bucketed_join" -> ((s, d) => {
      val (l, o) = bucketedFacts(s, d)
      l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(max(col("o_orderpriority")).as("o_orderpriority"),
          count(lit(1)).as("n_lines"),
          Exact.sumExact(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // q249: snapshot table diff — key-level added/removed/changed/
    // same classification with exact changed-column lists, against a
    // deterministic synthetic "new version" (every %11 key dropped,
    // every %7 price bumped, every %13 key re-added shifted). One
    // full-outer join; bucket both sides on the key at scale.
    "q249_table_diff" -> ((s, d) => {
      val base = Tables.orders(s, d)
      val neu = base.filter(col("o_orderkey") % 11 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
        .unionByName(base.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000))
      graft.ops.Reconcile.tableDiff(base, neu, "o_orderkey",
          Seq("o_custkey", "o_totalprice", "o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // q185: bounded Bellman–Ford shortest-path WEIGHTS over the same
    // graph, edge weight = min l_quantity of the pair — the min-plus
    // sibling of q176 (a longer-but-lighter path can beat the BFS
    // path, so relaxation is whole-set, not frontier).
    "q185_sssp" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select(
        col("l_partkey").as("src"),
        (lit(1000000L) + col("l_suppkey")).as("dst"),
        col("l_quantity").cast("long").as("w"))
      graft.ops.Graph.sssp(edges, source = 1L, rounds = 3)
        .orderBy(col("node"))
    }),

    // q275: TPC-H Q4 (order-priority checking) — the EXISTS-semi-join
    // report: orders in one quarter having at least one returned line
    // (returnflag 'R' standing in for the missing receipt/commit
    // lateness), counted per priority. The quarter filter pushes to
    // the orders scan; the probe side projects one column before the
    // semi join, so the shuffle carries only (orderkey).
    "q275_tpch_q4" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-07-01") &&
          col("o_orderdate") < lit("1997-10-01"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val ret = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      o.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // q276: TPC-H Q7 (volume shipping) — bilateral trade between two
    // blocs: supplier in one, customer in the other, BOTH directions,
    // revenue per (supp bloc, cust bloc, ship-year). Lifted from
    // nation pairs to REGION pairs (ASIA↔EUROPE): at sf0.001 only 10
    // suppliers exist across 25 nations, so any specific nation pair
    // is empty — a region pair is populated at every SF with the
    // identical join/filter shape. The two-bloc filter lands on the
    // DIMENSIONS (supplier/customer shrink ~60% before touching the
    // fact), the pair condition on the joined result; the fixed
    // nation⋈region chains broadcast, the rest is AQE's choice.
    "q276_tpch_q7" -> ((s, d) => {
      val blocs = Tables.nation(s, d)
        .join(Tables.region(s, d)
          .filter(col("r_name").isin("ASIA", "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("r_name"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(blocs.select(col("n_nationkey"),
          col("r_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(blocs.select(col("n_nationkey").as("cnk"),
          col("r_name").as("cust_nation"))),
          col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("cust_nation"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1999-01-01"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      l.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "ASIA" &&
            col("cust_nation") === "EUROPE") ||
          (col("supp_nation") === "EUROPE" &&
            col("cust_nation") === "ASIA"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(Exact.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // q277: TPC-H Q8 (national market share) — NATION_1 suppliers'
    // share of PROMO-part revenue sold to EUROPE customers, per order
    // year. Numerator and denominator are both exact scaled-long sums;
    // the share is one double division of two exact doubles, so it is
    // bit-identical cross-engine without rounding.
    "q277_tpch_q8" -> ((s, d) => {
      val eur = broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("eur_nk")))
      val cust = Tables.customer(s, d)
        .join(eur, col("c_nationkey") === col("eur_nk"))
        .select(col("c_custkey"))
      val supn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val promo = Tables.part(s, d)
        .filter(col("p_type") === "PROMO").select(col("p_partkey"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(promo, col("l_partkey") === col("p_partkey"))
        .join(supn, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          Exact.sumExact(when(col("supp_nation") === "NATION_1", rev)
            .otherwise(lit(0.0)), 4).as("nation_volume"),
          Exact.sumExact(rev, 4).as("volume"))
        .select(col("o_year"), col("nation_volume"), col("volume"),
          (col("nation_volume") / col("volume")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // q278: TPC-H Q9 (product-type profit) adapted to a schema with
    // no partsupp: unit cost proxied by 10% of the part's retail
    // price, so profit = rev − qty·retail/10 — all scaled-long exact
    // (retail has one decimal → deci-units; qty is an integral
    // double). Profit per (supplier nation, order year) over STANDARD
    // parts; the classic 5-way snowflake rollup.
    "q278_tpch_q9" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_retailprice"))
      val supn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("nation"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      val amountScaled =
        Exact.scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4) -
          Exact.scaled(col("p_retailprice"), 1) *
            col("l_quantity").cast("long") * lit(100L)
      Tables.lineitem(s, d)
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(supn, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(amountScaled).cast("double") / 10000.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // q279: TPC-H Q11 (important stock) — the scalar-subquery HAVING:
    // per-part lineitem value over a supplier slice, keeping parts
    // above 2× the mean part value. Division-free cross-multiply
    // (v·n_parts > 2·total — exact cents longs) makes the threshold
    // scale-invariant, so the query returns a thin non-empty set at
    // every SF. The one-row total attaches via broadcast crossJoin
    // (PlanLint scalarBroadcast class).
    "q279_tpch_q11" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
        .filter(col("s_nationkey") < 12).select(col("s_suppkey"))
      val perPart = Tables.lineitem(s, d)
        .join(sup, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(Exact.scaled(col("l_extendedprice"), 2)).as("value_cents"))
      val total = perPart
        .agg(sum(col("value_cents")).as("tot_cents"),
          count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_cents") * col("n_parts") >
          col("tot_cents") * 2)
        .select(col("l_partkey"),
          (col("value_cents").cast("double") / 100.0).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // q280: TPC-H Q13 (customer distribution) — the left-outer
    // histogram: orders per customer INCLUDING zero-order customers
    // (the outer join preserves them through the first rollup), then
    // the distribution of those counts. Priority filter stands in for
    // the comment NOT LIKE.
    "q280_tpch_q13" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"))
      val per = Tables.customer(s, d).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
      per.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // q281: TPC-H Q14 (promotion effect) per ship month — conditional
    // share of PROMO-part revenue. Both sums exact scaled-long; the
    // percentage is (100·promo)/total in that exact association order
    // on both engines.
    "q281_tpch_q14" -> ((s, d) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(
          Exact.sumExact(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0.0)), 4).as("promo_rev"),
          Exact.sumExact(rev, 4).as("total_rev"))
        .select(col("ship_month"), col("promo_rev"), col("total_rev"),
          (lit(100.0) * col("promo_rev") / col("total_rev"))
            .as("promo_pct"))
        .orderBy(col("ship_month"))
    }),

    // q282: TPC-H Q18 (large-volume customers) — group-HAVING on the
    // fact table feeding a dimension join: orders whose total quantity
    // exceeds 250 (p99 of per-order quantity in this data), reported
    // with their customer, top-100 by order value. The HAVING runs as
    // one partial-agg shuffle BEFORE any join — the fact never joins
    // unfiltered.
    "q282_tpch_q18" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // q283: TPC-H Q19 (discounted revenue) — the disjunctive bracket
    // predicate: three OR'd (brand, size-range, quantity-range)
    // brackets that Catalyst must keep join-pushable (the part
    // conjuncts prune the dimension, the quantity conjuncts the fact
    // scan). Revenue per bracket brand.
    "q283_tpch_q19" -> ((s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .groupBy(col("p_brand"))
        .agg(Exact.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("p_brand"))
    }),

    // q284: TPC-H Q22 (global sales opportunity) — the scalar-average
    // + anti-join shape: customers in low-key nations with above-
    // average positive balance and no URGENT order (every customer in
    // this data has SOME order, so the textbook no-orders test would
    // be vacuous; the priority-sliced anti join keeps the shape and a
    // real selectivity — 2/31/373 rows at the three SFs). The average
    // compare is division-free (bal_cents·n_pos > tot_cents — exact
    // longs); the missing-order test is a left anti join, never NOT
    // IN. One-row aggregate attaches via broadcast crossJoin
    // (scalarBroadcast).
    "q284_tpch_q22" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_nationkey") < 10)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgRow = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(Exact.scaled(col("c_acctbal"), 2)).as("tot_cents"),
          count(lit(1)).as("n_pos"))
      cust
        .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(avgRow))
        .filter(Exact.scaled(col("c_acctbal"), 2) * col("n_pos") >
          col("tot_cents"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          (sum(Exact.scaled(col("c_acctbal"), 2)).cast("double") / 100.0)
            .as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // q285: TPC-H Q16 (parts/supplier relationship) — distinct-count
    // after an anti join: suppliers per (brand, type, size) over a
    // size IN-list and brand exclusion, excluding negative-balance
    // suppliers (the complaints stand-in). countDistinct plans as a
    // two-phase Expand aggregate — no per-group sets on the driver.
    "q285_tpch_q16" -> ((s, d) => {
      val badSup = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val p = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(badSup, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // q286: TPC-H Q12 (shipping modes / critical orders) — the
    // conditional-count pivot: per linestatus (shipmode stand-in),
    // lines shipped in 1997 split into critical (URGENT/HIGH order
    // priority) vs other. The year filter pushes to the fact scan;
    // orders attaches by equi join.
    "q286_tpch_q12" -> ((s, d) => {
      val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    // q289: k-anonymity / l-diversity audit — the privacy-QA gate a
    // training corpus runs before release (Sweeney 2002; Machanavajjhala
    // 2007): group customers by quasi-identifier (segment, balance
    // K-bucket), report each equivalence class's size, its sensitive-
    // attribute (nation) diversity, and the k<5 / l<3 violation flags.
    // One partial-agg shuffle; the flags are plain integer compares.
    "q289_k_anonymity" -> ((s, d) => {
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("c_nationkey")).as("n_distinct_nation"))
        .select(col("c_mktsegment"), col("bal_bucket"), col("class_size"),
          col("n_distinct_nation"),
          when(col("class_size") >= 5L, 1L).otherwise(0L).as("k_anonymous"),
          when(col("n_distinct_nation") >= 3L, 1L).otherwise(0L)
            .as("l_diverse"))
        .orderBy(col("c_mktsegment"), col("bal_bucket"))
    }),

    // q291: in-pass QA counters via the OBSERVE API (CollectMetrics) —
    // the zero-extra-scan ingest audit: row count, exact value total,
    // high-discount count and max quantity ride the SAME physical pass
    // as the (discarded) main action instead of a second scan — at
    // 100 TB the difference between auditing for free and re-reading
    // the lake. The declared output is the observed metrics row; the
    // oracle computes the same aggregates declaratively.
    "q291_observe_metrics" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val od = Tables.lineitem(s, d).observe(obs,
        count(lit(1)).as("n_rows"),
        sum(Exact.scaled(col("l_extendedprice"), 2)).as("price_cents"),
        sum(when(col("l_discount") >= 0.06, 1L).otherwise(0L))
          .as("n_high_discount"),
        max(col("l_quantity")).as("max_qty"))
      od.foreach(_ => ()) // the one real pass; metrics piggyback on it
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("price_cents").asInstanceOf[Long],
        m("n_high_discount").asInstanceOf[Long],
        m("max_qty").asInstanceOf[Double]))
        .toDF("n_rows", "price_cents", "n_high_discount", "max_qty")
    }),

    // q292: the rank-function family Spark's §2.6 coverage had not yet
    // exercised — ntile / percent_rank / cume_dist over a TOTAL order
    // (quantity, orderkey, linenumber — no tie nondeterminism inside
    // ntile), summarized per (returnflag, quartile). percent_rank and
    // cume_dist are single divisions of exact integer ranks, rounded
    // at 9 (O(1) magnitudes).
    "q292_rank_family" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"),
          col("l_linenumber"))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy(col("l_returnflag"), col("tile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("pr")), 9).as("min_pr9"),
          round(max(col("pr")), 9).as("max_pr9"),
          round(max(col("cd")), 9).as("max_cd9"),
          sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"), col("tile"))
    }),

    // q293: incremental view maintenance by PARTIAL-STATE MERGE — the
    // 100 TB refresh pattern behind q224's materialized view: when a
    // delta batch arrives, re-aggregate ONLY the delta and merge its
    // (sum, count) partials with the stored base partials, instead of
    // rescanning the base. Declared as base-slice partials ∪ delta
    // partials → merge, which provably equals the full rollup (sums
    // and counts are commutative monoids) — exactly what the oracle
    // computes in one pass. At scale the base partials are a stored
    // O(groups) table, so refresh cost is O(delta), not O(base).
    "q293_incremental_rollup" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def partials(df: DataFrame): DataFrame =
        df.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(Exact.scaled(col("l_extendedprice"), 2)).as("price_cents"),
            count(lit(1)).as("cnt"))
      val base = partials(li.filter(col("l_orderkey") % 10 =!= 0))
      val delta = partials(li.filter(col("l_orderkey") % 10 === 0))
      base.unionByName(delta)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("price_cents")).as("merged_cents"),
          sum(col("cnt")).as("n_rows"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("merged_cents").cast("double") / 100.0).as("total_price"),
          col("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // q301: TPC-H Q6 (forecasting revenue change) — the pure
    // scan-side query: every predicate pushes to the parquet scan,
    // zero joins, one partial agg. The discount band compares the
    // EXACT cent value (round(d·100) ∈ [5,7]) so both engines make
    // the same in/out decision on every row regardless of how 0.05
    // rounds in binary; revenue is the usual scaled-long sum.
    "q301_tpch_q6" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          round(col("l_discount") * 100).cast("long").between(5L, 7L) &&
          col("l_quantity") < 24)
        .agg(Exact.sumExact(col("l_extendedprice") * col("l_discount"), 4)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // q302: TPC-H Q2 (minimum-cost supplier) adapted to a schema with
    // no partsupp: the supply relation is derived from the fact table
    // (cheapest line offer per (part, supplier), exact cents), and
    // the classic correlated-min subquery keeps its shape — only
    // (part, supplier) offers MATCHING the part's minimum ASIA-region
    // cost survive. The region filter lands on the 100-row supplier
    // dimension (broadcast); the supply build is one partial agg over
    // the fact; the per-part minimum is a second O(parts) agg joined
    // back by (part, cost) equality — never a theta join.
    "q302_tpch_q2" -> ((s, d) => {
      val supply = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(Exact.scaled(col("l_extendedprice"), 2)).as("cost_cents"))
      val asiaSup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      // staged (round-12, guide §2): asiaSupply feeds BOTH the min-cost
      // aggregation and the winners join below — unsnapshotted, the
      // full lineitem (partkey, suppkey) aggregation + supplier join
      // replayed in each consumer (two lineitem scans in the plan)
      val asiaSupply = graft.util.Snapshots.stage(supply
        .join(asiaSup, col("l_suppkey") === col("s_suppkey")))
      val minCost = asiaSupply
        .groupBy(col("l_partkey").as("mp"))
        .agg(min(col("cost_cents")).as("min_cost_cents"))
      asiaSupply
        .join(minCost, col("l_partkey") === col("mp") &&
          col("cost_cents") === col("min_cost_cents"))
        .join(Tables.part(s, d)
          .filter(col("p_type") === "PROMO" && col("p_size") <= 25)
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .select(Exact.scaled(col("s_acctbal"), 2).as("acctbal_cents"),
          col("s_name"), col("n_name"), col("p_partkey"), col("p_brand"),
          col("p_size"), col("cost_cents"))
        .orderBy(col("acctbal_cents").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
    }),

    // q303: TPC-H Q15 (top supplier) — the revenue-view + scalar-max
    // shape: per-supplier 3-month revenue as an exact scaled-long,
    // winners selected by EQUALITY against the 1-row global max
    // (broadcast; ties all surface, exactly the spec's semantics —
    // no nondeterministic pick). Completes the 22/22 TPC-H sweep
    // together with q301/q302.
    "q303_tpch_q15" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(Exact.scaled(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
          .as("rev_du"))
      rev
        .join(broadcast(rev.agg(max(col("rev_du")).as("mx"))),
          col("rev_du") === col("mx"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_du").cast("double") / 10000.0).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // q307: Newman–Girvan modularity of q168's label-propagation
    // communities over the same part co-purchase graph — the "was this
    // clustering better than chance" score every community pipeline
    // reports. Round-10: BOTH the LPA and the modularity decomposition
    // read the bucketed artifact (narrow u<v filter for the undirected
    // list, degrees grouped on the bucket key — no Exchange before the
    // first agg). Per-community numerator 4·m·e_c − d_c² stays integer
    // (exact cross-engine); the graph family's quality metric beside
    // q105 rank / q168 membership / q197 density.
    "q307_modularity" -> ((s, d) => {
      val adj = coPurchaseAdj(s, d)
      val comm = graft.ops.Graph.labelPropagationSym(
        adj.select(col("u").as("src"), col("v").as("dst")), iters = 3)
      graft.ops.Graph.modularitySym(adj, comm)
        .orderBy(col("community"))
    }),

    // q308: LEAVE-ONE-OUT TARGET ENCODING — the standard
    // high-cardinality categorical feature for tabular models, with
    // the own-row response excluded so the encoding never leaks the
    // label it will predict (the q181/q228 leakage-safe-split
    // discipline applied to feature construction). One O(categories)
    // partial agg broadcast back onto the stream side; the encoding
    // (S−x)/((n−1)·100) is one double division of exact longs.
    "q308_target_encoding" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"),
        Exact.scaled(col("o_totalprice"), 2).as("cents"))
      val g = o.groupBy(col("o_orderpriority"))
        .agg(sum(col("cents")).as("grp_sum"), count(lit(1)).as("grp_n"))
      o.join(broadcast(g), Seq("o_orderpriority"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          ((col("grp_sum") - col("cents")).cast("double") /
            ((col("grp_n") - lit(1L)) * lit(100L)).cast("double"))
            .as("loo_enc"))
        .orderBy(col("o_orderkey"))
    }),

    // q312: CUSTOM DATASOURCE V2 — the engine's own `grec` binary
    // record format read back through a from-scratch TableProvider
    // (schema inferred from the file header, one partition per file,
    // SupportsPushDownRequiredColumns so the byte decoder SKIPS pruned
    // columns — l_orderkey below never deserializes). The remaining
    // Spark-extension quadrant beside Expression/UDAF/Generator/Rule/
    // Strategy; the oracle reads the SAME rows from parquet, so the
    // whole connector (header walk, record decode, pruning) is under
    // the correctness gate, not just a spec.
    "q312_custom_source" -> ((s, d) => {
      s.read.format("graft.io.GraftRecSource").load(grecDir(s, d))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          Exact.sumExact(col("l_extendedprice"), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),

    // q313: grec WRITE path under the two-phase COMMIT protocol
    // (round-9 verdict ask #7) — a stale generation is written first,
    // then the real projection OVERWRITES it through staged files +
    // job-commit rename/truncate; the read-back proves the committed
    // swap was complete and atomic (any surviving stale row or staged
    // fragment would break the oracle, which replays the final
    // generation straight from orders).
    "q313_grec_write_roundtrip" -> ((s, d) => {
      val dir = Caches.workspace("grec_rt", s)
      val proj = Tables.orders(s, d).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      // stale generation: a different, overlapping subset
      proj.filter(col("o_orderkey") % 7 === 0)
        .write.format("graft.io.GraftRecSource").mode("append").save(dir)
      // committed overwrite: replaces the stale generation atomically
      proj.filter(col("o_orderpriority") === "1-URGENT")
        .write.format("graft.io.GraftRecSource").mode("overwrite").save(dir)
      s.read.format("graft.io.GraftRecSource").load(dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Exact.sumExact(col("o_totalprice"), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // q327: grec FILTER PUSHDOWN — the second DSv2 pushdown axis
    // beside q312's column pruning: the string equality and the
    // double range predicate are accepted by pushFilters and
    // evaluated INSIDE the byte decoder (l_returnflag is also PRUNED
    // from the output, so the reader decodes it transiently for the
    // predicate only), while the modulo predicate is handed back and
    // stays a post-scan Filter — partial pushdown, exactly the
    // contract. The oracle replays the whole predicate set from
    // parquet, so a reader that mis-evaluated or mis-ordered a pushed
    // filter breaks every aggregate.
    "q327_grec_filter_pushdown" -> ((s, d) => {
      s.read.format("graft.io.GraftRecSource").load(grecDir(s, d))
        .where(col("l_returnflag") === "R" &&
          col("l_quantity") >= 30.0 && col("l_orderkey") % 3 === 0)
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          Exact.sumExact(col("l_extendedprice"), 2).as("revenue"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    }),

    // q329: grec AGGREGATE PUSHDOWN — the third DSv2 pushdown axis,
    // completing the triad (columns q312, filters q327): COUNT / MIN /
    // MAX / SUM(long) with grouping are PARTIALLY pushed — the reader
    // aggregates its whole file (after the pushed range filter) and
    // emits O(groups) rows, Spark's final aggregate merges across
    // files. Map-side combine executed inside the source: at 100 TB
    // this is the difference between shipping records and shipping
    // group summaries out of the scan. Double sums deliberately stay
    // in Spark (accumulation-order nondeterminism — the Exact
    // discipline), which the q327 shape already covers.
    "q329_grec_agg_pushdown" -> ((s, d) => {
      s.read.format("graft.io.GraftRecSource").load(grecDir(s, d))
        .where(col("l_quantity") >= 10.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          sum(col("l_orderkey")).as("sum_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // q330: grec LIMIT PUSHDOWN — the fourth pushdown surface: the
    // reader STOPS DECODING after the pushed k (partial pushdown —
    // Spark still applies the global limit across files). Declared in
    // a deterministic regime: the table is written as ONE file in
    // o_orderkey order (global sort → coalesce(1) keeps range-partition
    // order), so "first 100 records in file order" ≡ the 100 smallest
    // keys, which DuckDB replays as ORDER BY … LIMIT.
    "q330_grec_limit_pushdown" -> ((s, d) => {
      val dir = Caches.workspace("grec_lim", s)
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("long").as("o_orderkey"))
        .orderBy(col("o_orderkey")).coalesce(1)
        .write.format("graft.io.GraftRecSource").mode("overwrite").save(dir)
      s.read.format("graft.io.GraftRecSource").load(dir)
        .limit(100)
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_ok"),
          max(col("o_orderkey")).as("max_ok"),
          sum(col("o_orderkey")).as("sum_ok"))
    }),

    // q335: grec STREAMING READ — the micro-batch half of the custom
    // connector (TableCapability.MICRO_BATCH_READ + a from-scratch
    // MicroBatchStream): offsets carry the sorted committed-file-name
    // SET (writer file names are random, so a count/watermark offset
    // would silently skip a new file that sorts early), each
    // micro-batch plans one partition per new file, and the committed
    // two-phase writer guarantees replayed ranges read identical
    // bytes. The
    // declared query streams the q312 table through a complete-mode
    // aggregation; the oracle is the batch replay from parquet.
    "q335_grec_stream_read" -> ((s, d) => {
      // `stream_*`: the harness drops the memory sink's view after
      // the timed window, as for every other streaming query
      val name = s"stream_grec_${EventQueries.streamId.incrementAndGet()}"
      val src = s.readStream.format("graft.io.GraftRecSource")
        .load(grecDir(s, d))
      val agg = src.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      s.table(name).orderBy(col("l_returnflag"))
    }),

    // q336: grec STREAMING SINK — the connector's fourth quadrant
    // (batch/stream × read/write): TableCapability.STREAMING_WRITE
    // with the SAME two-phase protocol per EPOCH (staged
    // `part-e<epoch>-…` files invisible to scans, epoch-level commit
    // renames, abort deletes). Events stream through a projection
    // into the sink; the batch read-back aggregates what landed — a
    // leaked staged file or a lost epoch breaks the oracle, which
    // replays from the source parquet.
    "q336_grec_stream_sink" -> ((s, d) => {
      val ws = Caches.workspace("grec_ss", s)
      val dir = s"$ws/data"
      val src = Tables.eventsStream(s, d)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"))
      val q = src.writeStream.format("graft.io.GraftRecSource")
        .option("path", dir)
        .option("checkpointLocation", s"$ws/cp")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      s.read.format("graft.io.GraftRecSource").load(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"),
          min(col("event_id")).as("min_eid"),
          max(col("event_id")).as("max_eid"))
        .orderBy(col("event_type"))
    })
  )

  /** DuckDB mirror of [[graft.ops.Graph.pageRankExact]]'s recurrence,
    * unrolled: one CTE per iteration, same truncating integer math
    * (`//` and `div` agree on non-negative longs), dangling mass
    * redistributed uniformly. */
  /** Unrolled synchronous LPA recurrence: per round, neighbor-label
    * counts → per-node winner (count DESC, label ASC) → carry previous
    * label when a node has no neighbors (never, post-symmetrization). */
  private def lpaSql(iters: Int): String =
    s"""WITH ${lpaCtes(iters)}
       |SELECT node, lbl AS community FROM r$iters ORDER BY node""".stripMargin

  /** The LPA recurrence as a reusable CTE chain (`e0`/`ed`/`r0`…
    * `r{iters}`) — shared by q168 (membership) and q307 (modularity
    * scored on the same communities). Round-10: the graph is the part
    * CO-PURCHASE graph (kCoreSql's e0 — parts sharing an order, the
    * artifact the engine reads bucketed), and every CTE is
    * MATERIALIZED: e0 is itself a self-join pipeline, so DuckDB's
    * default CTE inlining would replicate it once per downstream
    * reference per round (the q205 exponential-tree lesson). */
  private def lpaCtes(iters: Int): String = {
    def step(prev: String, k: Int): String =
      s"""c$k AS MATERIALIZED (
         |  SELECT e.src AS node, l.lbl, count(*) AS c
         |  FROM ed e JOIN $prev l ON l.node = e.dst GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rk
         |    FROM c$k) WHERE rk = 1),
         |r$k AS MATERIALIZED (
         |  SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
         |  FROM $prev p LEFT JOIN b$k b USING (node))""".stripMargin
    val steps = (1 to iters).map(i => step(s"r${i - 1}", i)).mkString(",\n")
    s"""e0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
       |    CAST(b.l_partkey AS BIGINT) AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |ed AS MATERIALIZED (
       |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM ed),
       |$steps""".stripMargin
  }

  /** The integer-PageRank recurrence CTEs over any `edges` CTE the
    * caller prepends (exact mirror of
    * [[graft.ops.Graph.pageRankExact]]); returns the CTE text from
    * `deg` through `r{iters}` — callers add their own final SELECT.
    * Shared by q105 (part↔supplier) and q205 (TextRank word graph). */
  private[queries] def pageRankRecurrenceCtes(iters: Int): String = {
    // MATERIALIZED: each step references its predecessor more than
    // once (contrib join + dangling scalar), so un-materialized CTE
    // inlining duplicates the whole upstream tree ~4^iters times —
    // harmless on a bare lineitem edge list, a 64 GB OOM when the
    // edge CTE is itself a pipeline (q205's bigram graph).
    def step(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT d.node, d.outdeg,
         |    ((15 * 1000000000000) // 100) // (SELECT n FROM params)
         |    + (85 * (COALESCE(c.contrib, 0)
         |       + (SELECT COALESCE(sum(pr), 0) FROM $prev WHERE outdeg = 0)
         |         // (SELECT n FROM params))) // 100 AS pr
         |  FROM deg d
         |  LEFT JOIN (SELECT e.dst AS node, sum(r.pr // r.outdeg) AS contrib
         |             FROM edges e JOIN $prev r ON r.node = e.src GROUP BY 1) c
         |    ON c.node = d.node)""".stripMargin
    val steps = (1 to iters).map(i => step(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""deg AS MATERIALIZED (
       |  SELECT n.node, count(e.src) AS outdeg
       |  FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges) n
       |  LEFT JOIN edges e ON e.src = n.node GROUP BY 1
       |),
       |params AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS MATERIALIZED (SELECT node, outdeg,
       |       1000000000000 // (SELECT n FROM params) AS pr FROM deg),
       |$steps""".stripMargin
  }

  /** Unrolled personalized-PageRank recurrence — the q105 CTE shape
    * with seed-gated teleport/dangling terms and divisor s = |seeds|.
    * Must mirror Graph.personalizedPageRankExact term for term. */
  private def pprSql(iters: Int, seeds: Seq[Long]): String = {
    val s = seeds.size
    val in = s"IN (${seeds.mkString(", ")})"
    // MATERIALIZED: each step references its predecessor more than
    // once (contrib join + dangling scalar), so un-materialized CTE
    // inlining duplicates the whole upstream tree ~4^iters times —
    // harmless on a bare lineitem edge list, a 64 GB OOM when the
    // edge CTE is itself a pipeline (q205's bigram graph).
    def step(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT d.node, d.outdeg,
         |    CASE WHEN d.node $in THEN ((15 * 1000000000000) // 100) // $s
         |         ELSE 0 END
         |    + (85 * (COALESCE(c.contrib, 0)
         |       + CASE WHEN d.node $in THEN
         |           (SELECT COALESCE(sum(pr), 0) FROM $prev WHERE outdeg = 0) // $s
         |         ELSE 0 END)) // 100 AS pr
         |  FROM deg d
         |  LEFT JOIN (SELECT e.dst AS node, sum(r.pr // r.outdeg) AS contrib
         |             FROM edges e JOIN $prev r ON r.node = e.src GROUP BY 1) c
         |    ON c.node = d.node)""".stripMargin
    val steps = (1 to iters).map(i => step(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
       |                  1000000 + CAST(l_suppkey AS BIGINT) AS dst FROM lineitem
       |),
       |deg AS (
       |  SELECT n.node, count(e.src) AS outdeg
       |  FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges) n
       |  LEFT JOIN edges e ON e.src = n.node GROUP BY 1
       |),
       |r0 AS (SELECT node, outdeg,
       |       CASE WHEN node $in THEN 1000000000000 // $s ELSE 0 END AS pr
       |       FROM deg),
       |$steps
       |SELECT node, CAST(pr AS BIGINT) AS rank_ppt FROM r$iters ORDER BY node""".stripMargin
  }

  /** Unrolled HITS (q218): alternating transpose-accumulate +
    * L1-normalize half-steps, term-for-term Graph.hitsExact. */
  private def hitsSql(iters: Int, scale: Long = 1000000L): String = {
    def half(cur: String, prev: String, fromCol: String, toCol: String,
             valIn: String, valOut: String): String =
      s"""${cur}r AS (
         |  SELECT e.$toCol AS node, sum(p.$valIn) AS s
         |  FROM edges e JOIN $prev p ON p.node = e.$fromCol GROUP BY 1),
         |$cur AS (
         |  SELECT n.node,
         |    COALESCE(r.s, 0) * $scale
         |      // greatest((SELECT COALESCE(sum(s), 0) FROM ${cur}r), 1) AS $valOut
         |  FROM nodes n LEFT JOIN ${cur}r r ON r.node = n.node)""".stripMargin
    val steps = (1 to iters).map { t =>
      val hPrev = if (t == 1) "h0" else s"h${t - 1}"
      half(s"a$t", hPrev, "src", "dst", "h", "a") + ",\n" +
        half(s"h$t", s"a$t", "dst", "src", "a", "h")
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
       |                  1000000 + CAST(l_suppkey AS BIGINT) AS dst FROM lineitem
       |),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT node, 1 AS h FROM nodes),
       |$steps
       |SELECT n.node, CAST(h.h AS BIGINT) AS hub, CAST(a.a AS BIGINT) AS auth
       |FROM nodes n JOIN h$iters h ON h.node = n.node
       |JOIN a$iters a ON a.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  private def pageRankSql(iters: Int): String =
    s"""WITH edges AS (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
       |                  1000000 + CAST(l_suppkey AS BIGINT) AS dst FROM lineitem
       |),
       |${pageRankRecurrenceCtes(iters)}
       |SELECT node, CAST(pr AS BIGINT) AS rank_ppt FROM r$iters ORDER BY node""".stripMargin

  val oracles: Map[String, String] = Map(
    // q356: the footer rollups recomputed from the data — per column,
    // total values (rows), nulls, min, max. Engine-independent ground
    // truth for the footer decode.
    "q356_parquet_layout" -> {
      def block(file: String, col: String): String =
        s"""SELECT '$file' AS file_name, '$col' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_values,
           |  CAST(count(*) - count($col) AS BIGINT) AS null_count,
           |  CAST(min($col) AS BIGINT) AS min_v,
           |  CAST(max($col) AS BIGINT) AS max_v
           |FROM ${file.stripSuffix(".parquet")}""".stripMargin
      (Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .map(c => block("lineitem.parquet", c)) ++
        Seq("o_orderkey", "o_custkey")
          .map(c => block("orders.parquet", c)))
        .mkString("", "\nUNION ALL\n", "\nORDER BY file_name, column_name")
    },

    "q105_pagerank" -> pageRankSql(3),
    "q209_ppr" -> pprSql(3, Seq(1L, 2L, 3L)),
    "q218_hits" -> hitsSql(2),
    // q224: the oracle reads the RAW fact table — certifying the MV
    // rewrite returns exactly what the un-rewritten plan would.
    "q224_mv_rewrite" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q221: counts → core rule → 8-adjacency → recursive closure,
    // cluster label = min packed cell id of the component.
    "q221_grid_density" ->
      """WITH RECURSIVE cells AS (
        |  SELECT CAST(floor(CAST(round(l_extendedprice*100) AS BIGINT)/500000) AS BIGINT) AS cx,
        |         CAST(floor(CAST(round(l_quantity) AS BIGINT)/5) AS BIGINT) AS cy,
        |         count(*) AS n_pts
        |  FROM lineitem GROUP BY 1, 2),
        |core AS (
        |  SELECT cx, cy, cx*65536 + cy AS node FROM cells WHERE n_pts >= 280),
        |edges0 AS (
        |  SELECT a.node AS src, b.node AS dst
        |  FROM core a JOIN core b
        |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        |   AND a.node < b.node),
        |edges AS (
        |  SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |rep AS (
        |  SELECT src AS node, least(src, min(dst)) AS rep FROM reach GROUP BY src)
        |SELECT c.cx, c.cy, c.n_pts, (c.n_pts >= 280) AS is_core,
        |  CASE WHEN c.n_pts >= 280
        |       THEN COALESCE(r.rep, c.cx*65536 + c.cy) END AS cluster
        |FROM cells c
        |LEFT JOIN rep r ON r.node = c.cx*65536 + c.cy
        |ORDER BY c.cx, c.cy""".stripMargin,
    "q220_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag AS k, CAST(round(l_extendedprice*100) AS BIGINT) AS v,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wv
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT k, v, wv,
        |    sum(wv) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(wv) OVER (PARTITION BY k) AS tot
        |  FROM g)
        |SELECT k AS l_returnflag, CAST(min(v) AS BIGINT) AS wmedian_cents,
        |  CAST(max(tot) AS BIGINT) AS tot_weight
        |FROM c WHERE 2*cum >= tot GROUP BY k ORDER BY k""".stripMargin,
    // q213: FS comparisons and centi-bit weights replayed literally;
    // blocking = the constant-size 16-char name prefix (round-11).
    "q213_fs_linkage" ->
      """WITH p AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    (substr(a.c_name, -2) = substr(b.c_name, -2)) AS agree_c_name,
        |    (floor(a.c_acctbal/1000) = floor(b.c_acctbal/1000)) AS agree_c_acctbal
        |  FROM customer a JOIN customer b
        |    ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
        |   AND a.c_custkey < b.c_custkey)
        |SELECT id_a, id_b, agree_c_name, agree_c_acctbal,
        |  CAST(CASE WHEN agree_c_name THEN 340 ELSE -10 END
        |     + CASE WHEN agree_c_acctbal THEN 220 ELSE -35 END AS BIGINT)
        |    AS fs_score_cb
        |FROM p ORDER BY id_a, id_b""".stripMargin,
    // q208: the hybrid split is an implementation detail — the oracle
    // is the PLAIN join it must equal at any threshold.
    "q208_hybrid_skew_join" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q168_label_propagation" -> lpaSql(3),
    "q78_zorder" -> {
      val z = graft.ops.ZOrder.zValueSql(
        "CAST(l_partkey AS BIGINT) % 65536", "CAST(l_suppkey AS BIGINT) % 65536")
      s"""SELECT l_orderkey, l_linenumber, CAST($z AS BIGINT) AS zval
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "q90_array_family" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS arr FROM documents),
        |u AS (
        |  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
        |  FROM t),
        |wl AS (
        |  SELECT doc_id, CAST(sum(length(tok)) AS BIGINT) AS total_len,
        |         CAST(sum(length(tok) * pos) AS BIGINT) AS weighted_len
        |  FROM u GROUP BY doc_id)
        |SELECT t.doc_id,
        |  array_to_string(list_slice(arr, 1, 5), ',') AS first5,
        |  array_to_string(list_sort(list_distinct(arr)), ',') AS vocab,
        |  wl.total_len, wl.weighted_len
        |FROM t JOIN wl USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Relational ground truth for the Spark-side map round-trip:
    // n_statuses counted BEFORE the v>=4 filter (size of the full
    // map), double_cnt = 2×count with the filter applied after.
    "q100_map_family" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderstatus, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |n AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_statuses
        |      FROM c GROUP BY 1)
        |SELECT c.o_custkey, c.o_orderstatus AS status,
        |  CAST(c.cnt * 2 AS BIGINT) AS double_cnt, n.n_statuses
        |FROM c JOIN n USING (o_custkey)
        |WHERE c.cnt * 2 >= 4
        |ORDER BY c.o_custkey, status""".stripMargin,
    "q91_date_family" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT)
        |    AS days_to_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q89_correlated_subquery" ->
      """SELECT c_custkey, c_name,
        |  (SELECT max(o_totalprice) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_order
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q87_zorder3" -> {
      val z = graft.ops.ZOrder.zValue3Sql(
        "CAST(l_partkey AS BIGINT) % 2097152",
        "CAST(l_suppkey AS BIGINT) % 2097152",
        "CAST(l_orderkey AS BIGINT) % 2097152")
      s"""SELECT l_orderkey, l_linenumber, CAST($z AS BIGINT) AS zval
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "q83_grouping_sets" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS pri,
        |  coalesce(o_orderstatus, 'ALL') AS st,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderstatus), ())
        |ORDER BY pri, st""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS DOUBLE)/10000.0 AS sum_disc_price,
        |  sum(l_quantity)/count(*) AS avg_qty,
        |  CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/(count(*)*100.0) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01' AND l_quantity >= 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_segment_revenue" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_nation_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q05_top_parts" ->
      """SELECT l_partkey, sum(l_quantity) AS total_qty FROM lineitem
        |GROUP BY l_partkey ORDER BY total_qty DESC, l_partkey LIMIT 10""".stripMargin,
    "q06_top_customers_per_nation" ->
      """SELECT c_nationkey, rk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) WHERE rk <= 3 ORDER BY c_nationkey, rk""".stripMargin,
    "q07_priority_stats" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q08_running_qty" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q09_union_distinct" ->
      """SELECT DISTINCT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
        |  UNION ALL
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY custkey""".stripMargin,
    "q10_customers_without_orders" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q70_semi_join" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q73_unpivot" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
        |  event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q71_full_outer" ->
      """WITH cn AS (
        |  SELECT c_nationkey, count(*) AS n_cust FROM customer
        |  WHERE c_custkey % 5 = 0 GROUP BY c_nationkey
        |), sn AS (
        |  SELECT s_nationkey, count(*) AS n_supp FROM supplier
        |  WHERE s_suppkey % 3 = 0 GROUP BY s_nationkey
        |)
        |SELECT coalesce(cn.c_nationkey, sn.s_nationkey) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM cn FULL OUTER JOIN sn ON cn.c_nationkey = sn.s_nationkey
        |ORDER BY nationkey""".stripMargin,
    "q72_multiset_ops" ->
      """WITH ex AS (
        |  SELECT o_orderpriority, count(*) AS n_except_all FROM (
        |    SELECT o_orderpriority FROM orders
        |    EXCEPT ALL
        |    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
        |  GROUP BY o_orderpriority
        |), ia AS (
        |  SELECT o_orderpriority, count(*) AS n_intersect_all FROM (
        |    SELECT o_orderpriority FROM orders
        |    INTERSECT ALL
        |    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
        |  GROUP BY o_orderpriority
        |)
        |SELECT coalesce(ex.o_orderpriority, ia.o_orderpriority) AS o_orderpriority,
        |  coalesce(n_except_all, 0) AS n_except_all,
        |  coalesce(n_intersect_all, 0) AS n_intersect_all
        |FROM ex FULL OUTER JOIN ia ON ex.o_orderpriority = ia.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q69_pivot" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    "q50_cube" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS pri,
        |  coalesce(o_orderstatus, 'ALL') AS st, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY pri, st""".stripMargin,
    "q51_intersect_except" ->
      """WITH big AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000),
        |rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000)
        |SELECT custkey, 'both' AS op FROM (SELECT custkey FROM big INTERSECT SELECT custkey FROM rich)
        |UNION ALL
        |SELECT custkey, 'only_big_orders' AS op FROM
        |  (SELECT DISTINCT custkey FROM big EXCEPT SELECT DISTINCT custkey FROM rich)
        |ORDER BY op, custkey""".stripMargin,
    "q49_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.95) AS p95_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q48_window_family" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  lag(o_orderkey) OVER w AS prev_key,
        |  lead(o_orderkey) OVER w AS next_key,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders WHERE o_totalprice > 480000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q46_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    // The q98 portable 60-bit md5 parse, concat_ws canonical rendering,
    // order-insensitive bit_xor per bucket.
    "q163_table_fingerprint" ->
      """WITH r AS (
        |  SELECT
        |    CAST(concat('0x', substr(md5(concat_ws('|',
        |      CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))),
        |      1, 15)) AS BIGINT) AS kh,
        |    CAST(concat('0x', substr(md5(concat_ws('|',
        |      CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |      CAST(CAST(round(l_quantity*100) AS BIGINT) AS VARCHAR),
        |      CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS VARCHAR),
        |      l_returnflag, l_linestatus)), 1, 15)) AS BIGINT) AS h
        |  FROM lineitem)
        |SELECT kh % 64 AS bucket, count(*) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor60
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,
    // q347: value-range files + the (pos, delta) boundary sweep —
    // closes sort before opens at equal points (half-open semantics),
    // running sum peaks at the depth.
    "q347_clustering_depth" ->
      """WITH mo AS (
        |  SELECT max(CAST(l_orderkey AS BIGINT)) + 1 AS m FROM lineitem),
        |mp AS (
        |  SELECT max(CAST(l_partkey AS BIGINT)) + 1 AS m FROM lineitem),
        |fo AS (
        |  SELECT CAST(l_orderkey AS BIGINT) * 64 // mo.m AS fid,
        |    min(CAST(l_partkey AS BIGINT)) AS lo,
        |    max(CAST(l_partkey AS BIGINT)) AS hi
        |  FROM lineitem, mo GROUP BY 1),
        |fp AS (
        |  SELECT CAST(l_partkey AS BIGINT) * 64 // mp.m AS fid,
        |    min(CAST(l_partkey AS BIGINT)) AS lo,
        |    max(CAST(l_partkey AS BIGINT)) AS hi
        |  FROM lineitem, mp GROUP BY 1),
        |eo AS (
        |  SELECT lo AS pos, CAST(1 AS BIGINT) AS d FROM fo
        |  UNION ALL SELECT hi + 1, CAST(-1 AS BIGINT) FROM fo),
        |ep AS (
        |  SELECT lo AS pos, CAST(1 AS BIGINT) AS d FROM fp
        |  UNION ALL SELECT hi + 1, CAST(-1 AS BIGINT) FROM fp),
        |so AS (
        |  SELECT CAST(count(*) // 2 AS BIGINT) AS n_files,
        |    CAST(max(depth) AS BIGINT) AS max_depth
        |  FROM (SELECT sum(d) OVER (ORDER BY pos, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |    FROM eo)),
        |sp AS (
        |  SELECT CAST(count(*) // 2 AS BIGINT) AS n_files,
        |    CAST(max(depth) AS BIGINT) AS max_depth
        |  FROM (SELECT sum(d) OVER (ORDER BY pos, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |    FROM ep))
        |SELECT 'by_orderkey' AS layout, n_files, max_depth FROM so
        |UNION ALL
        |SELECT 'by_partkey', n_files, max_depth FROM sp
        |ORDER BY layout""".stripMargin,

    // Global (key, tie-string) order replayed with row_number; the tie
    // string is identical on both engines so the total order is too.
    "q167_zone_map" ->
      """WITH o AS (
        |  SELECT strftime(l_shipdate, '%Y-%m-%d') AS k,
        |    row_number() OVER (ORDER BY strftime(l_shipdate, '%Y-%m-%d'),
        |      concat_ws('|', CAST(l_orderkey AS VARCHAR),
        |        CAST(l_linenumber AS VARCHAR))) - 1 AS rn
        |  FROM lineitem)
        |SELECT rn // 4096 AS block, count(*) AS n_rows,
        |  min(k) AS k_min, max(k) AS k_max,
        |  (max(k) < '1995-01-01' OR min(k) >= '1996-01-01') AS would_skip
        |FROM o GROUP BY 1 ORDER BY block""".stripMargin,
    // Independent dominance formulation: p survives iff no q is ≥ on
    // size, ≤ on price, and strictly better somewhere.
    "q174_pareto_front" ->
      """SELECT p.p_partkey, p.p_size, p.p_retailprice
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        |    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
        |ORDER BY p.p_partkey""".stripMargin,
    "q176_bfs_landmark" -> bfsSql(3),
    "q185_sssp" -> ssspSql(3),
    "q197_kcore" -> kCoreSql(60, 3),

    // q204: triangles as ordered triples u<v<w (each counted once),
    // per-node counts via unnest, the same fixed 2·T/(deg·(deg−1))
    // double parenthesization.
    "q204_clustering_coef" ->
      """WITH e0 AS (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
        |    CAST(b.l_partkey AS BIGINT) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS nt FROM (
        |    SELECT unnest([a.u, a.v, b.v]) AS node
        |    FROM e0 a
        |    JOIN e0 b ON b.u = a.v
        |    JOIN e0 c ON c.u = a.u AND c.v = b.v)
        |  GROUP BY 1)
        |SELECT d.node, d.deg, COALESCE(t.nt, 0) AS n_triangles,
        |  CASE WHEN d.deg >= 2 THEN
        |    round((2 * CAST(COALESCE(t.nt, 0) AS DOUBLE))
        |      / CAST(d.deg * (d.deg - 1) AS DOUBLE), 9)
        |  ELSE 0.0 END AS cc9
        |FROM deg d LEFT JOIN tri t USING (node) ORDER BY node""".stripMargin,
    // q337: the same wedge generation as q204's kernel, Adamic–Adar
    // weights via the standing ln-round-9 scaled-long guard, exact
    // integer reciprocal (// ≡ Spark div on non-negatives), NOT EXISTS
    // for the non-adjacency filter, deterministic top-100 boundary.
    "q337_link_prediction" ->
      """WITH e0 AS (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
        |    CAST(b.l_partkey AS BIGINT) AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (
        |  SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        |thru AS (
        |  SELECT s.u AS w, s.v,
        |    1000000000000000000 //
        |      CAST(round(round(ln(CAST(dw.deg AS DOUBLE)), 9)
        |        * 1000000000) AS BIGINT) AS w9
        |  FROM sym s JOIN deg dw ON dw.node = s.u
        |  WHERE dw.deg <= 80 AND dw.deg >= 2),
        |pairs AS (
        |  SELECT t1.v AS a, t2.v AS b, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(t1.w9) AS BIGINT) AS aa9
        |  FROM thru t1 JOIN thru t2 ON t2.w = t1.w AND t1.v < t2.v
        |  GROUP BY 1, 2),
        |nonedge AS (
        |  SELECT p.* FROM pairs p
        |  WHERE NOT EXISTS (SELECT 1 FROM e0 e WHERE e.u = p.a AND e.v = p.b))
        |SELECT n.a, n.b, n.cn, n.aa9,
        |  round(CAST(n.cn AS DOUBLE)
        |    / CAST(da.deg + db.deg - n.cn AS DOUBLE), 9) AS jaccard9
        |FROM nonedge n
        |JOIN deg da ON da.node = n.a JOIN deg db ON db.node = n.b
        |ORDER BY n.aa9 DESC, n.a, n.b LIMIT 100""".stripMargin,

    "q199_hilbert" -> {
      val (ctes, last, dcol) =
        graft.ops.Hilbert.hilbertSqlCtes("base",
          Seq("l_orderkey", "l_linenumber"), 8)
      s"""WITH base AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(l_partkey AS BIGINT) & 255 AS hx,
         |    CAST(l_suppkey AS BIGINT) & 255 AS hy
         |  FROM lineitem),
         |$ctes
         |SELECT l_orderkey, l_linenumber, $dcol AS hval FROM $last
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "q192_join_cardinality" ->
      """WITH ca AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS ca
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT k, ca, ca AS cb, ca * ca AS rows_out FROM ca),
        |t AS (SELECT CAST(sum(rows_out) AS BIGINT) AS total_rows,
        |        CAST(count(*) AS BIGINT) AS n_join_keys FROM j),
        |top AS (SELECT k, ca, cb, rows_out,
        |          CAST(row_number() OVER (ORDER BY rows_out DESC, k)
        |            AS BIGINT) AS rk
        |        FROM j)
        |SELECT rk, k, ca, cb, rows_out, total_rows, n_join_keys
        |FROM top, t WHERE rk <= 5 ORDER BY rk""".stripMargin,
    // q263: the pinned expected provenance — hand-derived from the
    // query definitions; any plan-construction drift flips the gate.
    "q263_column_lineage" ->
      """SELECT * FROM (VALUES
        |  ('q01_pricing_summary', 'avg_disc', 'lineitem.l_discount'),
        |  ('q01_pricing_summary', 'avg_qty', 'lineitem.l_quantity'),
        |  ('q01_pricing_summary', 'count_order', ''),
        |  ('q01_pricing_summary', 'l_linestatus', 'lineitem.l_linestatus'),
        |  ('q01_pricing_summary', 'l_returnflag', 'lineitem.l_returnflag'),
        |  ('q01_pricing_summary', 'sum_base_price',
        |     'lineitem.l_extendedprice'),
        |  ('q01_pricing_summary', 'sum_disc_price',
        |     'lineitem.l_discount,lineitem.l_extendedprice'),
        |  ('q01_pricing_summary', 'sum_qty', 'lineitem.l_quantity'),
        |  ('q03_segment_revenue', 'c_mktsegment', 'customer.c_mktsegment'),
        |  ('q03_segment_revenue', 'n_orders', ''),
        |  ('q03_segment_revenue', 'revenue', 'orders.o_totalprice')
        |) AS t(query_name, out_col, source_cols)
        |ORDER BY query_name, out_col""".stripMargin,

    // q258: both orderings replayed with row_number (the z key via
    // the shared zValueSql bit math), block min/max, same box test.
    "q258_layout_skipping" -> {
      val z = graft.ops.ZOrder.zValueSql("x", "y")
      s"""WITH t AS (
         |  SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y,
         |    concat_ws('|', CAST(l_orderkey AS VARCHAR),
         |      CAST(l_linenumber AS VARCHAR)) AS tie
         |  FROM lineitem),
         |lx AS (
         |  SELECT x, y,
         |    (row_number() OVER (ORDER BY x * 65536 + y, tie) - 1) // 1024
         |      AS blk
         |  FROM t),
         |zx AS (
         |  SELECT x, y,
         |    (row_number() OVER (ORDER BY $z, tie) - 1) // 1024 AS blk
         |  FROM t),
         |lb AS (
         |  SELECT 'lex' AS layout, blk, count(*) AS c, min(x) AS x0,
         |    max(x) AS x1, min(y) AS y0, max(y) AS y1
         |  FROM lx GROUP BY 2
         |  UNION ALL
         |  SELECT 'zorder', blk, count(*), min(x), max(x), min(y), max(y)
         |  FROM zx GROUP BY 2),
         |sk AS (
         |  SELECT layout, c,
         |    (x1 < 0 OR x0 > 65535 OR y1 < 0 OR y0 > 10) AS skipped
         |  FROM lb)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_skipped,
         |  round(CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 9) AS skip_ratio9,
         |  CAST(sum(CASE WHEN skipped THEN 0 ELSE c END) AS BIGINT)
         |    AS rows_scanned
         |FROM sk GROUP BY 1 ORDER BY layout""".stripMargin
    },

    // q250/q251/q252: the classic TPC-H shapes with the engine's
    // exact scaled-long revenue on both sides.
    "q250_tpch_q3" ->
      """SELECT l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o.o_orderpriority,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < DATE '1998-01-01'
        |  AND l.l_shipdate > DATE '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q251_tpch_q5" ->
      """SELECT n.n_name,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= DATE '1997-01-01'
        |  AND o.o_orderdate < DATE '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q252_tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= DATE '1997-10-01'
        |  AND o.o_orderdate < DATE '1998-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // q270/q271/q272: the round-8 optimizer stress shapes — the same
    // division-free correlated-agg comparisons and semi/anti
    // structure, revenue through the scaled-long idiom.
    "q270_tpch_q17" ->
      """WITH pq AS (
        |  SELECT l_partkey, sum(l_quantity) AS sum_qty, count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT p.p_brand,
        |  CAST(sum(CAST(round(l.l_extendedprice * 10000) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 / 7.0 AS avg_yearly
        |FROM lineitem l
        |JOIN pq ON pq.l_partkey = l.l_partkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_quantity * 5 * pq.cnt < pq.sum_qty
        |GROUP BY 1 ORDER BY p_brand""".stripMargin,
    "q271_tpch_q20" ->
      """WITH lr AS (
        |  SELECT l.l_partkey, l.l_suppkey, l.l_quantity
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_name LIKE '%red%'),
        |pt AS (SELECT l_partkey, sum(l_quantity) AS part_qty,
        |         count(DISTINCT l_suppkey) AS ns FROM lr GROUP BY 1),
        |sp AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sup_qty
        |       FROM lr GROUP BY 1, 2),
        |dom AS (SELECT DISTINCT sp.l_suppkey
        |        FROM sp JOIN pt ON pt.l_partkey = sp.l_partkey
        |        WHERE sp.sup_qty * pt.ns > 2 * pt.part_qty)
        |SELECT s.s_name, s.s_acctbal
        |FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE n.n_name = 'NATION_3'
        |  AND s.s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_name""".stripMargin,
    "q272_tpch_q21" ->
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    // q273: layout changes cost, never semantics — the oracle is the
    // plain join + rollup.
    "q273_bucketed_join" ->
      """SELECT l.l_orderkey, max(o.o_orderpriority) AS o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    // q249: the same synthetic new version, full-outer join,
    // null-safe per-column comparisons.
    "q249_table_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_custkey AS oc, o_totalprice AS op,
        |    o_orderstatus AS os
        |  FROM orders),
        |n AS (
        |  SELECT o_orderkey AS k, o_custkey AS nc,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS np,
        |    o_orderstatus AS ns
        |  FROM orders WHERE o_orderkey % 11 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |j AS (
        |  SELECT coalesce(o.k, n.k) AS key, o.k AS ok, n.k AS nk,
        |    oc, nc, op, np, os, ns
        |  FROM o FULL OUTER JOIN n ON n.k = o.k),
        |c AS (
        |  SELECT key, ok, nk,
        |    CASE WHEN nk IS NULL THEN 'removed'
        |         WHEN ok IS NULL THEN 'added'
        |         WHEN oc IS NOT DISTINCT FROM nc
        |          AND op IS NOT DISTINCT FROM np
        |          AND os IS NOT DISTINCT FROM ns THEN 'same'
        |         ELSE 'changed' END AS status,
        |    concat_ws(',',
        |      CASE WHEN oc IS DISTINCT FROM nc THEN 'o_custkey' END,
        |      CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' END,
        |      CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END)
        |      AS cc
        |  FROM j)
        |SELECT key AS o_orderkey, status,
        |  CASE WHEN status = 'changed' THEN cc ELSE '' END AS changed_cols
        |FROM c ORDER BY o_orderkey""".stripMargin,

    // q239: every check as a one-row aggregate, unioned.
    "q239_quality_checks" ->
      """WITH checks AS (
        |  SELECT 'lineitem' AS table_name, 'quantity_range' AS check_name,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1
        |      END) AS BIGINT) AS n_violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events', 'value_positive', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN value > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'events', 'value_le_100', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN value <= 100 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'events', 'known_type', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN event_type IN
        |      ('click', 'view', 'purchase', 'signup', 'error')
        |      THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'documents', 'nonempty_text', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN len(text) > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'documents', 'min_chars_100', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN n_chars >= 100 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'orders', 'unique_o_orderkey', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'ref_o_custkey', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON c.c_custkey = o.o_custkey)
        |SELECT table_name, check_name, n_rows, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS passed
        |FROM checks ORDER BY table_name, check_name""".stripMargin,

    "q275_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= DATE '1997-07-01'
        |  AND o.o_orderdate < DATE '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q276_tpch_q7" ->
      """SELECT sr.r_name AS supp_nation, cr.r_name AS cust_nation,
        |  year(l.l_shipdate) AS l_year,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |JOIN region sr ON sr.r_regionkey = sn.n_regionkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |JOIN region cr ON cr.r_regionkey = cn.n_regionkey
        |WHERE l.l_shipdate >= DATE '1997-01-01'
        |  AND l.l_shipdate < DATE '1999-01-01'
        |  AND ((sr.r_name = 'ASIA' AND cr.r_name = 'EUROPE')
        |    OR (sr.r_name = 'EUROPE' AND cr.r_name = 'ASIA'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q277_tpch_q8" ->
      """SELECT year(o.o_orderdate) AS o_year,
        |  CAST(sum(CAST(round((CASE WHEN sn.n_name = 'NATION_1'
        |      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS nation_volume,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS volume,
        |  (CAST(sum(CAST(round((CASE WHEN sn.n_name = 'NATION_1'
        |      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0)
        |  / (CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0) AS mkt_share
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = cn.n_regionkey
        |  AND r.r_name = 'EUROPE'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q278_tpch_q9" ->
      """SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
        |  CAST(sum(
        |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
        |      AS BIGINT)
        |    - CAST(round(p.p_retailprice * 10) AS BIGINT)
        |      * CAST(l.l_quantity AS BIGINT) * 100
        |  ) AS DOUBLE) / 10000.0 AS sum_profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q279_tpch_q11" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      WHERE s_nationkey < 12)
        |  GROUP BY 1),
        |t AS (SELECT sum(value_cents) AS tot_cents, count(*) AS n_parts
        |      FROM pp)
        |SELECT pp.l_partkey,
        |  CAST(pp.value_cents AS DOUBLE) / 100.0 AS value
        |FROM pp, t
        |WHERE pp.value_cents * t.n_parts > t.tot_cents * 2
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q280_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c.c_custkey, CAST(count(o.o_custkey) AS BIGINT) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q281_tpch_q14" ->
      """SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(sum(CAST(round((CASE WHEN p.p_type = 'PROMO'
        |      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS promo_rev,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_rev,
        |  100.0 * (CAST(sum(CAST(round((CASE WHEN p.p_type = 'PROMO'
        |      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0)
        |  / (CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0) AS promo_pct
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q282_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o.o_totalprice, big.sum_qty
        |FROM big
        |JOIN orders o ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin,

    "q283_tpch_q19" ->
      """SELECT p.p_brand,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |    * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
        |    AND l.l_quantity BETWEEN 1 AND 11)
        |  OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |    AND l.l_quantity BETWEEN 10 AND 20)
        |  OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |    AND l.l_quantity BETWEEN 20 AND 30)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q284_tpch_q22" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer WHERE c_nationkey < 10),
        |a AS (SELECT sum(bal_cents) AS tot_cents, count(*) AS n_pos
        |      FROM cust WHERE bal_cents > 0)
        |SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(c.bal_cents) AS DOUBLE) / 100.0 AS totacctbal
        |FROM cust c, a
        |WHERE c.bal_cents * a.n_pos > a.tot_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q285_tpch_q16" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                          WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q286_tpch_q12" ->
      """SELECT l.l_linestatus,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate >= DATE '1997-01-01'
        |  AND l.l_shipdate < DATE '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q289_k_anonymity" ->
      """SELECT c_mktsegment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_distinct_nation,
        |  CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS BIGINT)
        |    AS k_anonymous,
        |  CAST(CASE WHEN count(DISTINCT c_nationkey) >= 3 THEN 1 ELSE 0 END
        |    AS BIGINT) AS l_diverse
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q291_observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  CAST(sum(CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high_discount,
        |  max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,

    "q292_rank_family" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    CAST(ntile(4) OVER w AS BIGINT) AS tile,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag
        |               ORDER BY l_quantity, l_orderkey, l_linenumber))
        |SELECT l_returnflag, tile, CAST(count(*) AS BIGINT) AS n,
        |  round(min(pr), 9) AS min_pr9, round(max(pr), 9) AS max_pr9,
        |  round(max(cd), 9) AS max_cd9, sum(l_quantity) AS sum_qty
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q293: the merge provably equals the one-pass rollup.
    "q293_incremental_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_price,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q190_column_profile" -> {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val stats = cols.map(c =>
        s"CAST(count($c) AS BIGINT) AS nn_$c, " +
          s"CAST(count(DISTINCT $c) AS BIGINT) AS nd_$c").mkString(", ")
      val rows = cols.map(c =>
        s"SELECT '$c' AS column_name, n_rows, n_rows - nn_$c AS n_null, " +
          s"nd_$c AS n_distinct FROM s").mkString("\nUNION ALL\n")
      s"""WITH s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows, $stats FROM orders)
         |$rows
         |ORDER BY column_name""".stripMargin
    },

    "q301_tpch_q6" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
        |    AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1997-01-01'
        |  AND l_shipdate < DATE '1998-01-01'
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    "q302_tpch_q2" ->
      """WITH supply AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |asup AS (
        |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |  FROM supplier s
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |    AND r.r_name = 'ASIA'),
        |asupply AS (
        |  SELECT sp.l_partkey, sp.cost_cents, a.s_suppkey, a.s_name,
        |    a.s_acctbal, a.n_name
        |  FROM supply sp JOIN asup a ON a.s_suppkey = sp.l_suppkey)
        |SELECT CAST(round(a.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |  a.s_name, a.n_name, p.p_partkey, p.p_brand, p.p_size,
        |  a.cost_cents
        |FROM asupply a
        |JOIN part p ON p.p_partkey = a.l_partkey
        |  AND p.p_type = 'PROMO' AND p.p_size <= 25
        |WHERE a.cost_cents = (SELECT min(x.cost_cents) FROM asupply x
        |                      WHERE x.l_partkey = a.l_partkey)
        |ORDER BY acctbal_cents DESC, a.n_name, a.s_name,
        |  p.p_partkey""".stripMargin,

    "q303_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |      AS BIGINT)) AS rev_du
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1997-01-01'
        |    AND l_shipdate < DATE '1997-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name,
        |  CAST(r.rev_du AS DOUBLE) / 10000.0 AS total_revenue
        |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        |WHERE r.rev_du = (SELECT max(rev_du) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,

    // q307: the q168 LPA recurrence (same CTE chain) + the exact
    // modularity decomposition over the simple undirected edge list.
    "q307_modularity" -> {
      s"""WITH ${lpaCtes(3)},
         |comm AS (SELECT node, lbl AS community FROM r3),
         |ud AS (SELECT src AS a, dst AS b FROM e0),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ud),
         |degs AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM ud UNION ALL SELECT b AS node FROM ud)
         |  GROUP BY 1),
         |dc AS (
         |  SELECT c.community, CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(d.deg) AS BIGINT) AS total_deg
         |  FROM comm c JOIN degs d USING (node) GROUP BY 1),
         |intra AS (
         |  SELECT ca.community, CAST(count(*) AS BIGINT) AS intra_edges
         |  FROM ud
         |  JOIN comm ca ON ca.node = ud.a
         |  JOIN comm cb ON cb.node = ud.b AND cb.community = ca.community
         |  GROUP BY 1)
         |SELECT dc.community, dc.n_nodes,
         |  CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
         |  dc.total_deg,
         |  CAST(4 * mm.m * coalesce(i.intra_edges, 0)
         |    - dc.total_deg * dc.total_deg AS BIGINT) AS contrib_num,
         |  mm.m
         |FROM dc LEFT JOIN intra i USING (community) CROSS JOIN mm
         |ORDER BY dc.community""".stripMargin
    },

    "q308_target_encoding" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT o_orderpriority, CAST(sum(cents) AS BIGINT) AS grp_sum,
        |    CAST(count(*) AS BIGINT) AS grp_n
        |  FROM t GROUP BY 1)
        |SELECT t.o_orderkey, t.o_orderpriority,
        |  CAST(g.grp_sum - t.cents AS DOUBLE)
        |    / CAST((g.grp_n - 1) * 100 AS DOUBLE) AS loo_enc
        |FROM t JOIN g USING (o_orderpriority)
        |ORDER BY t.o_orderkey""".stripMargin,

    // q312: the grec table is a projection of lineitem — the parquet
    // replay checks the connector's decode end-to-end.
    "q312_custom_source" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS revenue
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // q336: the streamed-to-grec rows replayed from the source parquet.
    "q336_grec_stream_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(min(event_id) AS BIGINT) AS min_eid,
        |  CAST(max(event_id) AS BIGINT) AS max_eid
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q335: the streamed aggregation replayed in batch from parquet.
    "q335_grec_stream_read" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // q330: the limit regime replayed — first-100-in-file-order of a
    // sorted single-file table == 100 smallest keys.
    "q330_grec_limit_pushdown" ->
      """WITH t AS (
        |  SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 100
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_ok,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_ok,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_ok
        |FROM t""".stripMargin,

    // q329: the pushed aggregation replayed from parquet (DuckDB
    // sum(BIGINT) widens to HUGEINT -> cast back).
    "q329_grec_agg_pushdown" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_ok,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
        |FROM lineitem WHERE l_quantity >= 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q327: the pushed + residual predicate set replayed from parquet.
    "q327_grec_filter_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS revenue,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_ok
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 30
        |  AND l_orderkey % 3 = 0""".stripMargin,

    // q313: only the FINAL committed generation may be visible — the
    // oracle replays it from orders; a leaked stale-generation or
    // staged row breaks the count.
    "q313_grec_write_roundtrip" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS revenue
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** DuckDB mirror of [[graft.ops.Graph.sssp]]: `iters` unrolled
    * min-plus relaxation rounds from part node 1, parallel edges
    * pre-collapsed to their min weight. */
  private def ssspSql(iters: Int): String = {
    // MATERIALIZED: each step references its predecessor more than
    // once (contrib join + dangling scalar), so un-materialized CTE
    // inlining duplicates the whole upstream tree ~4^iters times —
    // harmless on a bare lineitem edge list, a 64 GB OOM when the
    // edge CTE is itself a pipeline (q205's bigram graph).
    def step(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + e.w AS dist
         |    FROM $prev p JOIN ed e ON e.src = p.node) GROUP BY 1)""".stripMargin
    val steps = (1 to iters).map(i => step(s"d${i - 1}", s"d$i")).mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS src,
       |    1000000 + CAST(l_suppkey AS BIGINT) AS dst,
       |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
       |eu AS (SELECT src, dst, w FROM e0
       |       UNION ALL SELECT dst, src, w FROM e0),
       |ed AS (SELECT src, dst, min(w) AS w FROM eu GROUP BY 1, 2),
       |d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
       |$steps
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$iters
       |ORDER BY node""".stripMargin
  }

  /** DuckDB mirror of [[graft.ops.Graph.bfsDistances]]: `iters`
    * unrolled min-over-union rounds from part node 1 over the
    * undirected part↔supplier edge list. */
  /** The same unrolled degree-peel recurrence as
    * [[graft.ops.Graph.kCore]] over the part co-purchase graph. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { n =>
      s"""keep$n AS (
         |  SELECT u FROM adj${n - 1} GROUP BY u HAVING count(*) >= $k),
         |adj$n AS (
         |  SELECT a.u, a.v FROM adj${n - 1} a
         |  WHERE a.u IN (SELECT u FROM keep$n)
         |    AND a.v IN (SELECT u FROM keep$n))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
       |    CAST(b.l_partkey AS BIGINT) AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj0 AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       |$steps
       |SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM adj$rounds GROUP BY 1 ORDER BY node""".stripMargin
  }

  private def bfsSql(iters: Int): String = {
    // MATERIALIZED: each step references its predecessor more than
    // once (contrib join + dangling scalar), so un-materialized CTE
    // inlining duplicates the whole upstream tree ~4^iters times —
    // harmless on a bare lineitem edge list, a 64 GB OOM when the
    // edge CTE is itself a pipeline (q205's bigram graph).
    def step(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + 1 AS dist
         |    FROM $prev p JOIN ed e ON e.src = p.node) GROUP BY 1)""".stripMargin
    val steps = (1 to iters).map(i => step(s"d${i - 1}", s"d$i")).mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
       |    1000000 + CAST(l_suppkey AS BIGINT) AS dst FROM lineitem),
       |ed AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
       |$steps
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$iters
       |ORDER BY node""".stripMargin
  }
}
