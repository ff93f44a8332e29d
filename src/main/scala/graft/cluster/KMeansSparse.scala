package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.linalg.Sparse
import graft.linalg.Sparse.Vec

/** Cosine-similarity K-Means over sparse TF-IDF document vectors —
  * the reference's task2_2 (SURVEY §2.4 A7, §2.7 M2) restated: one
  * cached DataFrame of `(doc, vec: Map[String,Double])`, per-iteration
  * assignment via a broadcast closure, centroid means as a distributed
  * explode→groupBy with only k map-rows collected to the driver.
  *
  * The reference's loss accumulation bug (task2_2.java:288 —
  * `line_values` never cleared across reduce calls) is NOT replicated;
  * [[wssse]] computes the correct per-cluster sum (SURVEY §7.4.3).
  *
  * Scale: per iteration one shuffle keyed (cluster,term) with map-side
  * partial sums; driver state = k sparse centroids (must fit in the
  * broadcast — same constraint any K-Means at 100 TB has).
  */
object KMeansSparse {

  /** Add `cluster` = argmax cosine(vec, centroid); lowest index wins
    * ties (reference strict `>`, task2_2.java:272-279). Runs as a
    * native codegen'd expression (graft.functions.NearestCentroidCosine)
    * reading the MapData in place — no catalyst↔scala map conversion
    * per row per iteration; centroids ship inside the expression. */
  def assign(df: DataFrame, vecCol: String,
             centroids: IndexedSeq[Vec]): DataFrame =
    df.withColumn("cluster",
      graft.functions.SparseCosineFunctions
        .nearestCentroidCosine(col(vecCol), centroids))

  /** New centroids: element-wise Σw / clusterSize — absent terms count
    * as 0 in the mean (SURVEY A7; task2_2.java:294-346). Optional
    * `weightCol` generalizes to the K-Means‖ weighted mean
    * (SURVEY A8; task2_3.java:719-757): Σ weight·w / Σ weight. */
  def meanCentroids(assigned: DataFrame, vecCol: String, k: Int,
                    prev: IndexedSeq[Vec],
                    weightCol: Option[String] = None): IndexedSeq[Vec] = {
    val wcol = weightCol.map(col).getOrElse(lit(1.0))
    val sizes = assigned.groupBy(col("cluster"))
      .agg(sum(wcol).as("n"))
    val exploded = assigned
      .select(col("cluster"), wcol.as("pw"), explode(col(vecCol)).as(Seq("term", "w")))
    val means = exploded
      .groupBy(col("cluster"), col("term"))
      .agg(sum(col("pw") * col("w")).as("sw"))
      .join(sizes, "cluster")
      .withColumn("mw", col("sw") / col("n"))
      .groupBy(col("cluster"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("mw")))).as("cvec"))
      .collect()
      .map(r => r.getInt(0) -> r.getMap[String, Double](1).toMap)
      .toMap
    (0 until k).map(i => means.getOrElse(i, prev(i)))
  }

  /** One-pass centroid means via the custom UDAF
    * (graft.functions.SparseMeanAggregator): no explode shuffle — map
    * buffers combine map-side, one sparse map per cluster crosses the
    * wire. Equivalent to [[meanCentroids]] (unweighted); preferred when
    * vectors are wide and the explode amplification dominates. */
  def meanCentroidsOnePass(assigned: DataFrame, vecCol: String, k: Int,
                           prev: IndexedSeq[Vec]): IndexedSeq[Vec] = {
    val meanVec = udaf(new graft.functions.SparseMeanAggregator)
    val means = assigned.groupBy(col("cluster"))
      .agg(meanVec(col(vecCol)).as("cvec"))
      .collect()
      .map(r => r.getInt(0) -> r.getMap[String, Double](1).toMap)
      .toMap
    (0 until k).map(i => means.getOrElse(i, prev(i)))
  }

  /** Top `n` terms per cluster by summed (pre-division) weight
    * (SURVEY T3; task2_2.java:319-331), deterministic tie-break on term. */
  def topTerms(assigned: DataFrame, vecCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("sw").desc, col("term"))
    assigned.select(col("cluster"), explode(col(vecCol)).as(Seq("term", "wt")))
      .groupBy(col("cluster"), col("term"))
      .agg(sum(col("wt")).as("sw"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
  }

  /** Correct WSSSE: Σ over members of sqDist(vec, centroid(cluster)) —
    * native codegen kernel (graft.functions.SqDistToCentroid). */
  def wssse(assigned: DataFrame, vecCol: String,
            centroids: IndexedSeq[Vec]): Double =
    assigned.select(sum(graft.functions.SparseCosineFunctions
        .sqDistToCentroid(col(vecCol), col("cluster"), centroids)).as("loss"))
      .collect()(0).getDouble(0)

  /** Lloyd loop; converges when cosine(old_i, new_i) ≥ `convSim` for all
    * i (reference 0.98, task2_2.java:594). Returns (centroids, iters). */
  def fit(df: DataFrame, vecCol: String, init: IndexedSeq[Vec],
          maxIter: Int, convSim: Double = 0.98): (IndexedSeq[Vec], Int) = {
    val cached = df.cache()
    var cs = init
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      // one-pass UDAF means: half the per-iteration wall time of the
      // explode→groupBy path (proven equal, SparseMeanAggregatorSpec)
      val next = meanCentroidsOnePass(assign(cached, vecCol, cs), vecCol, cs.length, cs)
      converged = cs.zip(next).forall { case (o, n) =>
        Sparse.cosine(o, n, round3 = false) >= convSim
      }
      cs = next
      it += 1
    }
    (cs, it)
  }

  /** EXACT cosine assignment with centroids as a FRAME — the
    * bit-deterministic, driver-free sibling of [[assign]] (the q120
    * reclusterRoundExact discipline lifted to per-doc assignment, and
    * the piece that makes the iterative fit oracle-checkable): dot
    * products and squared norms are scaled-long sums at 1e9, cosine
    * rounds to 3 decimals (the reference's task2_2.java:179
    * convention), argmax is first-max-wins (row_number by cos DESC,
    * cidx — strict `>` ⇒ lowest index on ties, task2_2.java:272-279).
    * Any engine replaying the recurrence produces identical bits.
    *
    * @param exploded doc vectors as (id, term, v) rows.
    * @param cents    centroids as (cidx 0..k−1, term, cv) rows.
    * @return (id, cluster). */
  def assignExactFrames(exploded: DataFrame, cents: DataFrame,
                        k: Int): DataFrame =
    assignExactFramesPre(docNorms(exploded), exploded, cents, k)

  /** Per-doc scaled-long squared norms — CENTROID-INVARIANT, so an
    * iterative fit computes them once, not once per round (round-11,
    * guide §1.2: the norm aggregation is a full O(nnz) key shuffle
    * that [[assignExactFrames]] silently re-ran every iteration). */
  def docNorms(exploded: DataFrame): DataFrame = {
    val S = 1000000000L
    exploded.groupBy(col("id"))
      .agg(sum(round(col("v") * col("v") * S).cast("long")).as("nsq9"))
  }

  /** [[assignExactFrames]] with the doc-norm table precomputed. */
  def assignExactFramesPre(nrm: DataFrame, exploded: DataFrame,
                           cents: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = 1000000000L
    val cnrm = cents.groupBy(col("cidx"))
      .agg(sum(round(col("cv") * col("cv") * S).cast("long")).as("cnsq9"))
    val dots = exploded.join(broadcast(cents), "term")
      .groupBy(col("id"), col("cidx"))
      .agg(sum(round(col("v") * col("cv") * S).cast("long")).as("dot9"))
    // full (doc × centroid) grid without a nested loop: a k-literal
    // explode then a broadcast HASH join on cidx (the q120 pattern)
    val pairs = nrm
      .withColumn("cidx", explode(lit((0L until k.toLong).toArray)))
      .join(broadcast(cnrm), "cidx")
      .join(dots, Seq("id", "cidx"), "left")
      .withColumn("cos", round(
        (coalesce(col("dot9"), lit(0L)).cast("double") / S) /
          (sqrt(col("nsq9").cast("double") / S) *
            sqrt(col("cnsq9").cast("double") / S)) * 1000) / 1000)
    pairs.withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cos").desc, col("cidx"))))
      .filter(col("rk") === 1)
      .select(col("id"), col("cidx").as("cluster"))
  }

  /** EXACT unweighted centroid mean as a FRAME: per (cluster, term),
    * Σ round(v·1e9) / (n·1e9) — order-independent, so both engines
    * compute bit-identical centroid doubles (A7's arithmetic in the
    * q120 discipline). Empty clusters keep their previous centroid's
    * vector, like [[meanCentroids]].
    * @return next centroids (cidx, term, cv). */
  def meanExactFrames(exploded: DataFrame, assigned: DataFrame,
                      prevCents: DataFrame): DataFrame = {
    val S = 1000000000L
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))
    val means = exploded.join(assigned, "id")
      .groupBy(col("cluster"), col("term"))
      .agg(sum(round(col("v") * S).cast("long")).as("s9"))
      .join(broadcast(sizes), "cluster")
      .select(col("cluster").as("cidx"), col("term"),
        (col("s9").cast("double") / (col("n") * S)).as("cv"))
    val empties = prevCents.join(
        sizes.select(col("cluster").as("cidx")), Seq("cidx"), "left_anti")
      .select(col("cidx"), col("term"), col("cv"))
    means.unionByName(empties)
  }

  /** `iters` EXACT Lloyd iterations with frame centroids — assign →
    * scaled-long mean, repeated — returning the final centroid frame.
    * The distributed, oracle-checkable shape of [[fit]] (fixed
    * iteration count instead of the float-cosine convergence test;
    * per iteration: one term join + two key shuffles, O(1) driver
    * state). Each round's centroids are localCheckpoint snapshots
    * (the BSP hygiene of graft.ops.Graph). */
  def fitExactFrames(exploded: DataFrame, init: DataFrame, k: Int,
                     iters: Int, nrm0: DataFrame = null): DataFrame = {
    require(iters >= 0)
    // doc norms are centroid-invariant: one eager doc-sized snapshot
    // serves every round (see docNorms); callers that also assign
    // against the returned centroids pass their own snapshot in so
    // the whole query computes norms exactly once
    val nrm = if (nrm0 != null) nrm0
      else if (iters > 0) docNorms(exploded).localCheckpoint(true) else null
    var cents = init
    for (_ <- 1 to iters) {
      val cur = cents.localCheckpoint(true)
      val a = assignExactFramesPre(nrm, exploded, cur, k)
      cents = meanExactFrames(exploded, a, cur)
    }
    val out = cents.localCheckpoint(true)
    if (nrm != null && (nrm0 eq null)) graft.util.Snapshots.unpersist(nrm)
    out
  }

  /** Deterministic seeding: vectors of the k smallest doc ids (the
    * reference shuffles unseeded, task2_2.java:65 — SURVEY §7.4.4 makes
    * every random draw explicit; this is the simplest reproducible
    * choice for oracle-friendly tests). */
  def seedByMinId(df: DataFrame, idCol: String, vecCol: String,
                  k: Int): IndexedSeq[Vec] =
    df.orderBy(col(idCol)).limit(k).select(col(vecCol))
      .collect().map(_.getMap[String, Double](0).toMap).toIndexedSeq

  /** Seeded random sample init (SURVEY T6) — the reference's
    * `Collections.shuffle` (task2_2.java:65) with the explicit seed
    * SURVEY §7.4.4 mandates: shuffle by seeded rand, tie-broken by id
    * for a total order. */
  def seedRandom(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 seed: Long): IndexedSeq[Vec] =
    df.orderBy(rand(seed), col(idCol)).limit(k).select(col(vecCol))
      .collect().map(_.getMap[String, Double](0).toMap).toIndexedSeq
}
