package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl-frontier governance. The reference
  * schedules its crawl by flat per-source quotas (SURVEY §2 T4,
  * nodes_workflow cadence); a 100 TB crawl prioritizes by GRAPH
  * authority — PageRank over the host/document link graph is the
  * canonical scorer (Page et al. 1999, and what production crawlers
  * seed their frontier with).
  *
  * Scale + determinism design:
  *
  *   - Ranks are FIXED-POINT LONGS (scale = 1e12), never doubles.
  *     Every per-edge contribution is floor-divided into an exact
  *     integer, so the per-node sum is integer addition — associative
  *     and commutative — and the result is bitwise identical across
  *     partitionings, AQE re-plans, and engines (the same trick as
  *     the k-means accumulators in Similarity; pinned cross-engine by
  *     the q108 DuckDB oracle, which unrolls the same integer
  *     recurrence). A float formulation would hash-mismatch on sum
  *     order alone.
  *
  *   - One shuffle per iteration. The edge list (with out-degrees
  *     baked in) is persisted hash-partitioned on `src`; the rank
  *     frame comes out of each iteration hash-partitioned on the node
  *     id (it is the groupBy output), so the next iteration's
  *     edges-ranks join needs NO new exchange on either side — the
  *     only data movement per round is the contribution groupBy.
  *     Edges are read once from disk, not once per iteration.
  *
  *   - Iteration count is a parameter (default 5): frontier scoring
  *     wants a handful of power-iteration rounds, not convergence to
  *     machine epsilon; a fixed count also keeps the oracle SQL
  *     finite (unrolled CTE chain).
  */
object Graph {

  /** PageRank over an explicit node set and directed edge list, in
    * fixed-point integer arithmetic.
    *
    * Recurrence (all operations integer, all values non-negative):
    * {{{
    *   init       = scale DIV n
    *   teleport   = (scale * (dampDen - dampNum) DIV dampDen) DIV n
    *   contrib(e) = ((rank(src) * dampNum) DIV dampDen) DIV outdeg(src)
    *   rank'(v)   = teleport + sum over in-edges of contrib
    * }}}
    *
    * DIRECTED inputs are handled exactly (round-10 hardening — the
    * previous release double-counted dst-only nodes under a directed
    * edge list):
    *  - nodes with no edges at all hold `teleport` from iteration 1 on
    *    (they receive no mass; filled in by the final node-cover join —
    *    they never enter the iterated join)
    *  - source-only nodes (out-edges, no in-edges) receive nothing, so
    *    from iteration 1 on they hold exactly `teleport`; the iterated
    *    join coalesces their missing rank to `teleport`, which keeps
    *    their OUT-contributions flowing in later rounds
    *  - dst-only nodes accumulate contributions like any other node and
    *    appear exactly once in the output (GraphSpec pins it).
    * Dangling nodes (out-degree zero but in-edges present) simply leak
    * their damped mass, the standard simplification — so
    * sum(rank_fixed) <= scale always (GraphSpec asserts it); pass a
    * symmetrized edge list (every edge in both directions) to avoid
    * dangling entirely, which is what host-graph frontier scoring does
    * anyway.
    *
    * `nodes` must carry one row per distinct node id in `idCol` and
    * COVER every edge endpoint; `edges` directed pairs in
    * `srcCol`/`dstCol` (duplicates are collapsed — this is a simple
    * graph walk, not a multigraph).
    * Output: (node_id, rank_fixed), exactly one row per node, with
    * sum(rank_fixed) <= scale (floor losses only, bounded by
    * edges + nodes per iteration).
    */
  def pageRankFixed(spark: SparkSession, nodes: DataFrame,
      edges: DataFrame, idCol: String, srcCol: String, dstCol: String,
      iters: Int = 5, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      edgesDistinct: Boolean = false,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 1, "pageRankFixed needs at least one iteration")
    val n = nodes.count()
    require(n > 0, "pageRankFixed over an empty node set")
    val init = scale / n
    val tele = scale * (dampDen - dampNum) / dampDen / n

    val proj = edges
      .select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"))
    // edgesDistinct: [[undirect]] output is distinct by construction —
    // re-deduplicating a corpus-scale edge list would pay a second
    // full shuffle for nothing
    val simple = if (edgesDistinct) proj else proj.distinct()
    // Out-degree as a count window over __src: ONE pass over the
    // distinct edges and one shuffle — a groupBy+self-join form
    // materializes the whole distinct subtree twice. The window's
    // exchange also leaves the frame hash-partitioned on __src,
    // exactly what every iteration's join wants.
    val edgesDeg = simple.withColumn("__outdeg", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("__src"))))
    lastRelease.pins(edgesDeg.sparkSession).pin(edgesDeg)

    var ranks = edgesDeg.select(col("__src").as("node_id")).distinct()
      .withColumn("rank_fixed", lit(init))
    // Deep iteration hygiene (q86's per-round discipline, gated so the
    // common shallow case stays a single unrolled plan): every
    // `checkpointEvery` rounds the rank frame localCheckpoints, cutting
    // the lineage so optimizer/AQE work stays O(checkpointEvery) per
    // round instead of compounding over the whole loop; the superseded
    // round's checkpoint blocks release immediately (releaseCheckpoint —
    // Dataset.unpersist is a no-op on checkpoint-backed frames and the
    // periodic-GC ContextCleaner would otherwise hold every round's copy
    // for up to 30 min).
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    var prevCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // LEFT join + teleport coalesce: after iteration 1 the rank frame
      // only covers contribution RECEIVERS (the dst set); a source-only
      // node's rank is then exactly `tele`, and an inner join would
      // silently zero its out-contributions (directed-input bug fixed
      // in round 10). Symmetrized inputs never take the coalesce branch
      // — src ⊆ dst — so q108's plan and output are unchanged.
      val contrib = edgesDeg
        .join(ranks, col("__src") === col("node_id"), "left")
        .select(col("__dst").as("node_id"),
          expr(s"((coalesce(rank_fixed, $tele) * $dampNum) DIV $dampDen)" +
            " DIV __outdeg").as("__c"))
      ranks = contrib.groupBy("node_id")
        .agg((lit(tele) + sum(col("__c"))).as("rank_fixed"))
      if (i % checkpointEvery == 0 && i < iters) {
        val ck = ranks.localCheckpoint(true)
        prevCkpt.foreach(Dedup.releaseCheckpoint)
        prevCkpt = Some(ck)
        ranks = ck
      }
    }

    // Node-cover fill: after >=1 iterations the rank frame is exactly
    // the contribution receivers (dst set); every other node —
    // isolated OR source-only — holds `tele`. One left join emits
    // exactly one row per node (the former __src-only anti-join
    // emitted dst-only nodes TWICE on directed inputs: once from the
    // loop, once as "isolated").
    nodes.select(col(idCol).cast("long").as("node_id"))
      .join(ranks, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("rank_fixed"), lit(tele)).as("rank_fixed"))
  }

  private val lastRelease = ReleaseSlot()

  /** The symmetrized (undirected) edge list `pageRankFixed` wants for
    * host-authority scoring: both directions of every pair, distinct
    * by construction, self-loops dropped.
    *
    * Canonical-orientation form: pairs normalize to (least, greatest)
    * and deduplicate at HALF the symmetrized size, then mirror — the
    * naive union-both-directions-then-distinct evaluates the (possibly
    * expensive) edge-producing pipeline twice and shuffles twice the
    * rows through its dedup. The mirror union's second branch reuses
    * the canonical distinct's exchange (identical subtree — AQE/
    * ReuseExchange), so the input pipeline runs once. */
  def undirect(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    canon.unionByName(
      canon.select(col("dst").as("src"), col("src").as("dst")))
  }
}
