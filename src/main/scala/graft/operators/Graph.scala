package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for crawl curation. The web corpus a pipeline
  * ingests IS a graph (pages link pages, hosts link hosts), and the
  * classic authority signal over it — PageRank — is a first-class
  * curation feature: crawl frontiers prioritize by it, and
  * quality-weighted sampling ([[Stats.weightedSamplePerGroup]]) can use
  * it as the weight the way OpenWebText used karma.
  */
object Graph {

  /** PageRank by power iteration (Page et al. 1999), `iters` rounds at
    * damping `d`:
    * `r'(v) = (1-d)/n + d * (Σ_{u->v} r(u)/deg(u) + dangling/n)` —
    * dangling mass (rank parked on nodes with no out-edges) is
    * redistributed uniformly each round, so total rank stays 1 and the
    * result matches the textbook formulation exactly (a fixed iteration
    * count, not a convergence test, keeps the operator deterministic and
    * oracle-expressible).
    *
    * Same iterative-driver-loop discipline as
    * [[Dedup.connectedComponentsStar]]: each round is ONE edge-keyed join +
    * one destination-keyed aggregate over (id, double) rows — never the corpus's payload columns. The dangling
    * mass (a single-row agg over the detached ranks) rides INSIDE the
    * round's job as a broadcast 1-row crossJoin rather than a separate
    * driver collect, so each round is exactly one job (r21: the collect
    * per round was a second full job whose only output was one double).
    * Ranks are detached between rounds (the frame feeds the next round's
    * join AND the dangling sum); out-degrees are fit once, and the
    * deduped edge table is detached once up front (it feeds every
    * round's join — left lazy it re-ran its distinct shuffle per round).
    * Output:
    * (id, round(rank, 6) as rank). `nodes`: one column `id`; `edges`:
    * `src`, `dst` (directed; parallel (src,dst) rows are deduped inside
    * the operator, so each distinct edge counts exactly once in both
    * out-degree and contributions). */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank needs iters >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"pageRank needs damping in (0, 1), got $damping")
    val n = nodes.count().toDouble
    require(n > 0, "pageRank needs at least one node")
    val e = Relational.detach(edges.select(col("src"), col("dst")).distinct())
    val outDeg = Relational.detach(
      e.groupBy("src").agg(count(lit(1)).cast("double").as("_deg")))
    var ranks = Relational.detach(
      nodes.select(col("id"), lit(1.0 / n).as("_r")))
    for (_ <- 1 to iters) {
      // rank parked on dangling nodes (no out-edges) — a 1-row aggregate
      // broadcast into the round's plan (same sum the driver collect
      // produced; sum over an empty slice is null, hence the coalesce)
      val dangling = ranks
        .join(outDeg, ranks("id") === outDeg("src"), "left_anti")
        .agg(coalesce(sum("_r"), lit(0.0)).as("_dang"))
      val contribs = e
        .join(ranks, e("src") === ranks("id"))
        .join(outDeg, "src")
        .select(col("dst").as("id"), (col("_r") / col("_deg")).as("_c"))
        .groupBy("id").agg(sum("_c").as("_in"))
      val next = Relational.detach(
        nodes.select(col("id"))
          .join(contribs, Seq("id"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            (lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("_in"), lit(0.0)) +
                col("_dang") / lit(n))).as("_r")))
      Relational.release(ranks)
      ranks = next
    }
    Relational.release(e)
    Relational.release(outDeg)
    ranks.select(col("id"), round(col("_r"), 6).as("rank"))
  }
}
