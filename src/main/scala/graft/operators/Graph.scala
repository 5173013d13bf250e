package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Rounding.{q4, r4}

/** Graph analytics over the tool-transition digraph — the Markov view of
  * agent tool chains ([[SeriesOps.toolTransitions]] builds the edge
  * relation). Extends the engine's transition matrix with the two classic
  * whole-graph summaries a fleet dashboard wants: stationary importance
  * (PageRank) and chain predictability (entropy rate).
  *
  * Scale shape: the corpus-sized work is the ONE conv-windowed pass that
  * builds the edge relation; everything here runs on the |tools|²-bounded
  * transition matrix (tool vocabularies are small and fixed), so the
  * iteration loop joins bounded relations only. Exactness: per-step 4-dp
  * rank quantization + 6-dp transition probabilities, every cross-term
  * floored to integer ten-thousandths before summation (exact BIGINT
  * adds); the DuckDB oracle replays the power iteration as a recursive
  * CTE with identical operand order.
  */
object Graph {

  /** PageRank (Brin-Page 1998) with damping `d` over the weighted
    * tool-transition graph, `iters` quantized power-iteration steps.
    * Dangling nodes (no out-edges) spread their mass uniformly — the
    * standard correction, kept even though the synthetic graph is
    * strongly connected (a planted-dangling ScalaTest covers it).
    *
    * Per step (all exact integer arithmetic between the two boundary
    * divisions): R_i = rank in ten-thousandths; P_ij = round(n_ij·10⁶ /
    * out_i) in millionths; edge contribution c_ij = round(R_i·P_ij /
    * 10⁶); r'_j = r4((1−d)/N + d·(Σc_ij + round(D/N))/10⁴) where D =
    * Σ_{dangling} R_i.
    */
  def pageRank(transitions: DataFrame, damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    // the |tools|²-bounded matrix is materialized once (eager
    // localCheckpoint — lineage truncated so the 10-step loop never
    // re-derives it, and the per-step plan stays constant-size even
    // though each step references the previous rank three times)
    val edges0 = transitions.select(col("from_tool"), col("to_tool"),
      col("n").cast("long").as("n")).localCheckpoint(true)
    val nodes = edges0.select(col("from_tool").as("tool"))
      .union(edges0.select(col("to_tool").as("tool"))).distinct()
      .localCheckpoint(true)
    val outs = edges0.groupBy(col("from_tool").as("tool"))
      .agg(sum("n").as("out_n")).localCheckpoint(true)
    // bounded |tools|² relation: 6-dp transition probabilities
    val edges = edges0.join(outs, edges0("from_tool") === outs("tool"))
      .select(col("from_tool"), col("to_tool"),
        round(col("n") * lit(1000000d) / col("out_n")).cast("long").as("pq"))
      .localCheckpoint(true)
    val nN = nodes.count() // bounded: |tools|
    var rank = nodes.withColumn("rq",
      round(lit(10000d) / nN).cast("long")) // r_0 = 1/N in ten-thousandths
    val withOut = nodes.join(outs, Seq("tool"), "left")
    for (_ <- 1 to iters) {
      val r = rank
      val dangling = r.join(withOut.filter(col("out_n").isNull)
          .select("tool"), Seq("tool"), "left_semi")
        .agg(coalesce(sum("rq"), lit(0L)).as("dq"))
      val contrib = r.join(edges, r("tool") === edges("from_tool"))
        .select(col("to_tool").as("tool"),
          round(col("rq") * col("pq") / lit(1000000d)).cast("long").as("cq"))
        .groupBy("tool").agg(sum("cq").as("csum"))
      rank = nodes.join(contrib, Seq("tool"), "left")
        .join(broadcast(dangling), lit(true))
        .select(col("tool"),
          q4(r4(lit((1.0 - damping) / nN) +
            lit(damping) * (coalesce(col("csum"), lit(0L)) +
              round(col("dq").cast("double") / nN).cast("long")) / lit(10000d)))
            .as("rq"))
        .localCheckpoint(true) // |tools| rows; keeps the loop plan flat
    }
    rank.join(withOut, Seq("tool"), "left")
      .select(col("tool"), coalesce(col("out_n"), lit(0L)).as("out_n"),
        (col("rq") / lit(10000d)).as("rank"))
  }

  /** Entropy rate of the empirical tool-chain Markov process:
    * H = Σ_ij (n_ij/N)·ln(out_i/n_ij) — how predictable the next tool is
    * given the current one (0 = deterministic chains, ln k = uniform).
    * Each edge's ln term is quantized to integer ten-thousandths BEFORE
    * the weighted sum (the payload-entropy/zipf lesson), so the corpus
    * sum is exact BIGINT cross-multiplication with ONE final division.
    * One row: (n_transitions, n_states, n_edges, entropy_rate) in nats.
    */
  def entropyRate(transitions: DataFrame): DataFrame = {
    val e = transitions.select(col("from_tool"), col("n").cast("long").as("n"))
      .withColumn("out_n",
        sum("n").over(org.apache.spark.sql.expressions.Window
          .partitionBy("from_tool")))
      .withColumn("lq",
        round(log(col("out_n").cast("double") / col("n")) * lit(10000d))
          .cast("long"))
    e.agg(sum("n").as("n_transitions"),
        countDistinct("from_tool").as("n_states"),
        count(lit(1)).as("n_edges"),
        sum(col("n") * col("lq")).as("hsum"))
      .select(col("n_transitions"), col("n_states"), col("n_edges"),
        r4(col("hsum").cast("double") /
          (col("n_transitions") * lit(10000d))).as("entropy_rate"))
  }
}
