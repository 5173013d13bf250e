package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Rounding.{q4, r4}

/** Categorical-association analytics over the transcript store: the
  * role×tool contingency grid (mutual information, Pearson chi-square,
  * Cramér's V) and tool co-occurrence association rules (support /
  * confidence / lift). The feature-audit verbs a dataset curator runs
  * before trusting a categorical column as a training signal.
  *
  * Scale shape: the corpus-sized work is ONE partial-aggregable census per
  * operator (cells for the grid, per-conv distinct tools for the rules);
  * everything downstream runs on |roles|·|tools|- or |tools|²-bounded
  * relations. Exactness: per-cell ln / chi terms quantized to integer
  * ten-thousandths before the (bounded) weighted sums; lift/confidence are
  * single IEEE divisions of exact integers.
  */
object Contingency {

  /** One-row role×tool association grade: observed cell counts o_ij vs
    * independence e_ij = r_i·c_j/N.
    *  - mi = Σ_{o>0} (o/N)·ln(o·N/(r·c))  [nats]
    *  - chi2 = Σ_all (o−e)²/e  (zero cells included — they carry e)
    *  - cramers_v = sqrt(chi2 / (N·min(R−1, C−1)))  (sqrt is correctly
    *    rounded IEEE, safe at the output boundary)
    * Each cell's ln/chi term is quantized to ten-thousandths, so both
    * corpus sums are exact BIGINT arithmetic (bound: N·|lq| < 2⁵³ —
    * at 10¹² turns lq ≤ ~3·10⁵ keeps the product at ~10¹⁷… run per-shard
    * and merge the integer sums if the corpus exceeds that).
    */
  def roleToolStats(transcripts: DataFrame): DataFrame = {
    val cells = transcripts
      .select(col("role"), coalesce(col("tool"), lit("none")).as("tool"))
      .groupBy("role", "tool").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("role").agg(sum("o").as("r"))
    val colsR = cells.groupBy("tool").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("nn"),
      countDistinct("role").as("nr"), countDistinct("tool").as("nc"))
    val grid = rows.join(broadcast(colsR), lit(true))
      .join(cells, Seq("role", "tool"), "left")
      .join(broadcast(tot), lit(true))
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("e",
        col("r").cast("double") * col("c") / col("nn"))
      .withColumn("miq",
        when(col("o") > 0, col("o") *
          round(log(col("o").cast("double") * col("nn") /
            (col("r").cast("double") * col("c"))) * lit(10000d)).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("chq",
        q4((col("o") - col("e")) * (col("o") - col("e")) / col("e")))
    grid.groupBy("nn", "nr", "nc")
      .agg(sum("miq").as("msum"), sum("chq").as("csum"))
      .select(col("nn").as("n"), col("nr").as("n_roles"),
        col("nc").as("n_tools"),
        r4(col("msum").cast("double") / (col("nn") * lit(10000d))).as("mi"),
        r4(col("csum") / lit(10000d)).as("chi2"),
        r4(sqrt(col("csum").cast("double") /
          (lit(10000d) * col("nn") * least(col("nr") - 1, col("nc") - 1))))
          .as("cramers_v"))
  }

  /** Tool co-occurrence association rules at the conversation grain
    * (Agrawal-Srikant market-basket over tool baskets): for every tool
    * pair a < b co-occurring in a conversation, support n_xy/N_baskets,
    * both directional confidences, and lift = N·n_xy/(n_a·n_b). Baskets
    * are the per-conv DISTINCT tool sets — the self-join fans out ≤
    * |tools| per conversation, then partial-aggs to the |tools|²-bounded
    * pair relation. Integer inputs, one IEEE division per metric.
    */
  def toolAssocRules(transcripts: DataFrame): DataFrame = {
    val bt = transcripts.filter(col("tool").isNotNull)
      .select(col("conv_id"), col("tool")).distinct()
    val nx = bt.groupBy("tool").agg(count(lit(1)).as("n_t"))
    val nb = bt.agg(countDistinct("conv_id").as("n_baskets"))
    val a = bt.select(col("conv_id"), col("tool").as("tool_a"))
    val b = bt.select(col("conv_id"), col("tool").as("tool_b"))
    val pairs = a.join(b, Seq("conv_id"))
      .filter(col("tool_a") < col("tool_b"))
      .groupBy("tool_a", "tool_b").agg(count(lit(1)).as("n_xy"))
    pairs
      .join(broadcast(nx.select(col("tool").as("tool_a"), col("n_t").as("n_a"))),
        Seq("tool_a"))
      .join(broadcast(nx.select(col("tool").as("tool_b"), col("n_t").as("n_b"))),
        Seq("tool_b"))
      .join(broadcast(nb), lit(true))
      .select(col("tool_a"), col("tool_b"), col("n_xy"), col("n_a"),
        col("n_b"), col("n_baskets"),
        r4(col("n_xy").cast("double") / col("n_baskets")).as("support"),
        r4(col("n_xy").cast("double") / col("n_a")).as("conf_ab"),
        r4(col("n_xy").cast("double") / col("n_b")).as("conf_ba"),
        r4(col("n_xy").cast("double") * col("n_baskets") /
          (col("n_a").cast("double") * col("n_b"))).as("lift"))
  }
}
