package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Rounding.q4

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (`embeddings(vec_id, embedding: array<float>, label)`) — engine addition
  * for training-data pipelines (no sits analog).
  *
  * Cosine arithmetic is element-wise double fold (`zip_with` + `aggregate`)
  * — codegen'd, no UDF. Scores are rounded to 6 dp BEFORE ranking with a
  * vec_id tie-break, so top-k is deterministic and engine-independent
  * (libm/fold-order ulps cannot reorder ranks).
  *
  * Scale paths:
  *  - [[bruteTopK]]: queries × corpus — correct baseline; at 10^12 rows only
  *    viable for small query sets (broadcast the queries, stream the corpus,
  *    per-partition top-k then global merge, which is exactly what the rank
  *    window over the broadcast join compiles to).
  *  - [[ivfTopK]]: IVF — assign every vector to its nearest centroid cell
  *    (tiny broadcast centroid set), probe only the query's cell. The cell
  *    id becomes the shuffle/partition key; at scale cells are Iceberg
  *    partition values and probing prunes the scan.
  */
object Similarity {

  private def dims(df: DataFrame, c: String): DataFrame = {
    // the native codegen dot product backs every cosine below
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn(c, col(c).cast("array<double>"))
  }

  /** Append `norm` column (‖v‖ = sqrt(v·v), via the codegen ArrayDot — the
    * sequential fold is float-identical to the former aggregate form).
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))

  private val dot = "graft_dot(qv, ev)"

  /** Brute-force cosine top-k of every query vector vs the corpus. */
  def bruteTopK(emb: DataFrame, queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val e = withNorm(dims(emb, "embedding"))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("norm").as("qn"))
    val c = e.select(col("vec_id").as("eid"), col("embedding").as("ev"), col("norm").as("en"))
    val scored = q.join(c, col("qid") =!= col("eid"))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("eid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "eid", "cos", "rn")
  }

  /** Matryoshka-style truncated-dimension recall@k (Kusupati et al. 2022):
    * how much top-k quality survives keeping only the first d dims of
    * every embedding — the measurement that justifies serving a cheaper
    * prefix index. Ground truth = full-dim [[bruteTopK]]; per d, the
    * candidate set is bruteTopK over prefix-sliced vectors (same rounded
    * cosine, same tie-break), and recall = |hits| / (k·|queries|).
    * Explicitly a QA-SCALE evaluator like lshRecall — the quadratic brute
    * force IS the measurement instrument, run on a sample at production
    * scale. Output one row per d: (dim, n_queries, n_hits, recall).
    */
  def mrlRecall(emb: DataFrame, queryPred: org.apache.spark.sql.Column,
      dimsList: Seq[Int], k: Int): DataFrame = {
    val truth = bruteTopK(emb, queryPred, k).select(col("qid"), col("eid"))
    val nq = truth.select(col("qid")).distinct().count()
    dimsList.map { d =>
      val sliced = emb.withColumn("embedding",
        expr(s"slice(embedding, 1, $d)"))
      bruteTopK(sliced, queryPred, k)
        .join(truth, Seq("qid", "eid"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("dim"), lit(nq).as("n_queries"), col("n_hits"),
          round(col("n_hits").cast("double") / (lit(nq) * lit(k.toLong))
            + lit(1e-9), 4).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Assign each vector to its nearest centroid (max cosine, centroid-id
    * tie-break) — the IVF cell map. centroidPred picks the seed rows.
    */
  def ivfAssign(emb: DataFrame, centroidPred: org.apache.spark.sql.Column): DataFrame = {
    val e = withNorm(dims(emb, "embedding"))
    val cents = e.filter(centroidPred)
      .select(col("vec_id").as("cid"), col("embedding").as("qv"), col("norm").as("qn"))
    val all = e.select(col("vec_id").as("eid"), col("embedding").as("ev"), col("norm").as("en"))
    val scored = all.join(broadcast(cents), lit(true))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
    val w = Window.partitionBy("eid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("eid"), col("cid").as("cell"))
  }

  /** Assign every vector to the nearest centroid of an EXPLICIT centroid
    * relation (cid, cv) — broadcast centroids, rounded-cosine argmax with
    * cid tie-break (same determinism contract as [[ivfAssign]]). Emits
    * (vec_id, cell, cos).
    */
  def ivfAssignTo(emb: DataFrame, cents: DataFrame): DataFrame = {
    val e = withNorm(dims(emb, "embedding"))
      .select(col("vec_id").as("eid"), col("embedding").as("ev"), col("norm").as("en"))
    val c = dims(cents, "cv").select(col("cid"), col("cv").as("qv"),
      sqrt(expr("graft_dot(cv, cv)")).as("qn"))
    val scored = e.join(broadcast(c), lit(true))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
    val w = Window.partitionBy("eid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("eid").as("vec_id"), col("cid").as("cell"), col("cos"))
  }

  /** Per-cluster simplified (centroid) silhouette over an explicit centroid
    * relation — the clustering-quality grade for the IVF/k-means cells
    * (Rousseeuw 1987; the centroid variant is the O(n·k) form every
    * large-scale evaluator uses — pairwise silhouette is O(n²) by
    * definition and exists here only implicitly as its upper bound).
    * Per vector with rank-1/rank-2 centroid cosines c1 ≥ c2 (the
    * [[ivfAssignTo]] 6-dp-rounded scoring): a = 1−c1, b = 1−c2,
    * s = (b−a)/max(a,b) = (c1−c2)/(1−c2) ∈ [0,1] (centroid silhouette is
    * non-negative by construction since rank order gives a ≤ b; s = 0 when
    * c2 = 1, i.e. the vector ties two centroids exactly). Per-vector s is
    * quantized to integer ten-thousandths before the per-cluster sum
    * (exact BIGINT adds, one final division). Output per cluster:
    * (cell, n, mean_sil, min_sil, max_sil).
    */
  def silhouetteCentroid(emb: DataFrame, cents: DataFrame): DataFrame = {
    val e = withNorm(dims(emb, "embedding"))
      .select(col("vec_id").as("eid"), col("embedding").as("ev"), col("norm").as("en"))
    val c = dims(cents, "cv").select(col("cid"), col("cv").as("qv"),
      sqrt(expr("graft_dot(cv, cv)")).as("qn"))
    val scored = e.join(broadcast(c), lit(true))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
    val w = Window.partitionBy("eid").orderBy(col("cos").desc, col("cid"))
    val top2 = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("eid")
      .agg(max(when(col("rn") === 1, col("cos"))).as("c1"),
        min(when(col("rn") === 1, col("cid"))).as("cell"),
        max(when(col("rn") === 2, col("cos"))).as("c2"))
      .withColumn("sq", q4(
        when(col("c2").isNull || col("c2") >= 1.0d, lit(0.0d))
          .otherwise((col("c1") - col("c2")) / (lit(1.0d) - col("c2")))))
    top2.groupBy("cell")
      .agg(count(lit(1)).as("n"),
        round(sum("sq").cast("double") / (count(lit(1)) * lit(10000d))
          + lit(1e-9), 4).as("mean_sil"),
        round(min("sq") / lit(10000d), 4).as("min_sil"),
        round(max("sq") / lit(10000d), 4).as("max_sil"))
  }

  /** External clustering agreement of an assignment relation
    * `(vec_id, cell)` against the embeddings' ground-truth `label`
    * column: purity (majority-label mass) and normalized mutual
    * information NMI = MI/√(H_cell·H_label) — the standard pair of
    * external cluster-quality grades (Manning et al., IR ch.16). All
    * entropies/MI use the quantized-ln integer-sum contract on the
    * (cell × label)-bounded contingency grid; sqrt at the boundary.
    * One row: (n, n_cells, n_labels, purity, mi, h_cell, h_label, nmi).
    */
  def clusterAgreement(emb: DataFrame, assign: DataFrame): DataFrame = {
    val cells = assign.select(col("vec_id"), col("cell"))
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("o"))
    val byCell = cells.groupBy("cell")
      .agg(sum("o").as("r"), max("o").as("mx"))
    val byLabel = cells.groupBy("label").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("nn"),
      countDistinct("cell").as("ncell"), countDistinct("label").as("nlab"))
    def lnq(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(log(x) * lit(10000d)).cast("long")
    val miSum = cells
      .join(byCell.select(col("cell"), col("r")), "cell")
      .join(broadcast(byLabel), "label")
      .join(broadcast(tot), lit(true))
      .agg(sum(col("o") * lnq(col("o").cast("double") * col("nn") /
        (col("r").cast("double") * col("c")))).as("miq"))
    val hCell = byCell.join(broadcast(tot), lit(true))
      .agg(sum(col("r") * lnq(col("nn").cast("double") / col("r"))).as("hcq"),
        sum("mx").as("pure"))
    val hLabel = byLabel.join(broadcast(tot), lit(true))
      .agg(sum(col("c") * lnq(col("nn").cast("double") / col("c"))).as("hlq"))
    tot.join(broadcast(miSum), lit(true))
      .join(broadcast(hCell), lit(true))
      .join(broadcast(hLabel), lit(true))
      .select(col("nn").as("n"), col("ncell").as("n_cells"),
        col("nlab").as("n_labels"),
        round(col("pure").cast("double") / col("nn") + lit(1e-9), 4)
          .as("purity"),
        round(col("miq").cast("double") / (col("nn") * lit(10000d))
          + lit(1e-9), 4).as("mi"),
        round(col("hcq").cast("double") / (col("nn") * lit(10000d))
          + lit(1e-9), 4).as("h_cell"),
        round(col("hlq").cast("double") / (col("nn") * lit(10000d))
          + lit(1e-9), 4).as("h_label"),
        round(col("miq").cast("double") /
          (sqrt(col("hcq").cast("double") * col("hlq")) + lit(1e-9)) +
          lit(1e-9), 4).as("nmi"))
  }

  /** Spherical k-means (Lloyd) training of IVF centroids. Each iteration:
    * (1) assign every vector by rounded cosine ([[ivfAssignTo]] contract);
    * (2) new centroid = per-dim MEAN of its members, QUANTIZED to 4 decimals
    * — the quantization makes each iteration a deterministic function of the
    * assignment alone (invariant to float summation order across engines and
    * partitionings), which is what lets the DuckDB oracle replay training
    * exactly. Cells that lose all members are dropped (documented; faiss
    * would re-split — irrelevant at the small k used for IVF).
    *
    * Scale shape: assignment is a broadcast-centroid scan (k ≲ thousands);
    * the update is one partial-aggregable groupBy over (cell, dim) exploded
    * rows. Train on a SAMPLE (the standard ~points-per-centroid budget —
    * this relation IS the sample), then assign the full corpus once with
    * [[ivfAssignTo]].
    */
  def kmeansCentroids(emb: DataFrame, seedPred: org.apache.spark.sql.Column,
      iters: Int): DataFrame = {
    val e = dims(emb, "embedding")
    var cents = e.filter(seedPred)
      .select(col("vec_id").cast("long").as("cid"), col("embedding").as("cv"))
    for (_ <- 1 to iters) {
      val asg = ivfAssignTo(emb, cents).select(col("vec_id"), col("cell"))
      val cm = asg.join(e, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), (col("pos") + 1).as("dim"))
        .agg(round(avg("v") + lit(1e-9), 4).as("mv"))
      cents = cm.groupBy(col("cell").as("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, mv))), s -> s.mv)")
          .as("cv"))
    }
    cents
  }

  /** Top-n nearest centroid cells per vector (cell rank 1..n) — rank 1 is
    * the storage assignment, ranks ≤ nprobe are the query probe set.
    */
  def ivfAssignN(emb: DataFrame, centroidPred: org.apache.spark.sql.Column,
      n: Int): DataFrame = {
    val e = withNorm(dims(emb, "embedding"))
    val cents = e.filter(centroidPred)
      .select(col("vec_id").as("cid"), col("embedding").as("qv"), col("norm").as("qn"))
    val all = e.select(col("vec_id").as("eid"), col("embedding").as("ev"), col("norm").as("en"))
    val scored = all.join(broadcast(cents), lit(true))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
    val w = Window.partitionBy("eid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("crank", row_number().over(w)).filter(col("crank") <= n)
      .select(col("eid"), col("cid").as("cell"), col("crank"))
  }

  /** IVF top-k with multi-probe: the corpus lives in its rank-1 cell; each
    * query probes its `nprobe` nearest cells (recall knob — the standard IVF
    * trade: nprobe× more candidates scored, still never a cross join; the
    * probe join stays a cell equi-join).
    */
  def ivfTopK(emb: DataFrame, queryPred: org.apache.spark.sql.Column,
      centroidPred: org.apache.spark.sql.Column, k: Int,
      nprobe: Int = 1): DataFrame = {
    val assignN = ivfAssignN(emb, centroidPred, nprobe)
    val e = withNorm(dims(emb, "embedding"))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("norm").as("qn"))
      .join(assignN, col("qid") === col("eid")).drop("eid", "crank")
    val c = e.select(col("vec_id").as("eid2"), col("embedding").as("ev"), col("norm").as("en"))
      .join(assignN.filter(col("crank") === 1), col("eid2") === col("eid"))
      .drop("eid", "crank")
    // an eid lives in exactly one cell → no (qid, eid) duplicates across probes
    val scored = q.join(c, Seq("cell")).filter(col("qid") =!= col("eid2"))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("eid2"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("eid2").as("eid"), col("cell"), col("cos"), col("rn"))
  }

  /** Scalar int8 quantization of embeddings for storage: per-vector max-abs
    * scale, each component rounded to round(v/scale·127) ∈ [-127, 127] —
    * the standard 4× storage cut for ANN corpora at 100 TB scale (cosine
    * ranking degrades only marginally; dot products run on integers).
    * Deterministic HALF_UP rounding so the oracle reproduces every byte.
    * Output: (vec_id, scale, qvec: array<int>).
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    dims(emb, "embedding")
      // floor guards the all-zero vector: x/0 would be NaN and its int cast
      // throws under ANSI mode; 1e-30 quantizes a zero vector to all zeros
      .withColumn("scale",
        greatest(expr("aggregate(embedding, cast(0 as double), (m, x) -> greatest(m, abs(x)))"),
          lit(1e-30)) / 127.0)
      .withColumn("qvec", expr("transform(embedding, x -> cast(round(x / scale) as int))"))
      .select(col("vec_id"), round(col("scale") + lit(1e-12), 9).as("scale"),
        col("qvec"),
        expr("aggregate(qvec, 0L, (s, x) -> s + x)").as("q_sum"),
        array_min(col("qvec")).as("q_min"), array_max(col("qvec")).as("q_max"),
        expr("size(filter(qvec, x -> abs(x) = 127))").as("n_sat"))

  /** Brute-force cosine top-k on the int8-QUANTIZED vectors — the search
    * half of the quantized storage path ([[quantizeInt8]]). Dot products
    * and norms accumulate in LONG integer arithmetic (order-free and
    * bit-exact across engines — no float accumulation anywhere), so the
    * ranking is deterministic to the last ulp; the cosine is derived from
    * the exact integers at the end. Same small-query-side contract as
    * [[bruteTopK]]; the IVF variants compose the same way.
    */
  def quantTopK(emb: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val q8 = quantizeInt8(emb).select(col("vec_id"), col("qvec"),
      sqrt(expr("aggregate(qvec, 0L, (s, x) -> s + CAST(x AS LONG) * x)")
        .cast("double")).as("qn"))
    val q = q8.filter(queryPred)
      .select(col("vec_id").as("qid"), col("qvec").as("qv"), col("qn").as("qa"))
    val c = q8.select(col("vec_id").as("eid"), col("qvec").as("ev"), col("qn").as("qb"))
    val idot =
      "aggregate(zip_with(qv, ev, (x, y) -> CAST(x AS LONG) * y), 0L, (s, x) -> s + x)"
    val scored = broadcast(q).join(c, col("qid") =!= col("eid"))
      .withColumn("qcos",
        round(expr(idot).cast("double") / (col("qa") * col("qb")) + lit(1e-9), 6))
    val w = Window.partitionBy("qid").orderBy(col("qcos").desc, col("eid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("qcos"), col("rn"))
  }

  /** Sign-random-projection LSH (Charikar STOC'02 hyperplane rounding) over
    * the int8-QUANTIZED vectors: bit b of the 32-bit signature is
    * sign(Σ_d w_{b,d}·qvec_d) with hyperplane weights w_{b,d} ∈ {+1,−1}
    * taken from md5-nibble parity of the DIMENSION index (the same
    * nibble-parity material as [[Dedup.simhash]], so the weight matrix is a
    * pure (bit, dim) constant both engines recompute identically).
    * Candidate pairs come from pigeonhole banding of the signature
    * (maxHamming+1 segments — two signatures within Hamming k agree exactly
    * on ≥1 segment), i.e. a segment-key equi-join, never a cross join; the
    * exact Hamming distance then filters, and the surviving pairs carry
    * their exact LONG integer dot product (order-free, bit-exact
    * cross-engine — zero float anywhere in this operator).
    *
    * vs [[ivfTopK]]: SRP needs no trained centroids (data-independent
    * hashing — the right tool when the corpus drifts faster than centroids
    * can be retrained) and its collision probability 1−θ/π is
    * angle-calibrated. Accumulation over int8 quantized components in LONG
    * cannot overflow (64 · 127² « 2^63).
    * Output: (id1, id2, hamming, dot_q).
    */
  def srpPairs(emb: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(32 % bands == 0, s"maxHamming+1=$bands must divide 32")
    val width = 32 / bands
    val mask = (1L << width) - 1
    val spark = emb.sparkSession
    import spark.implicits._
    val q8 = quantizeInt8(emb).select(col("vec_id").cast("long"), col("qvec"))
    val sig = q8.as[(Long, Seq[Int])].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      var w: Array[Array[Int]] = null // (dim)(bit), lazily sized per schema
      it.map { case (id, qv) =>
        if (w == null || w.length < qv.length) {
          w = Array.tabulate(qv.length) { d =>
            val dg = md.digest(String.valueOf(d)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            Array.tabulate(32) { b =>
              val nib = if (b % 2 == 0) (dg(b / 2) >> 4) & 1 else dg(b / 2) & 1
              nib * 2 - 1
            }
          }
        }
        val acc = new Array[Long](32)
        var d = 0
        while (d < qv.length) {
          val q = qv(d).toLong
          val wd = w(d)
          var b = 0
          while (b < 32) { acc(b) += wd(b) * q; b += 1 }
          d += 1
        }
        var s = 0L
        var b = 0
        while (b < 32) { if (acc(b) > 0) s += 1L << b; b += 1 }
        (id, s)
      }
    }.toDF("vec_id", "sig")
    val keyed = sig.select(col("vec_id"), col("sig"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b ->
           |  struct(b as idx, shiftright(sig, b * $width) & $mask as bval))""".stripMargin))
        .as("band"))
      .select(col("vec_id"), col("sig"),
        col("band.idx").as("bidx"), col("band.bval").as("bval"))
    val a = keyed.select(col("bidx"), col("bval"),
      col("vec_id").as("id1"), col("sig").as("sig1"))
    val b = keyed.select(col("bidx"), col("bval"),
      col("vec_id").as("id2"), col("sig").as("sig2"))
    val pairs = a.join(b, Seq("bidx", "bval"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sig1 ^ sig2)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    pairs
      .join(q8.select(col("vec_id").as("id1"), col("qvec").as("qv1")), "id1")
      .join(q8.select(col("vec_id").as("id2"), col("qvec").as("qv2")), "id2")
      .select(col("id1"), col("id2"), col("hamming"),
        expr("aggregate(zip_with(qv1, qv2, (x, y) -> CAST(x AS LONG) * y)," +
          " 0L, (s, x) -> s + x)").as("dot_q"))
  }

  // ---- product quantization (Jégou, Douze, Schmid, "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011) — the canonical ANN
  // compression at petabyte scale: split each vector into m subvectors,
  // k-means a codebook per subspace, store only the m code ids per vector
  // (64 dims × 4 B → m bytes), search by summing per-subspace
  // query-to-centroid distances (ADC). All distances are rounded to 6
  // decimals before any argmin/sum (the engine-replayable quantized
  // contract used by kmeansCentroids). ----

  /** Per-subspace rows: (vec_id, sub, sv) with sv = dims [sub·d+1, sub·d+d].
    */
  private def subVectors(emb: DataFrame, m: Int, d: Int): DataFrame =
    dims(emb, "embedding").select(col("vec_id"),
      explode(expr(s"transform(sequence(0, ${m - 1}), s ->" +
        s" struct(s AS sub, slice(embedding, s * $d + 1, $d) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))

  private val l2 = "graft_l2(qv, ev)"

  /** Train all m subspace codebooks concurrently: quantized Lloyd with L2
    * assignment per (vector, subspace) — one broadcast-join + one
    * partial-agg groupBy per iteration for ALL subspaces. Returns
    * (sub, cid, cv).
    */
  def pqTrain(emb: DataFrame, m: Int, d: Int,
      seedPred: org.apache.spark.sql.Column, iters: Int): DataFrame = {
    val subs = subVectors(emb, m, d)
    var cents = subs.filter(seedPred)
      .select(col("sub"), col("vec_id").cast("long").as("cid"), col("sv").as("cv"))
    for (_ <- 1 to iters) {
      val asg = pqAssign(subs, cents).select(col("vec_id"), col("sub"), col("cell"))
      val cm = asg.join(subs, Seq("vec_id", "sub"))
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("cell"), (col("pos") + 1).as("dim"))
        .agg(round(avg("v") + lit(1e-9), 4).as("mv"))
      cents = cm.groupBy(col("sub"), col("cell").as("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, mv))), s -> s.mv)")
          .as("cv"))
    }
    cents
  }

  /** Nearest codebook entry per (vector, subspace): rounded L2 argmin with
    * cid tie-break. cents is tiny (m × k rows) → broadcast.
    */
  private def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    val scored = subs.select(col("vec_id"), col("sub"), col("sv").as("ev"), col("sv"))
      .join(broadcast(cents.select(col("sub"), col("cid"), col("cv").as("qv"))), Seq("sub"))
      .withColumn("dist", round(expr(l2) + lit(1e-9), 6))
    val w = Window.partitionBy("vec_id", "sub").orderBy(col("dist"), col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cid").as("cell"), col("sv"))
  }

  /** PQ-encode the corpus: m code ids per vector (ordered by subspace). */
  def pqEncode(emb: DataFrame, cents: DataFrame, m: Int, d: Int): DataFrame =
    pqAssign(subVectors(emb, m, d), cents)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, cell))), s -> s.cell)")
        .as("codes"))

  /** Asymmetric-distance top-k: the query keeps full precision; each
    * corpus vector is scored as the sum of its m per-subspace
    * query-to-centroid distances (LUT equi-join on (sub, code) — the
    * classic ADC shape; the LUT is queries × m × k rows, broadcastable).
    * Returns (qid, eid, adist, rn).
    */
  def pqSearch(emb: DataFrame, cents: DataFrame, codes: DataFrame,
      queryPred: org.apache.spark.sql.Column, m: Int, d: Int, k: Int): DataFrame = {
    val lut = subVectors(dims(emb, "embedding").filter(queryPred), m, d)
      .select(col("vec_id").as("qid"), col("sub"), col("sv").as("ev"))
      .join(broadcast(cents.select(col("sub"), col("cid"), col("cv").as("qv"))), Seq("sub"))
      .withColumn("dist", round(expr(l2) + lit(1e-9), 6))
      .select(col("qid"), col("sub"), col("cid"), col("dist"))
    val perSub = codes
      .select(col("vec_id").as("eid"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
    val scored = perSub.join(broadcast(lut), Seq("sub", "cid"))
      .groupBy(col("qid"), col("eid"))
      .agg(round(sum("dist") + lit(1e-9), 4).as("adist"))
      .filter(col("qid") =!= col("eid"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("eid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("adist"), col("rn"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv 2303.09540):
    * semantic deduplication of an embedding corpus — k-means-cluster the
    * embeddings ([[kmeansCentroids]], quantized-iteration contract), then
    * inside each cluster mark every vector that has a LOWER-id neighbor
    * with cosine ≥ `threshold` as a duplicate (the paper keeps one
    * representative per ε-ball; lowest id is the deterministic stand-in for
    * its random choice). The pair join is a cell equi-join — the cluster
    * count grows with the corpus, so per-cell pair volume stays bounded and
    * the all-pairs shape never appears (the whole point of the algorithm at
    * 100 TB).
    *
    * Output: (vec_id, cell, n_dominators, kept) — `n_dominators` = how many
    * lower-id in-cell neighbors sit above the threshold, `kept` =
    * (n_dominators = 0), i.e. the deduplicated corpus is `filter(kept)`.
    */
  def semDedup(emb: DataFrame, seedPred: org.apache.spark.sql.Column,
      iters: Int, threshold: Double): DataFrame = {
    val cents = kmeansCentroids(emb, seedPred, iters)
    val cells = ivfAssignTo(emb, cents).select(col("vec_id"), col("cell"))
    val e = withNorm(dims(emb, "embedding")).join(cells, "vec_id")
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("qv"),
      col("norm").as("qn"), col("cell"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("ev"),
      col("norm").as("en"), col("cell"))
    val dominated = a.join(b, Seq("cell")).filter(col("id1") < col("id2"))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
      .filter(col("cos") >= threshold)
      .groupBy(col("id2").as("vec_id")).agg(count(lit(1)).as("nd"))
    cells.join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("nd"), lit(0L)).as("n_dominators"),
        col("nd").isNull.as("kept"))
  }

  /** Embedding-cosine near-duplicate pairs inside IVF cells (cell equi-join,
    * never a corpus cross join) above a threshold.
    */
  def nearDupPairs(emb: DataFrame, centroidPred: org.apache.spark.sql.Column,
      threshold: Double): DataFrame = {
    val cells = ivfAssign(emb, centroidPred)
    val e = withNorm(dims(emb, "embedding")).join(cells, col("vec_id") === col("eid")).drop("eid")
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("qv"),
      col("norm").as("qn"), col("cell"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("ev"),
      col("norm").as("en"), col("cell"))
    a.join(b, Seq("cell")).filter(col("id1") < col("id2"))
      .withColumn("cos", round(expr(dot) / (col("qn") * col("en")) + lit(1e-9), 6))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos")
  }

  /** Johnson-Lindenstrauss ±1 random projection of the int8-quantized
    * vectors (Achlioptas JCSS'03: ±1 entries satisfy the JL lemma) —
    * 64 → `outDims` dims with LONG integer accumulation, zero float
    * anywhere in the projection. The sign matrix reuses [[srpPairs]]'s
    * md5-nibble material (hex-digit parity of the dimension index), so both
    * engines recompute the identical constant. Unlike SRP (signs only,
    * angle-calibrated collisions), JL keeps MAGNITUDES — distances survive
    * within (1±ε), which is what a brute/IVF search over the reduced
    * vectors needs. |proj_j| ≤ 64·127 → a 16-dim dot ≤ 2^31, far from LONG
    * overflow. Map-only, embarrassingly parallel.
    */
  def jlProject(emb: DataFrame, outDims: Int = 16): DataFrame = {
    require(outDims <= 32, "weight material provides 32 signs per dimension")
    val spark = emb.sparkSession
    import spark.implicits._
    quantizeInt8(emb).select(col("vec_id").cast("long"), col("qvec"))
      .as[(Long, Seq[Int])].mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        var w: Array[Array[Int]] = null
        it.map { case (id, qv) =>
          if (w == null || w.length < qv.length) {
            w = Array.tabulate(qv.length) { d =>
              val dg = md.digest(String.valueOf(d)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              Array.tabulate(32) { b =>
                val nib = if (b % 2 == 0) (dg(b / 2) >> 4) & 1 else dg(b / 2) & 1
                nib * 2 - 1
              }
            }
          }
          val acc = new Array[Long](outDims)
          var d = 0
          while (d < qv.length) {
            val q = qv(d).toLong
            val wd = w(d)
            var j = 0
            while (j < outDims) { acc(j) += wd(j) * q; j += 1 }
            d += 1
          }
          (id, acc.toSeq)
        }
      }.toDF("vec_id", "proj")
  }

  /** Brute-force cosine top-k in the JL-REDUCED space — the 4×-smaller
    * (16- vs 64-dim) search path; integer dots on the projected vectors,
    * cosine derived from exact LONGs at the end (same determinism contract
    * as [[quantTopK]]).
    */
  def jlTopK(emb: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int, outDims: Int = 16): DataFrame = {
    val p = jlProject(emb, outDims).withColumn("pn",
      sqrt(expr("aggregate(proj, 0L, (s, x) -> s + x * x)").cast("double")))
    val q = p.filter(queryPred)
      .select(col("vec_id").as("qid"), col("proj").as("qv"), col("pn").as("qa"))
    val c = p.select(col("vec_id").as("eid"), col("proj").as("ev"), col("pn").as("qb"))
    val idot = "aggregate(zip_with(qv, ev, (x, y) -> x * y), 0L, (s, x) -> s + x)"
    val scored = broadcast(q).join(c, col("qid") =!= col("eid"))
      .withColumn("jcos",
        round(expr(idot).cast("double") / (col("qa") * col("qb")) + lit(1e-9), 6))
    val w = Window.partitionBy("qid").orderBy(col("jcos").desc, col("eid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("jcos"), col("rn"))
  }

  /** Recall@k evaluation — the quality loop every approximate index needs:
    * per query, the fraction of the EXACT top-k (truth) that the
    * approximate result retrieved. Both inputs carry (qid, eid); the join
    * is per-query bounded (≤ k rows each side per qid), so the evaluation
    * costs one equi-join + one partially-aggregated groupBy however large
    * the corpus that produced the lists was.
    */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame =
    truth.select(col("qid"), col("eid"))
      .join(approx.select(col("qid"), col("eid"), lit(1).as("hit")),
        Seq("qid", "eid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hit"))
      .withColumn("recall",
        round(col("n_hit") / lit(k.toDouble) + lit(1e-9), 4))

  /** Embedding-corpus quality screen: per label, the norm census an
    * ingest pipeline runs before trusting vectors downstream (zero/dead
    * vectors, norm drift between shards). Each vector's squared norm is
    * quantized PER ELEMENT to an exact 1e-8-grid integer (float32
    * element products are exact in double; one deterministic round each)
    * and summed as BIGINT — so the cross-row aggregation is exact
    * integer math at any partial-agg order, and only the final RMS-norm
    * division+sqrt is a fixed-operand-order float expression. Map-only +
    * one bounded groupBy (|labels| rows).
    */
  def embNormStats(emb: DataFrame): DataFrame =
    emb
      .withColumn("n2", expr(
        """aggregate(
          |  transform(cast(embedding AS array<double>),
          |            x -> cast(round(x * x * 1e8) AS bigint)),
          |  0L, (s, x) -> s + x)""".stripMargin))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min("n2").as("min_n2"), max("n2").as("max_n2"),
        sum("n2").as("sum_n2"))
      .select(col("label"), col("n_vecs"), col("n_zero"),
        col("min_n2"), col("max_n2"),
        round(sqrt(col("sum_n2").cast("double") / col("n_vecs") / lit(1e8))
          + lit(1e-9), 4).as("rms_norm"))

  /** Embedding-centroid drift per label between two halves of the corpus
    * (here: vec_id parity — in production, two time windows): the cosine
    * between the halves' centroid vectors, the canonical "did my embedding
    * distribution move" monitor. Cosine is scale-invariant, so the SUM
    * vectors stand in for the centroids — no division before the final
    * ratio. Exactness: elements quantize to integers (round(x·1e4)), all
    * sums/dots are then exact int64 (bound: per-label half-corpus count ×
    * 3e3 ≤ ~3e9 per dim keeps Σu·v below 2^63; the final cast-to-double of
    * an exact integer and one correctly-rounded sqrt/division are IEEE-
    * identical cross-engine, 4-dp-quantized at the boundary). Plan: one
    * 64× posexplode with map-side partial agg into (label, half, dim)
    * groups — group count bounded by |labels|·2·64, never by corpus size.
    */
  def embDrift(emb: DataFrame): DataFrame = {
    val q = emb
      .select(col("label"), (col("vec_id") % 2).as("ep"),
        posexplode(expr(
          """transform(cast(embedding AS array<double>),
            |          x -> cast(round(x * 1e4) AS bigint))""".stripMargin)))
      .toDF("label", "ep", "d", "qv")
    val sums = q.groupBy("label", "ep", "d")
      .agg(sum("qv").as("s"), count(lit(1)).as("c"))
    val wide = sums.groupBy("label", "d")
      .agg(sum(when(col("ep") === 0, col("s"))).as("u"),
        sum(when(col("ep") === 1, col("s"))).as("v"),
        max(when(col("ep") === 0, col("c"))).as("ca"),
        max(when(col("ep") === 1, col("c"))).as("cb"))
    wide.groupBy("label")
      .agg(max("ca").as("n_a"), max("cb").as("n_b"),
        sum(col("u") * col("v")).as("dot"),
        sum(col("u") * col("u")).as("n2a"),
        sum(col("v") * col("v")).as("n2b"))
      .filter(col("n_a").isNotNull && col("n_b").isNotNull &&
        col("n2a") > 0 && col("n2b") > 0)
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          sqrt(col("n2a").cast("double") * col("n2b").cast("double"))
          + lit(1e-9), 4).as("drift_cos"))
  }
}
