package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Rounding.r4

/** Large-scale training-data deduplication over a `documents(doc_id, text)`
  * corpus — the operations a 100 TB pretraining pipeline needs on top of the
  * reference's operator set (engine addition; no sits analog).
  *
  * All hashing is MD5-based and therefore bit-identical across engines (the
  * DuckDB oracles run the same md5 on the same strings), and every stage is
  * a plain Catalyst expression → shuffle topology:
  *  - exact: one hash-aggregate on text (map-side combined);
  *  - minhash: per-doc signature is embarrassingly parallel; the only
  *    shuffle is the band-key self-join, whose key cardinality ≈ #docs ×
  *    #bands with near-dup buckets tiny (LSH guarantee);
  *  - simhash: per-doc, then an equi-join on the 16-bit signature.
  *
  * At 10^12 docs: band-join is the classic LSH dedup shape (shuffle by band
  * key, pairs only within buckets — never a cross join); skewed buckets
  * (boilerplate text) are handled by AQE skew splitting + a bucket-size cap.
  */
object Dedup {

  /** Exact dedup: keep the smallest doc_id per identical text; reports the
    * number of copies. One partially-aggregable hash aggregate keyed on the
    * text hash (md5 — never shuffles full documents at scale).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature over distinct word 3-shingles:
    * mh_j = min over shingles of md5(j || '|' || shingle), j < numHashes.
    * Returns (doc_id, mh: array<string>). Docs with <3 tokens get no rows.
    *
    * TYPED kernel (round 3): the expression form ran numHashes × |shingles|
    * md5 calls through INTERPRETED HOF lambdas — the dominant cost of every
    * LSH-based bench query. The kernel computes the identical hex digests
    * (MessageDigest MD5 over the same UTF-8 strings, lowercase hex; Java
    * String '<' on ASCII hex ≡ UTF8String binary min) per partition with one
    * reused digest instance, so outputs — and the DuckDB oracles — are
    * byte-identical. Embarrassingly parallel, no shuffle.
    */
  /** The per-doc signature math of [[minhashSignature]], shared with the
    * distinct-text path. Returns null for docs with fewer than 3 tokens
    * (excluded in both engines).
    */
  private def mhOf(md: java.security.MessageDigest, text: String,
      numHashes: Int): Array[String] = {
    val hex = "0123456789abcdef".toCharArray
    def md5hex(s: String): String = {
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        out(2 * i) = hex((d(i) >> 4) & 0xf)
        out(2 * i + 1) = hex(d(i) & 0xf)
        i += 1
      }
      new String(out)
    }
    // split(" ", -1) keeps trailing empties — same as Spark's split
    val toks = text.split(" ", -1)
    if (toks.length < 3) null
    else {
      // array_distinct semantics: first-occurrence order (order is
      // irrelevant downstream — min / set ops — but kept faithful)
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + 2 < toks.length) {
        seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
        i += 1
      }
      val sh = seen.toArray(new Array[String](0))
      Array.tabulate(numHashes) { j =>
        val prefix = j.toString + "|"
        var best: String = null
        var s = 0
        while (s < sh.length) {
          val h = md5hex(prefix + sh(s))
          if (best == null || h.compareTo(best) < 0) best = h
          s += 1
        }
        best
      }
    }
  }

  def minhashSignature(docs: DataFrame, numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val mh = mhOf(md, text, numHashes)
          if (mh == null) Iterator.empty else Iterator.single((id, mh))
        }
      }
      .toDF("doc_id", "mh")
  }

  /** [[minhashSignature]] computed once per DISTINCT text and joined back
    * to doc ids (signatures depend only on the text) — the clone-storm
    * path: a boilerplate-heavy corpus pays the shingle×hash kernel once
    * per distinct text instead of once per copy, at the cost of one
    * content-hash shuffle (the same grouping exact dedup already does).
    * Output identical to [[minhashSignature]].
    */
  def minhashSignatureDistinct(docs: DataFrame, numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col("doc_id").cast("long").as("doc_id"),
      md5(col("text")).as("tkey"), col("text"))
    val sigByText = keyed
      .groupBy("tkey").agg(min("text").as("text")) // texts in a group are identical
      .as[(String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (tkey, text) =>
          val mh = mhOf(md, text, numHashes)
          if (mh == null) Iterator.empty else Iterator.single((tkey, mh))
        }
      }
      .toDF("tkey", "mh")
    keyed.select("doc_id", "tkey").join(sigByText, "tkey")
      .select("doc_id", "mh")
  }

  /** LSH candidate pairs: band key = concat of `rowsPerBand` consecutive
    * minhashes; docs sharing any band key become a candidate pair.
    */
  /** LSH band keys per doc: (doc_id, band_idx, band_key) — the shared
    * banding of [[minhashPairs]] and the streaming near-dup screen.
    * `distinctTexts` switches the signature source to the once-per-
    * distinct-text kernel (the clone-storm path).
    */
  def bandedSignatures(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2, distinctTexts: Boolean = false): DataFrame = {
    val bands = numHashes / rowsPerBand
    (if (distinctTexts) minhashSignatureDistinct(docs, numHashes)
     else minhashSignature(docs, numHashes))
      .withColumn("band", explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b ->
           |  struct(b as idx, concat_ws('', slice(mh, b * $rowsPerBand + 1, $rowsPerBand)) as key))""".stripMargin)))
      .select(col("doc_id"), col("band.idx").as("band_idx"), col("band.key").as("band_key"))
  }

  def minhashPairs(docs: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val sig = bandedSignatures(docs, numHashes, rowsPerBand)
    val a = sig.select(col("band_idx"), col("band_key"), col("doc_id").as("id1"))
    val b = sig.select(col("band_idx"), col("band_key"), col("doc_id").as("id2"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Bucket-capped LSH candidate pairs — the clone-storm guard. A
    * boilerplate-heavy web corpus puts 10^4-10^7 byte-identical docs in ONE
    * band bucket; all-pairs there is O(n²) rows (a 10k-clone bucket alone is
    * 50M pairs) and sinks the job. Buckets with more than `maxBucket`
    * members emit a STAR instead — every member paired with the bucket
    * minimum — which is O(n) rows, keeps the component CONNECTED (so
    * [[components]] still produces the identical dedup groups), and loses
    * only the explicit enumeration of intra-storm pairs nobody reads.
    * Buckets at or under the cap keep exact all-pairs semantics.
    * Deterministic (hub = min doc_id) → oracle-reproducible in SQL.
    */
  def minhashPairsCapped(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2, maxBucket: Int = 64,
      distinctTexts: Boolean = false): DataFrame = {
    val sig = bandedSignatures(docs, numHashes, rowsPerBand, distinctTexts)
    val stats = sig.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("n"), min("doc_id").as("hub"))
    val keyed = sig.join(stats, Seq("band_idx", "band_key"))
    val small = keyed.filter(col("n") <= maxBucket)
    val allPairs = small
      .select(col("band_idx"), col("band_key"), col("doc_id").as("id1"))
      .join(small.select(col("band_idx"), col("band_key"),
        col("doc_id").as("id2")), Seq("band_idx", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
    val star = keyed
      .filter(col("n") > maxBucket && col("doc_id") =!= col("hub"))
      .select(col("hub").as("id1"), col("doc_id").as("id2"))
    allPairs.union(star).distinct()
  }

  /** Cross-corpus contamination screen — train/holdout near-dup hygiene at
    * corpus granularity (the split-level counterpart of the benchmark
    * n-gram decontamination in TextAnalysis): a training doc is flagged when
    * it shares ANY LSH band key with ANY holdout doc, i.e. exactly when
    * [[minhashPairs]] over the union would emit a cross-side pair. Shuffle
    * shape: the holdout side reduces to its DISTINCT band keys (an
    * eval-set-sized relation — broadcastable in production) and the screen
    * is one left-semi equi-join on (band_idx, band_key); no pair
    * enumeration, no self-join. Returns every corpus doc with a
    * `contaminated` flag.
    */
  def crossContaminated(corpus: DataFrame, holdout: DataFrame,
      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val cb = bandedSignatures(corpus, numHashes, rowsPerBand)
    val hb = bandedSignatures(holdout, numHashes, rowsPerBand)
      .select("band_idx", "band_key").distinct()
    val flagged = cb.join(broadcast(hb), Seq("band_idx", "band_key"),
        "left_semi")
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(true))
    corpus.select(col("doc_id").cast("long").as("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .na.fill(false, Seq("contaminated"))
  }

  /** Jaccard similarity ESTIMATED from the MinHash signatures themselves
    * (Broder '97: P[mh_j(A) = mh_j(B)] = J(A,B), so the fraction of agreeing
    * signature slots is an unbiased estimate) for the LSH candidate pairs.
    * This is the production screening step that never touches document
    * content a second time: after the band join, the verify pass reads only
    * the numHashes-sized signatures — no shingle re-shuffle (contrast
    * [[ngramJaccard]], the exact verifier). Integer agreement count over a
    * power-of-two denominator → exact in any engine.
    * Returns (id1, id2, n_eq, est_jaccard).
    */
  def minhashEstimate(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    val sig = minhashSignature(docs, numHashes)
    minhashPairs(docs, numHashes, rowsPerBand)
      .join(sig.select(col("doc_id").as("id1"), col("mh").as("mh1")), "id1")
      .join(sig.select(col("doc_id").as("id2"), col("mh").as("mh2")), "id2")
      .select(col("id1"), col("id2"),
        expr("aggregate(zip_with(mh1, mh2, (a, b) -> IF(a = b, 1, 0)), 0, " +
          "(acc, x) -> acc + x)").cast("long").as("n_eq"))
      .withColumn("est_jaccard",
        round(col("n_eq").cast("double") / numHashes + lit(1e-9), 4))
  }

  /** Connected components over near-dup pairs → duplicate GROUPS with a
    * canonical doc each. Default path is alternating large-star/small-star
    * contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond") — see [[componentsStars]]; [[componentsLabelProp]] keeps
    * the simpler min-label propagation for cross-checking.
    *
    * Returns (doc_id, component, is_canonical, group_sz) where component =
    * min doc_id of the group and is_canonical marks the doc a dedup pass
    * keeps.
    */
  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    componentsStars(pairs, maxIter)

  /** Large-star/small-star star contraction — the extreme-scale CC path.
    *
    * Per round (one "round" = one large-star pass then one small-star pass):
    *  - LARGE-STAR: for every node u with neighborhood N(u), attach every
    *    STRICTLY LARGER neighbor v > u to m = min(N(u) ∪ {u}).
    *  - SMALL-STAR: direct every edge from its larger endpoint; for each
    *    node u, attach its (all smaller) neighbors and u itself to
    *    m = min(N(u) ∪ {u}).
    * Both halves only need a partially-aggregated `min` per node plus an
    * equi-join of the edge list back to that min — a hub with 10^7
    * boilerplate near-dups combines map-side instead of funneling through
    * one reducer, which is exactly where min-label propagation
    * (`groupBy(x).min(comp)`) hot-keys. Converges in O(log² n) rounds on
    * ANY graph shape (vs O(diameter) for label propagation), and each round
    * never grows the edge multiset beyond O(E).
    *
    * Fixpoint = the edge set is a single-parent star forest in canonical
    * (child > parent) direction: no node is both a parent and a child, and
    * no child has two parents. That state is verifiably terminal (both
    * passes map it to itself) and its roots are the component minima. The
    * check is one partially-aggregated pass over the new edge set per round
    * and doubles as the cache materialization job. Throws if maxIter rounds
    * don't converge (never silently returns partial labels).
    */
  def componentsStars(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Eager localCheckpoint, not persist: each round references the edge set
    // FOUR times (sym twice in large-star, its output twice in small-star),
    // so a cached-but-unbroken lineage still quadruples the LOGICAL PLAN per
    // round and driver-side analysis goes exponential by round ~7. The
    // checkpoint truncates the plan to a constant-size LogicalRDD each
    // round. (A long-lived cluster job would use reliable checkpointing.)
    var edges = pairs.select(
        greatest(col("id1"), col("id2")).cast("long").as("hi"),
        least(col("id1"), col("id2")).cast("long").as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct().localCheckpoint(true)
    val nodes = edges
      .select(explode(array(col("hi"), col("lo"))).as("doc_id"))
      .distinct().persist()
    nodes.count()

    // Terminal-state detector: 0 ⇔ single-parent star forest. FULL count on
    // purpose (no limit/short-circuit): this job is also what materializes
    // the round's persisted edge set before the parent cache is dropped — a
    // short-circuiting probe would leave partitions uncached and each round
    // would recompute the whole unpersisted lineage chain.
    def badCount(e: DataFrame): Long = e.select(explode(array(
        struct(col("hi").as("n"), lit(1).as("p")),
        struct(col("lo").as("n"), lit(0).as("p")))).as("r"))
      .select(col("r.n").as("n"), col("r.p").as("p"))
      .groupBy("n")
      .agg(sum("p").as("nparents"), max("p").as("ishi"), min("p").as("islo"))
      .filter((col("ishi") === 1 && col("islo") === 0) || col("nparents") > 1)
      .count()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("hi").as("u"), col("lo").as("v")),
          struct(col("lo").as("u"), col("hi").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("hi").agg(min("lo").as("m"))
      e.join(mins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(mins.select(col("hi"), col("m").as("lo")))
    }

    var it = 0
    var done = badCount(edges) == 0L
    while (!done && it < maxIter) {
      val next = smallStar(largeStar(edges)).distinct().localCheckpoint(true)
      done = badCount(next) == 0L
      edges.unpersist() // drops the previous checkpoint's blocks
      edges = next
      it += 1
    }
    require(done, s"componentsStars: no convergence after $maxIter rounds")
    val comp = nodes
      .join(edges.select(col("hi").as("doc_id"), col("lo").as("parent")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("parent"), col("doc_id")).as("component"))
    // nodes/edges caches stay alive behind the (lazy) result — the
    // ContextCleaner reclaims their blocks once the result is dropped
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("group_sz"))
    comp.join(sizes, "component")
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("is_canonical"),
        col("group_sz"))
  }

  /** Min-label propagation CC (every round each node takes the min of its
    * own and its neighbors' labels; converges in O(component diameter)
    * rounds — near-dup components are star-like, so a handful). Kept as the
    * simple mid-scale path and as the independent cross-check for
    * [[componentsStars]]; per-round cost is one shuffle of the symmetrized
    * edge list, but a giant boilerplate hub hot-keys the per-round
    * `groupBy(x).min(comp)`, which is why the star path is the default.
    * Throws if maxIter rounds don't converge.
    */
  def componentsLabelProp(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // one-pass symmetrization: a union of two selects would evaluate the
    // (possibly expensive — LSH) pair-producing subtree twice; explode reads
    // it once
    val edges = pairs.select(explode(array(
        struct(col("id1").as("x"), col("id2").as("y")),
        struct(col("id2").as("x"), col("id1").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .distinct().persist()
    var labels = edges.select(col("x").as("node")).distinct()
      .withColumn("comp", col("node")).persist()
    labels.count()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "y")
          .withColumnRenamed("comp", "ycomp"), "y")
        .groupBy(col("x").as("node"))
        .agg(min("ycomp").as("nbrmin"))
      // changed-count rides ON the materialization job (Observation API) —
      // labels only ever decrease, so changed == 0 ⇔ fixpoint; one Spark
      // job per round instead of materialize + a separate compare join
      val obs = org.apache.spark.sql.Observation(s"cc-round-$it")
      val next = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbrmin"), col("comp"))).as("comp"))
        .observe(obs,
          sum(when(col("old") =!= col("comp"), 1L).otherwise(0L)).as("changed"))
        .select("node", "comp")
        .persist()
      next.count() // materialize before dropping the parent cache
      done = obs.get("changed").asInstanceOf[Long] == 0L
      labels.unpersist()
      labels = next
      it += 1
    }
    edges.unpersist()
    require(done, s"componentsLabelProp: no convergence after $maxIter rounds " +
      "(component diameter exceeds the round budget)")
    // eager localCheckpoint truncates the O(rounds) iterative lineage and
    // lets the loop cache be released here — no persist handle escapes this
    // function (checkpoint blocks are reclaimed by the ContextCleaner when
    // the result is dropped; a long-lived cluster job would use reliable
    // checkpointing instead)
    val settled = labels.localCheckpoint(true)
    labels.unpersist()
    val comp = settled.select(col("node").as("doc_id"), col("comp").as("component"))
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("group_sz"))
    comp.join(sizes, "component")
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("is_canonical"), col("group_sz"))
  }

  /** n-gram Jaccard similarity for given candidate pairs, computed from the
    * distinct 3-shingle sets (|A∩B| / (|A|+|B|−|A∩B|)) via an exploded
    * shingle join — no arrays shipped through the pair join.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val sh = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("s", explode(expr(
        """array_distinct(transform(sequence(0, size(toks) - 3), i ->
          |  concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2),
          |            element_at(toks, i + 3))))""".stripMargin)))
      .select(col("doc_id"), col("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("id1"), col("s")), Seq("id1"))
      .join(sh.select(col("doc_id").as("id2"), col("s")), Seq("id2", "s"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id1", "id2"), "left").na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")) + lit(1e-9), 4).as("jaccard"))
  }

  /** n-gram containment (Broder '97's asymmetric companion to resemblance):
    * c1 = |A∩B|/|A| and c2 = |A∩B|/|B| alongside Jaccard for candidate
    * pairs. Containment catches SUBSET duplication — a doc quoted whole
    * inside a longer one scores c1 = 1.0 while Jaccard stays low — the case
    * the symmetric measure under-ranks. Same exploded-shingle equi-join
    * shape as [[ngramJaccard]] (candidates only, never all pairs).
    */
  def ngramContainment(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val sh = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("s", explode(expr(
        """array_distinct(transform(sequence(0, size(toks) - 3), i ->
          |  concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2),
          |            element_at(toks, i + 3))))""".stripMargin)))
      .select(col("doc_id"), col("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("id1"), col("s")), Seq("id1"))
      .join(sh.select(col("doc_id").as("id2"), col("s")), Seq("id2", "s"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id1", "id2"), "left").na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        r4(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter"))).as("jaccard"),
        r4(col("n_inter").cast("double") / col("n1")).as("cont1"),
        r4(col("n_inter").cast("double") / col("n2")).as("cont2"))
  }

  /** 32-bit SimHash from distinct word tokens: bit j votes by the parity of
    * hex digit j of md5(token) (md5 has exactly 32 hex digits); signature
    * bit set when the vote sum is positive. 32 bits keeps random collisions
    * negligible at this corpus size; a production 64-bit variant would take
    * two md5 passes. Returns (doc_id, sig: bigint).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // typed kernel, not nested higher-order expressions: HOF lambdas are
    // interpreted per element (32 bits × tokens × docs substr/instr evals
    // made this the slowest query at 20s); the JVM loop is ~20× faster and
    // bit-identical (hex-digit parity == md5 nibble & 1)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = text.split(" ", -1).distinct
          val votes = new Array[Int](32)
          toks.foreach { t =>
            val d = md.digest(t.getBytes("UTF-8"))
            var j = 0
            while (j < 16) {
              votes(2 * j) += ((d(j) >> 4) & 1) * 2 - 1
              votes(2 * j + 1) += (d(j) & 1) * 2 - 1
              j += 1
            }
          }
          var sig = 0L
          var j = 0
          while (j < 32) { if (votes(j) > 0) sig += 1L << j; j += 1 }
          (id, sig)
        }
      }.toDF("doc_id", "sig")
  }

  /** 64-bit SimHash — the production-width variant the 32-bit kernel's
    * Scaladoc defers to: two md5 passes per distinct token ("0:"+t votes
    * bits 0–31, "1:"+t votes bits 32–63), emitted as two unsigned-32-bit
    * halves (sig_hi, sig_lo) so neither engine touches the BIGINT sign bit.
    * Same typed-kernel shape (embarrassingly parallel, bit-identical to the
    * oracle's hex-parity replay).
    */
  def simhash64(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def votes(toks: Array[String], lane: String): Array[Int] = {
          val v = new Array[Int](32)
          toks.foreach { t =>
            val d = md.digest((lane + t).getBytes("UTF-8"))
            var j = 0
            while (j < 16) {
              v(2 * j) += ((d(j) >> 4) & 1) * 2 - 1
              v(2 * j + 1) += (d(j) & 1) * 2 - 1
              j += 1
            }
          }
          v
        }
        def pack(v: Array[Int]): Long = {
          var s = 0L; var j = 0
          while (j < 32) { if (v(j) > 0) s += 1L << j; j += 1 }
          s
        }
        it.map { case (id, text) =>
          val toks = text.split(" ", -1).distinct
          (id, pack(votes(toks, "1:")), pack(votes(toks, "0:")))
        }
      }.toDF("doc_id", "sig_hi", "sig_lo")
  }

  /** 64-bit SimHash near-dup pairs at Hamming ≤ maxHamming via the same
    * pigeonhole banding as [[simhashBandPairs]]: maxHamming+1 segments of
    * 64/(maxHamming+1) bits (segments 0–1 from sig_lo, 2–3 from sig_hi at
    * the default k=3); candidates from the segment equi-join, true distance
    * = bit_count(hi⊕hi) + bit_count(lo⊕lo).
    */
  def simhash64BandPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(64 % bands == 0 && 32 % (64 / bands) == 0,
      s"segment width 64/$bands must pack whole halves")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val s = simhash64(docs)
    val keyed = s.select(col("doc_id"), col("sig_hi"), col("sig_lo"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b -> struct(b AS idx,
           |  CASE WHEN b * $width < 32 THEN shiftright(sig_lo, b * $width) & $mask
           |       ELSE shiftright(sig_hi, b * $width - 32) & $mask END AS bval))""".stripMargin))
        .as("band"))
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"),
        col("band.idx").as("bidx"), col("band.bval").as("bval"))
    val a = keyed.select(col("bidx"), col("bval"), col("doc_id").as("id1"),
      col("sig_hi").as("h1"), col("sig_lo").as("l1"))
    val b = keyed.select(col("bidx"), col("bval"), col("doc_id").as("id2"),
      col("sig_hi").as("h2"), col("sig_lo").as("l2"))
    a.join(b, Seq("bidx", "bval"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(h1 ^ h2) + bit_count(l1 ^ l2)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: identical signatures (Hamming distance 0; see
    * [[simhashBandPairs]] for the Hamming ≤ k generalization).
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val s = simhash(docs)
    s.select(col("sig"), col("doc_id").as("id1"))
      .join(s.select(col("sig"), col("doc_id").as("id2")), Seq("sig"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "sig")
  }

  /** Exact substring duplicate-span detection — the Spark re-expression of
    * suffix-array ExactSubstr dedup (Lee et al. ACL'22, "Deduplicating
    * Training Data Makes Language Models Better"): find character k-grams
    * occurring ≥2 times anywhere in the corpus (across docs OR repeated
    * inside one doc) and report, per document, the sampled-gram duplication
    * count and the exact number of characters covered by duplicated grams
    * (union of their [i, i+k) intervals).
    *
    * Instead of one global suffix array (inherently sequential to build),
    * gram start positions are sampled on a fixed stride grid: any duplicated
    * substring of length ≥ k + stride − 1 is guaranteed to contain at least
    * one grid-aligned gram on both occurrences, so detection degrades
    * gracefully (shorter dups may be missed — the standard sampled-gram
    * trade). Shuffle topology: one partially-aggregable count per gram hash
    * + one candidate equi-join back to positions — both keyed on the md5
    * hash, never a cross join; the interval-union sweep is a per-doc lag
    * window over ≤ len/stride sampled positions (integer math, exact across
    * engines). At 10^12 docs the hex key would be packed into an int64 and
    * singleton grams pre-dropped map-side; semantics unchanged.
    */
  def substringDups(docs: DataFrame, k: Int = 20, stride: Int = 8): DataFrame = {
    require(k >= 1 && stride >= 1, "k and stride must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val norm = docs.select(col("doc_id").cast("long"),
        lower(regexp_replace(col("text"), "\\s+", " ")).as("s"))
      .filter(length(col("s")) >= k)
    // typed kernel (one reused digest, no interpreted HOF md5 per element)
    val grams = norm.as[(Long, String)].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexc = "0123456789abcdef".toCharArray
      it.flatMap { case (id, s) =>
        // Code-point gram indexing: the relational n_grams column below and
        // the DuckDB oracle both count code points (Spark length(), DuckDB
        // substr/length), so the kernel must too or non-BMP text (emoji,
        // astral chars) shifts every gram boundary. BMP-only strings (the
        // overwhelming common case) take the allocation-free char path —
        // for them char index ≡ code-point index.
        val cps: Array[Int] =
          if (s.codePointCount(0, s.length) == s.length) null
          else s.codePoints().toArray
        val cpLen = if (cps == null) s.length else cps.length
        def gram(i: Int): String =
          if (cps == null) s.substring(i, i + k) else new String(cps, i, k)
        val n = (cpLen - k) / stride + 1
        (0 until n).iterator.map { j =>
          val i = j * stride
          val d = md.digest(gram(i)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val out = new Array[Char](32)
          var b = 0
          while (b < 16) {
            out(2 * b) = hexc((d(b) >> 4) & 0xf)
            out(2 * b + 1) = hexc(d(b) & 0xf)
            b += 1
          }
          (id, i, new String(out))
        }
      }
    }.toDF("doc_id", "i", "h")
    val dup = grams.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val dupPos = grams.join(dup, "h").select("doc_id", "i")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    val perDoc = dupPos
      .withColumn("gap", col("i") - lag("i", 1).over(w))
      .withColumn("add",
        when(col("gap").isNull || col("gap") >= k, k).otherwise(col("gap")))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_dup"),
        sum("add").cast("long").as("dup_chars"))
    norm.select(col("doc_id"),
        (((length(col("s")) - k) / stride) + 1).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup", "dup_chars"))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ maxHamming via banding
    * (the pigeonhole construction: split the 32 bits into maxHamming+1
    * segments — two signatures within distance k must agree EXACTLY on at
    * least one segment). Candidates come from a segment-key equi-join (the
    * same bucketed shape as MinHash LSH — never a cross join), then the true
    * Hamming distance `bit_count(sig1 XOR sig2)` filters. maxHamming+1 must
    * divide 32.
    */
  def simhashBandPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(32 % bands == 0, s"maxHamming+1=$bands must divide 32")
    val width = 32 / bands
    val mask = (1L << width) - 1
    val s = simhash(docs)
    val keyed = s.select(col("doc_id"), col("sig"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b ->
           |  struct(b as idx, shiftright(sig, b * $width) & $mask as bval))""".stripMargin))
        .as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.idx").as("bidx"), col("band.bval").as("bval"))
    val a = keyed.select(col("bidx"), col("bval"),
      col("doc_id").as("id1"), col("sig").as("sig1"))
    val b = keyed.select(col("bidx"), col("bval"),
      col("doc_id").as("id2"), col("sig").as("sig2"))
    a.join(b, Seq("bidx", "bval"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sig1 ^ sig2)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Bloom-filter membership screen (Bloom CACM'70) — the incremental-ingest
    * "seen before?" stage: build an m-bit filter over the BUILD corpus's
    * content fingerprints, probe every PROBE doc with k=4 hash functions.
    * At 100 TB the filter is the SMALL artifact (m bits ≪ corpus) that new
    * batches stream against without ever joining the full historical corpus.
    *
    * Deterministic/engine-parity construction: fingerprint = md5 of
    * normalized text; position_i = u32(md5(i:fp)) mod m; m = smallest power
    * of two ≥ bitsPerKey·|build| (sized from one scalar count — 16 bits/key
    * at k=4 gives FP ≈ 0.24%, and the power-of-two rule is replayed
    * integer-exactly by the oracle). Relationally the filter is the DISTINCT
    * occupied-position set (≤ m rows, bounded → broadcast); a probe doc is
    * `maybe_seen` iff all k positions hit. `is_member` (exact fp join) is
    * emitted as the verification column — it is precisely the join the
    * filter exists to avoid, kept here so false positives are observable.
    */
  def bloomScreen(build: DataFrame, probe: DataFrame,
      bitsPerKey: Int = 16, k: Int = 4): DataFrame = {
    def fp(d: DataFrame) = d.select(col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
    val a = fp(build)
    val nA = a.count()
    var m = 1L
    while (m < nA * bitsPerKey) m <<= 1
    def pos(i: Int) = pmod(
      Accuracy.u32Md5(concat(lit(s"$i:"), col("fp"))), lit(m))
    val bits = a.select(explode(array((0 until k).map(pos): _*)).as("pos"))
      .distinct()
    val probed = fp(probe)
      .select(col("doc_id"), col("fp"),
        explode(array((0 until k).map(pos): _*)).as("pos"))
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy("doc_id", "fp")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hits"))
    val truth = a.select("fp").distinct().withColumn("is_member", lit(true))
    probed.join(truth, Seq("fp"), "left")
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits") === k).as("maybe_seen"),
        coalesce(col("is_member"), lit(false)).as("is_member"))
  }

  /** Turn-level boilerplate detection over `transcripts` — the CCNet/Dolma
    * paragraph-dedup stage (Wenzek+ LREC'20 §4.1) adapted to chat data,
    * where the dedup unit is the TURN: canned responses, repeated system
    * prompts and templated tool outputs repeat across conversations and
    * must be flagged before training. A turn is boilerplate when its
    * normalized content (conversation-local `conv:idx:` prefix stripped,
    * lowercased, whitespace-collapsed) appears in at least half of all
    * conversations — the threshold is RELATIVE to corpus size (a fixed
    * count is meaningless at 10^12 turns), and the comparison is integer
    * cross-multiplication `2·n_convs ≥ total_convs` (zero float).
    *
    * Shuffle topology at scale: (1) the fingerprint pass is map-only;
    * (2) `count(DISTINCT conv_id)` is Spark's two-level partial aggregate
    * on (fp, conv); (3) total_convs is one scalar agg; (4) the thresholded
    * boilerplate relation is tiny by construction (only contents crossing
    * half the corpus) → the join back is broadcast-shaped, AQE picks it;
    * (5) the final per-conv rollup partial-aggregates map-side.
    */
  /** Normalized-content fingerprints per turn: the conversation-local
    * `conv:idx:` prefix stripped, lowercased, whitespace-collapsed, md5'd.
    */
  private def turnFps(turns: DataFrame): DataFrame =
    turns.select(col("conv_id"), col("turn_idx"),
      md5(lower(regexp_replace(
        regexp_replace(col("text"), "^[^:]*:[^:]*:", ""), "\\s+", " ")))
        .as("fp"))

  /** The tiny thresholded boilerplate-fingerprint relation: contents seen in
    * at least half of all conversations (integer cross-multiplication).
    */
  private def boilerFps(fps: DataFrame, totalConvs: Long): DataFrame =
    fps.groupBy("fp")
      .agg(countDistinct(col("conv_id")).as("n_convs"))
      .filter(col("n_convs") * 2 >= totalConvs)
      .select(col("fp"), lit(true).as("is_boiler"))

  def turnBoilerplate(turns: DataFrame): DataFrame = {
    val fps = turnFps(turns)
    val totalConvs = turns.select(countDistinct(col("conv_id"))).first().getLong(0)
    val boiler = boilerFps(fps, totalConvs)
    fps.join(boiler, Seq("fp"), "left")
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        sum(when(col("is_boiler"), col("turn_idx").cast("long")).otherwise(0L))
          .as("boiler_idx_sum"))
      .withColumn("frac_boiler",
        round(col("n_boiler").cast("double") / col("n_turns") + lit(1e-9), 4))
  }

  /** End-to-end CONVERSATION curation over `transcripts` — the chat-data
    * analog of the txt_curate document pipeline, composing three stages in
    * one plan: (1) boilerplate-turn removal ([[turnBoilerplate]]'s screen);
    * (2) a minimum-surviving-turns floor (degenerate conversations out);
    * (3) whole-conversation dedup by content fingerprint — md5 over the
    * kept turns' fingerprints in turn order, smallest conv_id canonical
    * (re-keyed copies of a conversation collapse to one).
    *
    * Scale shape: the boiler screen is the broadcast-shaped join from
    * turnBoilerplate; the conversation fingerprint is one partially-
    * aggregated groupBy(conv) (sort_array over a per-conv bounded list);
    * canonical selection is a groupBy(conv_fp) min — all hash-partitioned,
    * nothing driver-side but two scalar counts.
    */
  def curateConversations(turns: DataFrame, minTurns: Int = 4): DataFrame = {
    val fps = turnFps(turns)
    val totalConvs = turns.select(countDistinct(col("conv_id"))).first().getLong(0)
    // ONE boiler-join pass feeds total count, kept count, and the kept-only
    // content fingerprint (collect_list skips the CASE's nulls, so boiler
    // turns drop out of the fingerprint without a second scan/shuffle)
    val conv = fps.join(boilerFps(fps, totalConvs), Seq("fp"), "left")
      .groupBy("conv_id").agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("is_boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws("|", expr(
          """transform(sort_array(collect_list(
            |  CASE WHEN is_boiler IS NULL THEN struct(turn_idx, fp) END)),
            |  p -> p.fp)""".stripMargin)))
          .as("conv_fp"))
    val qual = conv.filter(col("n_kept") >= minTurns)
    val canon = qual.groupBy("conv_fp").agg(min("conv_id").as("conv_id"))
    qual.join(canon, Seq("conv_fp", "conv_id"))
      .select(col("conv_id"), col("n_turns"), col("n_kept"), col("conv_fp"))
  }

  /** Novelty-rate timeline — the corpus-freshness dashboard of a training
    * ingest (what fraction of today's content is NEW vs re-crawled?): per
    * day, active distinct fingerprints, fingerprints whose corpus-wide
    * FIRST day is that day, and the novelty share. Two fp-keyed partial
    * aggs + one co-partitioned join (both sides hashed on fp — never a
    * broadcast of a corpus-sized side) + one day-bounded agg; a
    * 2000-clone storm is one fp row after the first agg. Output:
    * (day, n_turns, n_fps, n_new_fps, novelty).
    */
  def noveltyRate(turns: DataFrame, fingerprint: Column): DataFrame = {
    val fd = turns
      .select(fingerprint.as("fp"), date_trunc("day", col("ts")).as("day"))
      .groupBy("fp", "day").agg(count(lit(1)).as("c"))
    // first_day via a window over the aggregated census, NOT a self-join:
    // a self-join would recompute fd's whole lineage (a SECOND raw scan at
    // 10^12 turns); the window shares fd's fp hash partitioning, so the
    // whole operator is one raw pass + one fp shuffle + one day merge.
    fd.withColumn("first_day",
        min("day").over(org.apache.spark.sql.expressions.Window
          .partitionBy("fp")))
      .groupBy("day")
      .agg(sum("c").as("n_turns"),
        count(lit(1)).as("n_fps"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new_fps"))
      .withColumn("novelty",
        round(col("n_new_fps").cast("double") / col("n_fps") + lit(1e-9), 4))
  }

  /** Duplicate-cluster size distribution — the dedup REPORT every corpus
    * clean ships with (how duplicated is this corpus, and in what cluster
    * shapes?): cluster sizes from [[components]] plus the singleton mass
    * (docs in no near-dup pair), as (group_sz, n_clusters, n_docs) rows.
    * The component relation already carries group_sz, so this is one
    * distinct + one bounded histogram agg on top of the CC output; the
    * singleton count is a left-anti against the (far smaller) clustered-doc
    * set. All integer — hash-exact by construction.
    */
  /** LSH banding tuning curve (Leskovec–Rajaraman–Ullman, MMDS ch.3): for
    * each candidate pair, the exact n-gram Jaccard alongside the
    * theoretical detection probability of the (b bands × r rows) scheme,
    * p = 1 − (1 − j^r)^b — the relation you read to pick banding
    * parameters (where the S-curve threshold sits vs the similarity you
    * actually care about). Powers are expanded to EXPLICIT products so
    * both engines evaluate the identical IEEE operand sequence from the
    * 4-dp quantized j — no pow() in the contract. Candidate-pair-bounded.
    */
  def lshCurve(jac: DataFrame, bandsB: Int, rowsR: Int): DataFrame = {
    require(bandsB >= 1 && rowsR >= 1, "bands/rows >= 1")
    val jr = (1 to rowsR).map(_ => col("jaccard")).reduce(_ * _)
    val miss = lit(1.0) - jr
    val missAll = (1 to bandsB).map(_ => miss).reduce(_ * _)
    jac.select(col("id1"), col("id2"), col("jaccard"),
      round(lit(1.0) - missAll + lit(1e-9), 4).as("p_detect"))
  }

  def clusterStats(docs: DataFrame, comp: DataFrame): DataFrame = {
    val multi = comp.select(col("component"), col("group_sz").cast("long"))
      .distinct()
      .groupBy("group_sz").agg(count(lit(1)).as("n_clusters"))
    val singles = docs.select("doc_id")
      .join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("group_sz"), col("n_clusters"))
      .filter(col("n_clusters") > 0)
    multi.unionByName(singles)
      .groupBy("group_sz").agg(sum("n_clusters").as("n_clusters"))
      .select(col("group_sz"), col("n_clusters"),
        (col("group_sz") * col("n_clusters")).as("n_docs"))
  }

  /** Template-anchor dedup families: documents sharing an exact 32-char
    * head AND 32-char tail form one template family — the shared-scaffold
    * boilerplate shape LLM corpora accumulate from form letters and
    * generated pages (a dual of [[boilerplate]], which screens REPEATED
    * whole turns; this catches same-frame-different-middle). Grouping is
    * one hash agg on the bounded (head, tail) key — no pair enumeration,
    * so a million-document template family collapses to ONE row
    * (storm-immune by construction, unlike similarity joins).
    * n_mids distinguishes exact clone piles (1) from true templates (>1).
    */
  def templateGroups(docs: DataFrame): DataFrame =
    docs
      .withColumn("head", expr("left(text, 32)"))
      .withColumn("tail", expr("right(text, 32)"))
      .withColumn("mid_h",
        md5(expr("substring(text, 33, greatest(length(text) - 64, 0))")))
      .groupBy("head", "tail")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("mid_h")).as("n_mids"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_docs") >= 2)

  /** LSH tuning grade: measured recall/precision of [[minhashPairs]]
    * against the EXACT ground truth "quantized 3-gram Jaccard ≥ τ".
    * Ground truth is complete because any pair with J ≥ τ > 0 shares at
    * least one gram — and, sharper, must share one inside both docs'
    * PREFIXES under any canonical total gram order (prefix filtering,
    * Chaudhuri et al. ICDE'06 / PPJoin: the order-minimal shared gram g*
    * has < g* grams of each doc all in the difference set, and
    * |A∖B| ≤ (1−τ)·|A| when J ≥ τ, so g* sits within the first
    * ⌊(1−τ)·n⌋+1 grams of BOTH docs). The candidate equi-join therefore
    * runs on hashed prefix grams only — at τ=0.5 that quarters the pair
    * blowup vs the naive all-grams join — and the exact Jaccard filter
    * after it keeps the truth set IDENTICAL (hash collisions and prefix
    * slack only ever ADD candidates, which the τ filter removes). Still
    * intrinsically a QA-SCALE evaluator — run it on a bounded validation
    * sample, read recall, then trust the banded path corpus-wide
    * ([[lshCurve]] gives the matching theoretical S-curve). One-row
    * output: (n_truth, n_candidates, n_hit, recall, precision) —
    * precision counts candidate pairs that truly clear τ.
    */
  /** EXACT similarity self-join — every pair with quantized 3-gram
    * Jaccard ≥ τ, no approximation — at sub-quadratic candidate cost via
    * prefix filtering (Chaudhuri/Ganti/Kaushik ICDE'06, the PPJoin family;
    * see [[lshRecall]]'s doc for the completeness proof). The first-class
    * exact-dedup path for when recall loss is unacceptable (e.g. a
    * benchmark-decontamination sweep where one missed near-dup poisons an
    * eval): candidates come from an equi-join on each doc's
    * ⌊(1−τ)·n⌋+1 hash-smallest grams — at τ=0.8 that is 20% of the gram
    * mass per doc and ~4% of the naive pair blowup — then the exact
    * quantized Jaccard filter makes the output precise as well as
    * complete. Versus [[minhashPairs]]: no false negatives, but candidate
    * cost grows with true pair density — run it where exactness is the
    * contract, the banded path where throughput is.
    */
  def exactJaccardJoin(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    // per-doc distinct grams, hashed; canonical global order = hash order
    val grams = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("gs", expr(
        """array_sort(transform(
          |  array_distinct(transform(sequence(0, size(toks) - 3), i ->
          |    concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2),
          |              element_at(toks, i + 3)))), s -> xxhash64(s)))"""
          .stripMargin))
      .select(col("doc_id"), col("gs"))
    // prefix filter: keep the ⌊(1−τ)·n⌋+1 hash-smallest grams per doc
    val pre = grams
      .withColumn("g", explode(expr(
        s"slice(gs, 1, cast(floor((1.0 - $threshold) * size(gs)) AS int) + 1)")))
      .select(col("doc_id"), col("g"))
    val gp = pre.select(col("doc_id").as("id1"), col("g"))
      .join(pre.select(col("doc_id").as("id2"), col("g")), Seq("g"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    ngramJaccard(docs, gp).filter(col("jaccard") >= threshold)
  }

  def lshRecall(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val truth = exactJaccardJoin(docs, threshold).select("id1", "id2")
    val cand = minhashPairs(docs).select("id1", "id2").distinct()
    // ONE evaluation of each (expensive) side: the full-outer pair join
    // carries membership flags, and a single aggregation produces all
    // three counts — vs the naive truth.agg × cand.agg × (truth⋈cand).agg
    // shape, which re-executes the exact-join and the banded path twice
    truth.withColumn("in_t", lit(1))
      .join(cand.withColumn("in_c", lit(1)), Seq("id1", "id2"), "full_outer")
      .agg(
        coalesce(sum("in_t"), lit(0L)).as("n_truth"),
        coalesce(sum("in_c"), lit(0L)).as("n_candidates"),
        coalesce(sum(when(col("in_t") === 1 && col("in_c") === 1, 1L)),
          lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_candidates"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth") + lit(1e-9), 4)
          .as("recall"),
        round(col("n_hit").cast("double") / col("n_candidates") + lit(1e-9),
          4).as("precision"))
  }

  /** Feature-hashing (hashing-trick) near-dup pairs: each document becomes
    * a `dims`-bucket integer count vector (bucket = u32(md5(word)) mod
    * dims — Weinberger et al. 2009), candidate pairs block on the TOP-3
    * bucket key (count DESC, bucket ASC, ':'-joined — a single Zipf-heavy
    * argmax bucket hubs the corpus; requiring all three heaviest buckets
    * to agree shrinks blocks multiplicatively at full clone/near-dup
    * recall — measured 32× fewer candidates, zero plant pairs lost), and
    * the near-dup predicate is ALL-INTEGER:
    * cos ≥ τ  ⟺  τden²·dot² ≥ τnum²·‖a‖²·‖b‖²  (dot ≥ 0), evaluated in
    * DecimalType(38,0) so no magnitude ever truncates (the oracle uses
    * HUGEINT). The reported cosine is one sqrt at the output boundary.
    * τ defaults to 0.97: on 32-dim hashed count vectors, unrelated
    * same-register docs already sit at cos ≈ 0.9 (measured), so the
    * classic 0.9 threshold is a false-positive factory here.
    *
    * Scale shape: signatures are a (doc, bucket)-partial agg (corpus pass);
    * blocking + the pair dot-join run on bucket-keyed relations — never a
    * doc×doc cross join. A hub block behaves like an LSH band bucket; cap
    * with the minhashPairsCapped pattern if a corpus concentrates.
    */
  def featureHashPairs(docs: DataFrame, dims: Int = 32,
      tauNum: Int = 97, tauDen: Int = 100): DataFrame = {
    val dec = "decimal(38,0)"
    val sig = docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
      .withColumn("bucket", pmod(Accuracy.u32Md5(col("word")), lit(dims)))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("bucket").asc)
    val docsSig = sig.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("cnt")).as("n2"),
        concat_ws(":",
          max(when(col("rn") === 1, col("bucket"))).cast("string"),
          max(when(col("rn") === 2, col("bucket"))).cast("string"),
          max(when(col("rn") === 3, col("bucket"))).cast("string"))
          .as("block"))
    val cand = docsSig.select(col("doc_id").as("id1"), col("n2").as("n2a"),
        col("block"))
      .join(docsSig.select(col("doc_id").as("id2"), col("n2").as("n2b"),
        col("block")), Seq("block"))
      .filter(col("id1") < col("id2"))
    val dots = cand
      .join(sig.select(col("doc_id").as("id1"), col("bucket"),
        col("cnt").as("ca")), Seq("id1"))
      .join(sig.select(col("doc_id").as("id2"), col("bucket"),
        col("cnt").as("cb")), Seq("id2", "bucket"))
      .groupBy("id1", "id2", "n2a", "n2b")
      .agg(sum(col("ca") * col("cb")).as("dot"))
    dots
      .filter(col("dot").cast(dec) * col("dot") * lit(tauDen * tauDen) >=
        col("n2a").cast(dec) * col("n2b") * lit(tauNum * tauNum))
      .select(col("id1"), col("id2"), col("dot"), col("n2a"), col("n2b"),
        round(col("dot").cast("double") /
          sqrt(col("n2a").cast("double") * col("n2b")) + lit(1e-9), 4)
          .as("cos"))
  }
}
