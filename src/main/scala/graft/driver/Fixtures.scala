package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{Accuracy, GapFill, Predictors, Regularize, Som}
import graft.sources.Transcripts

/** The relations and constants the driver queries share. Each relation is
  * rebuilt per call from the fixture directory; each constant is read by a
  * query's Spark build and, where named, mirrored by its oracle SQL.
  */
private[driver] object Fixtures {

  def transcripts(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(s, dir)

  def metrics(s: SparkSession, dir: String): DataFrame =
    Regularize.withMetrics(transcripts(s, dir))
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("text_len"))

  /** Day-1 slice of the gap-filled 1m grid — shared input of the per-series
    * kernel queries (windows/smoothers/codec). The fill always uses the full
    * series; only the emission is bounded (30× less kernel output).
    */
  def day1(s: SparkSession, dir: String): DataFrame =
    GapFill.fillDense(s, Regularize.firstValid(transcripts(s, dir), Tier.M1), Tier.M1,
      // 2024-01-02T00:00:00Z as epoch millis (TZ-independent construction)
      emitBefore = Some(new java.sql.Timestamp(1704153600000L)))

  /** SOM sample set: the ts_predictors wide matrix restricted to fully-
    * observed first-3-day vectors (the euclidean SOM path requires complete
    * vectors — see [[graft.operators.Som]]; 3 days keeps the cohort
    * non-vacuous down to sf0.001's 15 conversations), with the standard
    * synthetic label. Sample-scale relation (training samples, not corpus).
    */
  def predWide(s: SparkSession, dir: String,
      label: org.apache.spark.sql.Column): DataFrame = {
    val series = metrics(s, dir)
      .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
      .agg(round(avg("text_len") + lit(1e-9), 4).as("value"))
    val wide = Predictors.pivotWide(series,
      datediff(col("bucket_ts"), lit("2024-01-01").cast("date")), k = 3)
    val tcols = (0 until 3).map(i => col(s"t$i"))
    wide.filter(tcols.map(_.isNotNull).reduce(_ && _))
      .select(col("conv_id").as("sample_id"), label.as("label"),
        array(tcols: _*).as("v"))
  }

  def somPred(s: SparkSession, dir: String): DataFrame =
    predWide(s, dir, substring(col("conv_id"), 2, 6).cast("int") % 3 + 1)

  /** Deliberately SKEWED label (≈60/20/20 by user-id decade digit) so the
    * reduce-imbalance branches are non-vacuous: the big class crosses
    * nUnder=30 at sf0.01+, the small ones sit under nOver=25 at sf0.001/0.01.
    */
  def imbPred(s: SparkSession, dir: String): DataFrame = {
    val m = substring(col("conv_id"), 2, 6).cast("int") % 10
    predWide(s, dir, when(m < 6, 1).when(m < 8, 2).otherwise(3))
  }

  /** Shared SOM pipeline: 3×3 grid, 2 quantized batch epochs, Bayes radius
    * 2 — returns (sample→neuron map, per-(neuron,label) prior+posterior).
    * (Radius 2 on 3×3 exercises BOTH Bayes paths: edge-midpoint neurons
    * have k=2 axis-two-step neighbors, the center has k=0 → prior.)
    * The sample-scale persist lives only for the epoch loop: the bounded
    * results are eagerly localCheckpoint-ed (lineage truncated, blocks
    * ContextCleaner-managed) and the input released before returning, so
    * repeated invocation (verify + best-of-2 bench) leaks no cache.
    */
  def somMapped(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pred = somPred(s, dir).persist()
    try {
      val grid = Som.Grid(3, 3)
      val codes = Som.train(pred, grid, epochs = 2, r0 = 1.5, r1 = 1.0)
      val mapped = Som.assign(pred, codes).localCheckpoint(true)
      val post = Som.bayesPosterior(Som.labelNeurons(mapped), grid, radius = 2)
        .localCheckpoint(true)
      (mapped, post)
    } finally { pred.unpersist(); () }
  }

  /** Shared [from, to) for the tier-dispatch query: 2024-01-02T05:30Z to
    * 2024-01-28T19:45Z — deliberately unaligned so all five regions
    * (raw/hour/day/hour/raw) are exercised. Mirrored into the oracle's
    * region boundaries by the same ceil/floor arithmetic.
    */
  val dispatchFromMs: Long = 1704173400000L
  val dispatchToMs: Long = 1706471100000L

  // render-dispatch window: [2024-01-01T00Z, 2024-01-08T00Z), 96-px budget
  val renderFromMs: Long = 1704067200000L
  val renderToMs: Long = 1704672000000L

  /** Deterministically corrupted transcripts twin for the contract-check
    * battery (the clone-planting pattern of [[docsPlanted]], aimed at
    * schema/ordering violations instead of near-dups): the conv u32-md5
    * mod 3 assigns each conversation one violation class — 0: turn 2's
    * event time rewinds 2h (inversion candidate), 1: turn 1 loses its
    * text, 2: turn 0's role leaves the vocabulary — and mod 4 == 0
    * additionally duplicates turn 3's key. Small moduli on purpose: the
    * sf0.001 fixture has only ~15 conversations, so every class must
    * fire there too.
    */
  def corruptedTranscripts(s: SparkSession, dir: String): DataFrame = {
    val t = transcripts(s, dir)
    val h = Accuracy.u32Md5(col("conv_id"))
    val base = t.select(
      col("conv_id"), col("turn_idx"),
      when(h % 3 === 2 && col("turn_idx") === 0, lit("bot"))
        .otherwise(col("role")).as("role"),
      when(h % 3 === 1 && col("turn_idx") === 1, lit(null).cast("string"))
        .otherwise(col("text")).as("text"),
      when(h % 3 === 0 && col("turn_idx") === 2,
        col("ts") - expr("INTERVAL 2 HOURS"))
        .otherwise(col("ts")).as("ts"))
    val dups = t.filter(h % 4 === 0 && col("turn_idx") === 3)
      .select("conv_id", "turn_idx", "role", "text", "ts")
    base.unionByName(dups)
  }

  /** Ground-truth sample points for the sits_get_* family: turn 3 of every
    * 7th conversation — deterministic, tiny (≙ the reference's CSV sample
    * set, always broadcast).
    */
  def samplePoints(s: SparkSession, dir: String): DataFrame =
    transcripts(s, dir)
      .filter(col("turn_idx") === 3 &&
        substring(col("conv_id"), 2, 6).cast("long") % 7 === 0)
      .select(col("conv_id").as("sample_id"), col("conv_id"),
        col("ts").as("sample_ts"))

  /** Per-(conv, day) feature vector for the scoring harness — rounded at 4
    * decimals so both engines feed the softmax identical rationals.
    */
  def softmaxFeatures(s: SparkSession, dir: String): DataFrame =
    Regularize.withMetrics(transcripts(s, dir))
      .groupBy(col("conv_id"), date_trunc("day", col("ts")).as("bucket_ts"))
      .agg(round(avg("text_len") / 100.0 + lit(1e-9), 4).as("f1"),
        round(avg("is_tool") + lit(1e-9), 4).as("f2"),
        round(count(lit(1)) / 10.0 + lit(1e-9), 4).as("f3"))

  /** CMS probe set: high-frequency corpus words + two absent words (the
    * absent ones exercise true_cnt = 0 and collision-only estimates).
    * Shared with the oracle's VALUES list.
    */
  val cmsProbes: Seq[String] = Seq(
    "the", "data", "join", "merge", "spark", "window",
    "ghostwordxyz", "notinthecorpus")

  /** Fixed keyword queries for the BM25 retrieval demo (corpus-vocabulary
    * terms; `dup` is the rare high-idf term). Mirrored in the oracle SQL.
    */
  val bm25Queries: Seq[(Int, String)] = Seq(
    (1, "spark window scan"),
    (2, "hash join merge dup"),
    (3, "stream batch the"))

  def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Documents with deterministically planted PII (the raw corpus contains
    * none — planting keeps txt_pii / txt_redact non-vacuous); the oracle
    * mirrors the planting expression exactly.
    */
  def piiPlanted(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 13 === 0,
        lit(" contact bob@example.com now")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit(" see https://example.org/p/1 and http://ex.net/q")).otherwise(lit("")),
      when(col("doc_id") % 19 === 0,
        lit(" call +14155551234")).otherwise(lit(""))).as("text"))

  /** Documents with deterministically planted exact (+100000, same text) and
    * near (+200000, text + tail) duplicates — the corpus has none naturally,
    * and the dedup operators need positives to find. Mirrored in SQL.
    */
  def docsPlanted(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zz near dup tail")).as("text")))
  }

  /** Planted corpus plus a 2000-doc byte-identical clone storm — the
    * boilerplate-hub cohort the 100 TB dedup failure mode needs exercised:
    * every clone lands in ONE band bucket per band, so uncapped LSH would
    * enumerate ~2M intra-storm pairs here (and 10^14 at production clone
    * counts).
    */
  val stormText =
    "clonestorm boilerplate verbatim replica payload chunk"
  def docsStorm(s: SparkSession, dir: String): DataFrame =
    docsPlanted(s, dir).unionByName(
      s.range(0, 2000).select((col("id") + 1000000L).as("doc_id"),
        lit(stormText).as("text")))

  /** Gopher-rule-violating plants shared by the txt_gopher query AND its
    * oracle (one constant → byte-identical text on both sides). Each doc
    * breaks a different rule; ids live far above the corpus range.
    */
  val gopherPlants: Seq[(Long, String)] = Seq(
    900001L -> "short doc only five words",
    900002L -> (("the be to of and that have with " * 4) + ("### " * 30)).trim,
    900003L -> ("12345 67890 24680 13579 99999 " * 12).trim,
    900004L -> (Seq("the be of items to start") ++
      (1 to 11).map(_ => "• item item item item item item")).mkString("\n"),
    900005L -> (Seq("the words with have that be of and stay normal here today now") ++
      (1 to 4).map(_ => "line ends here...") ++
      (1 to 5).map(_ => "plain extra line words here")).mkString("\n"),
    // passes every rule (the fixture's word-salad corpus lacks the Gopher
    // stop list, so the all-pass branch — keep = 1 — needs a plant too)
    900006L -> ("the data table holds numbers and shows report values with good care " * 5).trim,
    // mean word length 1 → fails f_mwl (and f_stop), passes f_wc/f_alpha
    900007L -> (("a b c d e f g h i j " * 6).trim))

  /** The tuning grid — shared between the Spark query and the oracle. */
  val tuneCandidates: Seq[(Double, Int)] =
    Seq((0.1, 3), (0.05, 3), (0.3, 2), (0.1, 1))
}
