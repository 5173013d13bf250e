package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Rounding.q4

/** Text-analysis operators for training-data curation over
  * `documents(doc_id, text, lang, source, n_chars)` — engine addition
  * (no sits analog): language ID, quality scoring, token counting,
  * fingerprinting. Pure Catalyst expressions; embarrassingly parallel
  * (no shuffle at all except final ordering).
  */
object TextAnalysis {

  /** Stopword sets per language for the n-gram/stopword-hit heuristic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了"))

  private def hitExpr(words: Seq[String]): String =
    s"size(filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Language ID by per-language stopword hit rate; ties break by the fixed
    * language preference order above (highest score wins, first language
    * checked wins ties).
    */
  def langId(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
    val scored = stopwords.foldLeft(d) { case (acc, (l, ws)) =>
      acc.withColumn(s"hits_$l", expr(hitExpr(ws)))
    }
    // argmax with first-wins ties, expressed as a CASE chain over languages
    val langs = stopwords.map(_._1)
    val maxHits = greatest(langs.map(l => col(s"hits_$l")): _*)
    val pred = langs.foldRight(lit("und")) { case (l, els) =>
      when(col(s"hits_$l") === maxHits && maxHits > 0, lit(l)).otherwise(els)
    }
    scored.select(col("doc_id"), col("lang"), pred.as("lang_pred"),
      round(maxHits.cast("double") / col("n_tok") + lit(1e-9), 4).as("score"))
  }

  /** Quality scoring: token count, mean token length, stopword ratio, digit
    * ratio → weighted score in [0,1] (a length/punct/stopword heuristic in
    * the spirit of C4/Gopher rules).
    */
  def quality(docs: DataFrame): DataFrame = {
    val en = stopwords.head._2
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("mean_len", expr(
        "aggregate(toks, cast(0 as double), (s, t) -> s + length(t)) / size(toks)"))
      .withColumn("stop_ratio", expr(hitExpr(en)).cast("double") / col("n_tok"))
      .withColumn("digit_ratio",
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("double") / length(col("text")))
      .select(col("doc_id"), col("n_tok"),
        round(col("mean_len") + lit(1e-9), 4).as("mean_len"),
        round(col("stop_ratio") + lit(1e-9), 4).as("stop_ratio"),
        round(col("digit_ratio") + lit(1e-9), 4).as("digit_ratio"),
        round(
          lit(0.4) * least(lit(1.0), col("n_tok").cast("double") / 100) +
          lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(lit(1.0), col("mean_len") / 8) + lit(1e-9), 4).as("q_score"))
  }

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (⌈len/4⌉ subwords per token — the common ~4-chars/token heuristic).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("toks")).as("n_words"),
        expr("aggregate(toks, 0L, (s, t) -> s + cast(ceil(length(t) / 4.0) as bigint))")
          .as("n_subwords"))

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text —
    * the exact-dedup/content-address key (identical across engines).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))

  /** PII pattern counting — the filtering/redaction triage stage of a
    * pretraining pipeline: per-doc counts of email / URL / international
    * phone matches plus a has_pii flag. Patterns are kept to constructs
    * with identical semantics in Java regex and RE2 (character classes,
    * bounded repetition, no backreferences), so the DuckDB oracle counts
    * the same matches. Shuffle-free expressions.
    */
  def piiCounts(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[A-Za-z0-9./_-]+"
    val phone = "\\+[0-9]{7,15}"
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(email)).as("n_email"),
      regexp_count(col("text"), lit(url)).as("n_url"),
      regexp_count(col("text"), lit(phone)).as("n_phone"))
      .withColumn("has_pii",
        col("n_email") + col("n_url") + col("n_phone") > 0)
  }

  /** PII redaction — the scrub half of [[piiCounts]] (the verb a pipeline
    * actually ships after triage): every email / URL / phone match is
    * replaced by a typed placeholder, and the per-doc redaction total is
    * reported. `n_redacted` counts replacements ACTUALLY MADE: each pattern
    * is counted on the text as it enters that stage, in a fixed
    * email → URL → phone order, so a digit-bearing email local part (e.g.
    * `a+1234567@x.com`) is consumed whole by the email stage and never
    * double-counted as a phone — the staging order is part of the
    * cross-engine contract with the oracle. Same RE2/Java-compatible
    * patterns as [[piiCounts]]; shuffle-free.
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[A-Za-z0-9./_-]+"
    val phone = "\\+[0-9]{7,15}"
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
        regexp_replace(col("text"), email, "<EMAIL>").as("t1"))
      .select(col("doc_id"), col("n_email"),
        regexp_count(col("t1"), lit(url)).cast("long").as("n_url"),
        regexp_replace(col("t1"), url, "<URL>").as("t2"))
      .select(col("doc_id"),
        regexp_replace(col("t2"), phone, "<PHONE>").as("text"),
        (col("n_email") + col("n_url") +
          regexp_count(col("t2"), lit(phone)).cast("long")).as("n_redacted"))
  }

  /** Corpus-composition report (the Chinchilla-budget accounting verb every
    * data-mixing decision reads): per (lang, source) cell — docs, words,
    * subword-token estimate, chars, and each cell's share of corpus words.
    * One partially-aggregated groupBy over cells bounded by
    * |langs|×|sources|; the share denominator is a broadcast scalar.
    */
  def corpusBudget(docs: DataFrame): DataFrame = {
    val cells = docs
      .withColumn("toks", split(col("text"), " "))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("n_words"),
        sum(expr(
          "aggregate(toks, 0L, (s, t) -> s + cast(ceil(length(t) / 4.0) as bigint))"))
          .as("n_subwords"),
        sum(length(col("text")).cast("long")).as("n_chars"))
    val tot = cells.agg(sum("n_words").as("__tw"))
    cells.crossJoin(broadcast(tot))
      .withColumn("pct_words",
        round(col("n_words").cast("double") / col("__tw") * 100 + lit(1e-9), 4))
      .drop("__tw")
  }

  /** Encoding-sanity screen (the C4/CCNet mojibake stage): per-doc counts of
    * U+FFFD replacement characters (the scar a broken decode leaves) and
    * raw C0 control characters (tab/newline/CR excluded), plus the clean
    * flag. Valid non-ASCII text passes untouched — the screen keys on
    * DAMAGE markers, not on being ASCII. Patterns live in the Java∩RE2
    * common dialect (character classes only); shuffle-free.
    */
  def encodingScreen(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit("�")).as("n_repl"),
      regexp_count(col("text"), lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
        .as("n_ctrl"))
      .withColumn("is_clean", col("n_repl") + col("n_ctrl") === 0)

  /** Corpus-relative char-trigram language-model score — the KenLM-style
    * quality-filter baseline, fully relational: (1) corpus pass counts every
    * character trigram (vocabulary is charset³-bounded → broadcastable at
    * any corpus size; counts are partial-aggregated map-side); (2) scoring
    * pass averages each doc's per-trigram log-probabilities. Per-trigram
    * logprob is rounded to 6 decimals and the per-doc mean to 4 — the same
    * quantization contract as the k-means trainer, making the result
    * invariant to float summation order (ln() itself differs ≤1 ulp across
    * engines, absorbed by the rounding). Trigrams are CODEPOINT-based
    * (matches Spark/DuckDB substring semantics beyond the BMP). Docs
    * shorter than 3 codepoints get no row. Unseen trigrams (scoring against
    * a foreign corpus) take the floor log(0.5/total).
    */
  def lmScore(docs: DataFrame, corpus: DataFrame = null): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def tris(d: DataFrame): DataFrame =
      d.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          if (t == null) Iterator.empty
          else {
            val cps = t.codePoints().toArray
            if (cps.length < 3) Iterator.empty
            else Iterator.tabulate(cps.length - 2)(i =>
              (id, new String(cps, i, 3)))
          }
        }.toDF("doc_id", "tri")
    val corp = if (corpus == null) docs else corpus
    // total trigram count = Σ max(len−2, 0) — a one-scalar job straight off
    // the text lengths (codepoints in both engines), so the trigram-count
    // relation is built exactly once, inside the returned plan (no cache
    // handle escapes)
    val total = corp.select(
      sum(greatest(length(col("text")) - 2, lit(0)))).head.getLong(0)
    val lp = tris(corp).groupBy("tri").agg(count(lit(1)).as("cnt"))
      .select(col("tri"),
        round(log(col("cnt").cast("double") / lit(total.toDouble)) + lit(1e-9), 6)
          .as("lp"))
    val floorLp = BigDecimal(math.log(0.5 / total.toDouble) + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    tris(docs).join(broadcast(lp), Seq("tri"), "left")
      .select(col("doc_id"), coalesce(col("lp"), lit(floorLp)).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        round(avg("lp") + lit(1e-9), 4).as("lm_score"))
  }

  /** DSIR data selection (Xie+ NeurIPS'23 "Data Selection for Language
    * Models via Importance Resampling"): score every RAW doc by how
    * target-like its hashed n-gram distribution is, keep the top k. Bag of
    * hashed word uni+bigrams into `buckets` buckets (b = u32(md5(gram)) mod
    * B); bucket models for target p and raw q with +1 Laplace smoothing;
    * per-doc importance = Σ_grams [ln p_b − ln q_b].
    *
    * Engine-parity contract: each bucket's log-ratio is quantized ONCE to
    * integer MICROS (round(·×1e6) → bigint, absorbing the ≤1-ulp libm ln
    * disagreement), and per-doc accumulation is a bigint sum — order-free
    * and bit-exact across engines; the per-gram mean does a single double
    * division at the very end. Shuffle topology at 100 TB: bucket-count agg
    * is map-side partial into a B-bounded relation → the log-ratio lookup
    * broadcasts; scoring is explode → broadcast join → partially-aggregated
    * groupBy(doc); selection is TakeOrderedAndProject (per-partition top-k),
    * never a global sort.
    */
  def dsirSelect(docs: DataFrame, targetPred: Column, buckets: Int = 1024,
      k: Int = 50): DataFrame = {
    val t = docs.select(col("doc_id"), targetPred.as("is_target"),
      split(col("text"), " ").as("toks"))
    val grams = t.select(col("doc_id"), col("is_target"),
      explode(concat(col("toks"),
        expr("""zip_with(slice(toks, 1, size(toks) - 1),
               |         slice(toks, 2, size(toks) - 1),
               |         (a, b) -> concat(a, ' ', b))""".stripMargin)))
        .as("gram"))
      .select(col("doc_id"), col("is_target"),
        pmod(Accuracy.u32Md5(col("gram")), lit(buckets.toLong)).as("bkt"))
    val counts = grams.groupBy("bkt").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_target"), 1L).otherwise(0L)).as("cr"))
    val tot = counts.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val lr = counts.crossJoin(broadcast(tot))
      .select(col("bkt"),
        round((log(col("ct") + 1) - log(col("nt") + buckets)
             - log(col("cr") + 1) + log(col("nr") + buckets)) * lit(1e6))
          .cast("bigint").as("lr_micro"))
    grams.filter(!col("is_target"))
      .join(broadcast(lr), Seq("bkt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("lr_micro").as("w_micro"))
      .withColumn("mean_lr",
        round(col("w_micro").cast("double") / col("n_grams") / lit(1e6)
          + lit(1e-9), 4))
      .orderBy(col("mean_lr").desc, col("doc_id")).limit(k)
  }

  /** Model-based quality filtering (the FineWeb-Edu / DCLM shape): train an
    * in-engine logistic classifier to approximate an expensive quality
    * signal from cheap per-doc features, then score and gate the whole
    * corpus with the model. Label = the Gopher word-count rule (n_tok ≥ 50,
    * the battery's backbone rule); features = the quality() surface stats
    * (mean word length, stopword ratio, digit ratio) — deliberately
    * EXCLUDING the label's own n_tok, so the model genuinely generalizes
    * rather than reading the answer. Training is [[Train.logisticGD]]'s
    * quantized-weight contract (oracle-replayable); scoring is one map-only
    * pass with literal weights; `keep` compares the 6-dp-rounded score so
    * both engines gate on the identical value.
    */
  def qualityModelFilter(docs: DataFrame, keepNum: Int = 2,
      keepDen: Int = 5): DataFrame = {
    val featCols = Seq("f_mwl", "f_stop", "f_digit")
    val feats = quality(docs).select(col("doc_id"),
      (col("mean_len") / 10.0).as("f_mwl"),
      col("stop_ratio").as("f_stop"),
      col("digit_ratio").as("f_digit"),
      when(col("n_tok") >= 50, 1.0).otherwise(0.0).as("y"))
    val (w, acc) = Train.logisticGD(feats, featCols, "y")
    val margin = featCols.zipWithIndex.foldLeft(lit(w(0))) {
      case (a, (c, j)) => a + lit(w(j + 1)) * col(c)
    }
    // retention gate is a TOP-FRACTION rank (keepNum/keepDen of the corpus),
    // not an absolute probability cut: FineWeb-Edu tunes its threshold to a
    // retention target, and rank selection stays non-degenerate however the
    // score distribution shifts; ties settle on doc_id so the selected set
    // is identical cross-engine even when scores collide at 6 dp.
    // Plans as TakeOrderedAndProject (per-partition top-k), never a global sort.
    val nKeep = (docs.count() * keepNum / keepDen).toInt
    feats.select(col("doc_id"), col("y").cast("int").as("y"),
      round(lit(1.0) / (lit(1.0) + exp(-margin)) + lit(1e-9), 6).as("score"))
      .withColumn("train_acc", lit(acc))
      .orderBy(col("score").desc, col("doc_id")).limit(nKeep)
  }

  /** Top-k vocabulary extraction (tokenizer-training prep): corpus word
    * counts with a deterministic (count desc, word) order. Plans as partial
    * agg + TakeOrderedAndProject — never a global sort of the vocabulary.
    */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(k)

  /** Collection statistics / inverted-index head (the IR index-build
    * relation): per term, document frequency (df) and collection frequency
    * (cf), top-`k` by (df desc, cf desc, term). Plans as two stacked partial
    * aggregates + TakeOrderedAndProject — the index over a 100 TB corpus is
    * one shuffle on the term key, never a global sort.
    */
  def indexStats(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w != '')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .orderBy(col("df").desc, col("cf").desc, col("term")).limit(k)

  /** BM25 ranked keyword retrieval (Robertson-Spärck Jones probabilistic
    * relevance; the Lucene `k1`/`b` parameterization with the +1-smoothed
    * idf, `ln(1 + (N - df + 0.5)/(df + 0.5))`) — the retrieval half of the
    * training-data pipeline (mining domain-relevant documents from the raw
    * corpus by keyword query).
    *
    * Scale shape: tf is one partial-aggregable groupBy over the exploded
    * corpus (the inverted-index build); the query set and the per-term idf
    * relation are tiny and BROADCAST, so scoring touches only postings of
    * the query terms; per-query top-k plans as WindowGroupLimit (partial +
    * final per-partition top-k). No cross join, no global sort anywhere.
    *
    * Determinism contract (engine-replayable): idf is quantized to 6
    * decimals before use; each per-term score part is then a fixed chain of
    * correctly-rounded double ops (bit-identical across engines); the
    * per-document sum folds parts in lexicographic TERM order
    * (`aggregate(array_sort(...))` — a sequential left fold both engines
    * replay); the final score is rounded to 4 decimals with the +1e-9 HALF_UP
    * bias before ranking, doc_id tie-break.
    */
  def bm25(docs: DataFrame, queries: Seq[(Int, String)], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), w -> w != '')")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("avgdl"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) + lit(1e-9), 6).as("idf"))
    val q = queries.toDF("qid", "qtext")
      .select(col("qid"),
        explode(expr("filter(split(qtext, ' '), w -> w != '')")).as("term"))
      .distinct()
    val parts = tf.join(broadcast(q), "term")
      .join(dl, "doc_id")
      .join(broadcast(idf), "term")
      .withColumn("part",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    val scored = parts.groupBy("qid", "doc_id")
      .agg(round(expr("aggregate(array_sort(collect_list(struct(term, part)))," +
        " cast(0 as double), (acc, x) -> acc + x.part)") + lit(1e-9), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("score"), col("rn"))
  }

  /** Token counting by regex classes (the BPE-ish pre-tokenizer pattern:
    * letter runs, digit runs, single punctuation) alongside plain
    * whitespace tokens. Non-overlapping left-to-right match counts are
    * engine-identical for these disjoint classes.
    */
  def tokenCountsRegex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_words"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe"))

  /** Distinct word n-gram set per document as (doc_id, gram) rows. Typed
    * kernel: HOF gram construction (`transform(sequence(...))`) interprets a
    * lambda per position; one compiled pass per doc is the hot-path shape.
    * Docs with fewer than n tokens have no gram and produce no row (both
    * engines drop them).
    */
  private def gramSet(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = t.split(" ", -1)
        if (ws.length < n) Iterator.empty
        else {
          val set = scala.collection.mutable.LinkedHashSet[String]()
          var i = 0
          while (i <= ws.length - n) { set += ws.slice(i, i + n).mkString(" "); i += 1 }
          set.iterator.map(g => (id, g))
        }
      }.toDF("doc_id", "gram")
  }

  /** Benchmark decontamination by word n-gram overlap (the GPT-3
    * appendix-C / Dolma pipeline stage): a training document is contaminated
    * when the fraction of its distinct n-grams that also occur anywhere in
    * the benchmark corpus reaches `thresh`. The benchmark gram vocabulary is
    * distinct-aggregated and BROADCAST — eval benchmarks are tiny next to a
    * pretraining corpus, so at 100 TB the training side touches no shuffle
    * beyond its own per-doc count aggregate (map-side combined). Output per
    * training doc: distinct-gram count, benchmark-hit count, overlap ratio,
    * contaminated flag.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, n: Int = 3,
                    thresh: Double = 0.5): DataFrame = {
    val bg = gramSet(bench, n).select(col("gram")).distinct()
    gramSet(train, n)
      .join(broadcast(bg.withColumn("hit", lit(1L))), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_gram"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_gram"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_gram") + lit(1e-9), 4)
          .as("contam_ratio"),
        (col("n_hit").cast("double") / col("n_gram") >= thresh).as("contaminated"))
  }

  /** Pairwise cross-source corpus overlap at sketch cost: each source's
    * distinct word n-gram vocabulary is summarized by a KMV bottom-k
    * signature (k smallest u32(md5) hashes, gram tie-break — the
    * [[Summary.bottomKSample]] recipe per source), and each source pair's
    * Jaccard is estimated as |X ∩ A ∩ B| / |X| where X is the bottom-k of
    * the MERGED signatures (Beyer et al. SIGMOD'07 — the standard KMV
    * union estimator). The corpus is touched ONCE (distinct gram set +
    * per-source top-k via WindowGroupLimit, partial per-partition);
    * everything pairwise runs on the |sources|·k-bounded signature
    * relation, so source count — not corpus size — drives the pair cost.
    * The mix-auditing question ("how much does src A overlap src B?")
    * every multi-source pretraining corpus asks. Output:
    * (sa, sb, k_used, n_both, est_jaccard).
    */
  def sourceOverlap(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.select(col("source").cast("string"), col("text"))
      .as[(String, String)]
      .flatMap { case (src, t) =>
        val ws = t.split(" ", -1)
        if (ws.length < n) Iterator.empty
        else {
          val set = scala.collection.mutable.LinkedHashSet[String]()
          var i = 0
          while (i <= ws.length - n) {
            set += ws.slice(i, i + n).mkString(" "); i += 1
          }
          set.iterator.map(g => (src, g))
        }
      }.toDF("source", "gram")
      .distinct()
    val ws = Window.partitionBy("source").orderBy(col("h"), col("gram"))
    val sig = grams.withColumn("h", Accuracy.u32Md5(col("gram")))
      .withColumn("rk", row_number().over(ws)).filter(col("rk") <= k)
      .select("source", "gram", "h")
    val srcs = sig.select("source").distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .join(srcs.select(col("source").as("sb")), col("sa") < col("sb"))
    val ua = pairs.join(sig.withColumnRenamed("source", "sa"), "sa")
      .select(col("sa"), col("sb"), col("gram"), col("h"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
    val ub = pairs.join(sig.withColumnRenamed("source", "sb"), "sb")
      .select(col("sa"), col("sb"), col("gram"), col("h"),
        lit(0L).as("in_a"), lit(1L).as("in_b"))
    val wp = Window.partitionBy("sa", "sb").orderBy(col("h"), col("gram"))
    ua.unionByName(ub)
      .groupBy("sa", "sb", "gram", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      .withColumn("rk", row_number().over(wp)).filter(col("rk") <= k)
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("k_used"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .select(col("sa"), col("sb"), col("k_used"), col("n_both"),
        round(col("n_both").cast("double") / col("k_used") + lit(1e-9), 4)
          .as("est_jaccard"))
  }

  /** Gopher-style repetition metrics (Rae et al. 2021, table A1): per-doc
    * duplicate-word fraction, top-word fraction, and duplicate 2-/3-gram
    * fractions — the standard repetitious-text filter. One typed pass emits
    * integer counts; the ratios and rounding stay in Catalyst so the float
    * boundary matches the oracle (int/int division is exact-rounding in both
    * engines). Shuffle-free. Docs with no 2-/3-gram score 0.0 there.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val ws = t.split(" ", -1)
        val n = ws.length
        val wc = new java.util.HashMap[String, Int]()
        var i = 0
        while (i < n) { wc.merge(ws(i), 1, Integer.sum); i += 1 }
        var maxC = 0
        val it = wc.values().iterator()
        while (it.hasNext) { val c = it.next(); if (c > maxC) maxC = c }
        def gramCounts(g: Int): (Int, Int) = {
          val total = math.max(n - g + 1, 0)
          val set = new java.util.HashSet[String]()
          var i = 0
          while (i <= n - g) { set.add(ws.slice(i, i + g).mkString(" ")); i += 1 }
          (total, set.size)
        }
        val (n2, d2) = gramCounts(2)
        val (n3, d3) = gramCounts(3)
        (id, n, wc.size, maxC, n2, d2, n3, d3)
      }.toDF("doc_id", "n_tok", "n_dist", "max_c", "n_g2", "d_g2", "n_g3", "d_g3")
    def dupFrac(tot: String, dist: String) =
      when(col(tot) > 0,
        round((col(tot) - col(dist)).cast("double") / col(tot) + lit(1e-9), 4))
        .otherwise(lit(0.0))
    counts.select(col("doc_id"), col("n_tok"), col("n_dist"), col("max_c"),
      round((col("n_tok") - col("n_dist")).cast("double") / col("n_tok") + lit(1e-9), 4)
        .as("frac_dup_word"),
      round(col("max_c").cast("double") / col("n_tok") + lit(1e-9), 4)
        .as("frac_top_word"),
      dupFrac("n_g2", "d_g2").as("frac_dup_2g"),
      dupFrac("n_g3", "d_g3").as("frac_dup_3g"))
  }

  /** From-scratch BPE tokenizer training (Sennrich+ ACL'16), distributed the
    * way production trainers scale: iterate over the WORD-COUNT relation
    * (vocabulary-sized — one corpus shuffle up front), not the corpus. Each
    * merge step is (1) one partial-aggregated pair-count job over the
    * segmented vocab, (2) a 1-row TakeOrdered fetch of the best pair
    * (count desc, pair asc — deterministic), (3) a map-only re-segmentation
    * with the merge folded in as a literal. No other shuffle per step.
    *
    * Segmentation contract: a word is held as a DOUBLE-SPACE-joined token
    * string with double-space sentinels (`"  a  b  c  "`), and a merge
    * (a,b)→ab is the plain string replacement `" a  b " → " ab "`. Each
    * match consumes only the INNER spaces, so candidate matches never share
    * characters and every non-overlapping left-to-right `replace` —
    * JVM String.replace, Spark SQL `replace`, DuckDB `replace` — yields the
    * byte-identical greedy-BPE result. Pure string/integer ops: the oracle
    * replays training exactly with no float contract at all.
    *
    * Output: one row per merge step (step, pair, merged, cnt).
    */
  def bpeTrain(docs: DataFrame, nMerges: Int,
      checkpointEvery: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt")).persist()
    wc.count()
    try {
      var seg = wc.select(col("word"), col("cnt"),
        concat(lit("  "),
          expr("array_join(transform(sequence(1, char_length(word)), " +
            "i -> substring(word, i, 1)), '  ')"),
          lit("  ")).as("s"))
      val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      for (k <- 1 to nMerges) {
        val best = seg.select(col("s"), col("cnt")).as[(String, Long)]
          .flatMap { case (s, c) =>
            val toks = s.split(" ").filter(_.nonEmpty)
            Iterator.range(0, toks.length - 1)
              .map(i => (toks(i) + " " + toks(i + 1), c))
          }.toDF("pair", "c")
          .groupBy("pair").agg(sum("c").as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
        if (best.nonEmpty) {
          val pair = best(0).getString(0)
          val cnt = best(0).getLong(1)
          val Array(a, b) = pair.split(" ")
          merges += ((k, pair, a + b, cnt))
          seg = seg.withColumn("s", call_function("replace", col("s"),
            lit(s" $a  $b "), lit(s" $a$b ")))
          // Production merge counts (32k) need the chained-replace plan
          // truncated periodically: without this every top-pair job
          // re-evaluates ALL replaces since the start over the whole vocab
          // relation and the logical plan grows one node per merge (O(n²)
          // work, O(n) analysis per round). An eager localCheckpoint every
          // `checkpointEvery` merges pins the segmented vocab (word-count-
          // sized, NOT corpus-sized) and keeps per-round cost constant.
          if (k % checkpointEvery == 0) seg = seg.localCheckpoint(true)
        }
      }
      merges.toSeq.toDF("step", "pair", "merged", "cnt")
    } finally { wc.unpersist(); () }
  }

  /** BPE tokenizer APPLICATION — the encode half of the [[bpeTrain]]
    * lifecycle (train → encode → pack): segment every word of every document
    * to characters under the same double-space contract and fold the ordered
    * merge list in as chained literal `replace` calls — one map-only pass
    * over the corpus, zero shuffles, and byte-identical greedy-BPE output in
    * JVM/Spark/DuckDB (see the [[bpeTrain]] contract note). Words are
    * separated by the concatenated sentinels (4 spaces), which no merge
    * pattern (exactly 2 inner spaces) can match across — merges never cross
    * word boundaries, as in the real tokenizer.
    *
    * `merges` is the trained (a, b) list in step order — vocabulary-sized
    * driver metadata, exactly what a production encoder broadcasts.
    * Output per doc: token count, merged-token count (length > 1), and an
    * md5 fingerprint of the final segmentation (the full token stream,
    * order-sensitive — a cross-engine-checkable stand-in for emitting the
    * token id array).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val seg0 = expr(
      """array_join(transform(filter(split(text, ' '), w -> w != ''), w ->
        |  concat('  ', array_join(transform(sequence(1, char_length(w)),
        |    i -> substring(w, i, 1)), '  '), '  ')), '')""".stripMargin)
    val enc = merges.foldLeft(seg0) { case (c, (a, b)) =>
      call_function("replace", c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    docs.select(col("doc_id"), enc.as("s"))
      .select(col("doc_id"),
        size(expr("filter(split(s, ' '), t -> t != '')")).cast("long")
          .as("n_tokens"),
        size(expr("filter(split(s, ' '), t -> char_length(t) > 1)")).cast("long")
          .as("n_merged"),
        md5(col("s")).as("tok_fp"))
  }

  /** Sequence packing for pretraining (the GPT-2/PaLM concat-and-chunk
    * contract): documents are laid out in a deterministic order — shard by
    * doc_id % nShards, then (doc_id) within the shard — token offsets are
    * the running sum, and each doc lands in training sequence
    * floor(offset / capacity) at offset % capacity; a doc whose span
    * crosses a capacity boundary straddles two sequences, exactly like the
    * real concat-then-cut pipeline. Fully relational: the cumulative sum is
    * a window partitioned BY SHARD, so every shard packs in parallel and no
    * global single-partition window exists (shard count scales with the
    * cluster; shards are independent token streams, which is how packed
    * datasets are sharded in practice). Integer-only — exact in any engine.
    */
  def packSequences(docs: DataFrame, capacity: Int, nShards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    docs
      .select(col("doc_id"),
        (col("doc_id") % nShards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("offset",
        coalesce(sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tok"), col("offset"),
        // integer `div`, not double `/`+cast: exact at any offset magnitude
        expr(s"`offset` div $capacity").as("seq_id"),
        (col("offset") % capacity).as("seq_offset"),
        expr(s"(`offset` + n_tok - 1) div $capacity") =!=
          expr(s"`offset` div $capacity") as "straddles")
  }

  private val Window = org.apache.spark.sql.expressions.Window

  /** Per-domain quota capping (the FineWeb/Dolma per-source cap — no single
    * domain may dominate the corpus): keep the top `cap` documents per
    * source ranked by (n_chars desc, doc_id). The ranked window is
    * partitioned by source, so Spark plans it as WindowGroupLimit — a
    * per-partition partial top-k BEFORE the shuffle; at 100 TB each
    * executor forwards at most `cap` rows per source, never a global sort.
    */
  def domainCap(docs: DataFrame, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    docs.withColumn("rk", row_number().over(w)).filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("n_chars"), col("rk"))
  }

  /** 2^32 scaled to an inclusive-exclusive integer threshold. */
  private def u32Threshold(frac: Double): Long =
    (frac * 4294967296.0).toLong

  /** Deterministic corpus mixing (the data-mixing / source-rebalancing stage
    * of a pretraining pipeline): every document keeps or drops ITSELF by
    * comparing a 32-bit hash key — the first 8 hex digits of
    * md5(doc_id) — against its language's integer threshold
    * floor(frac·2^32). Pure shuffle-free expressions, no RNG state: the
    * sample is reproducible across engines, runs, and cluster sizes, and
    * each group is kept at its target fraction in expectation under md5
    * uniformity. Languages absent from `fractions` use `default`.
    */
  def mixSample(docs: DataFrame, fractions: Map[String, Double],
      default: Double = 1.0): DataFrame = {
    val thr = fractions.foldLeft(lit(u32Threshold(default))) {
      case (acc, (l, f)) =>
        when(col("lang") === l, lit(u32Threshold(f))).otherwise(acc)
    }
    docs
      .withColumn("u", Accuracy.u32Md5(col("doc_id")))
      .filter(col("u") < thr)
      .select(col("doc_id"), col("lang"), col("u"))
  }

  /** The Gopher quality-rule battery (Rae+ '21, Table A1) — the canonical
    * pretraining document filters, emitted as per-rule 0/1 flags plus the
    * conjunction:
    *  f_wc     word count in [50, 100000]
    *  f_mwl    mean word length in [3, 10]
    *  f_sym    symbol-to-word ratio ('#' chars + non-overlapping "...")
    *           ≤ 0.1
    *  f_bullet ≤ 10% of lines start with a bullet (•, -, *)
    *  f_ell    ≤ 30% of lines end with "..."
    *  f_alpha  ≥ 80% of words contain an alphabetic character
    *  f_stop   ≥ 2 distinct hits from the 8-word Gopher stop list
    *
    * Every ratio test is evaluated by INTEGER cross-multiplication
    * (10·sym ≤ words, 5·alpha ≥ 4·words, …) — zero float anywhere, so the
    * flags are exact in any engine. Shuffle-free expressions; words split
    * on \s+, lines on \n.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopsArr = stops.map(w => s"'$w'").mkString("array(", ", ", ")")
    docs
      .withColumn("ws", split(col("text"), "\\s+"))
      .withColumn("lns", split(col("text"), "\n"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("sum_wlen",
        expr("aggregate(ws, 0L, (s, w) -> s + length(w))"))
      .withColumn("n_sym",
        (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
          .cast("long") +
        size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0)))
          .cast("long"))
      .withColumn("n_bullet",
        expr("size(filter(lns, l -> l rlike '^[-*•]'))").cast("long"))
      .withColumn("n_lines", size(col("lns")).cast("long"))
      .withColumn("n_ellend",
        expr("size(filter(lns, l -> l rlike '\\\\.\\\\.\\\\.$'))").cast("long"))
      .withColumn("n_alpha",
        expr("size(filter(ws, w -> w rlike '[A-Za-z]'))").cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter($stopsArr, s -> array_contains(ws, s)))")
          .cast("long"))
      .withColumn("f_wc",
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int"))
      .withColumn("f_mwl",
        (col("sum_wlen") >= col("n_words") * 3 &&
          col("sum_wlen") <= col("n_words") * 10).cast("int"))
      .withColumn("f_sym", (col("n_sym") * 10 <= col("n_words")).cast("int"))
      .withColumn("f_bullet",
        (col("n_bullet") * 10 <= col("n_lines")).cast("int"))
      .withColumn("f_ell",
        (col("n_ellend") * 10 <= col("n_lines") * 3).cast("int"))
      .withColumn("f_alpha",
        (col("n_alpha") * 5 >= col("n_words") * 4).cast("int"))
      .withColumn("f_stop", (col("n_stop") >= 2).cast("int"))
      .select(col("doc_id"), col("n_words"), col("f_wc"), col("f_mwl"),
        col("f_sym"), col("f_bullet"), col("f_ell"), col("f_alpha"),
        col("f_stop"),
        (col("f_wc") * col("f_mwl") * col("f_sym") * col("f_bullet") *
          col("f_ell") * col("f_alpha") * col("f_stop")).as("keep"))
  }

  /** CCNet-style perplexity bucketing (Wenzek+ LREC'20): split each
    * language's corpus into head / middle / tail thirds by LM score (here
    * [[lmScore]]'s char-trigram mean logprob — higher = more natural text;
    * CCNet keeps "head" for pretraining). Boundaries are per-language
    * tercile VALUES (quantile_cont semantics, bit-identical cross-engine
    * via [[Predictors.exactQuantiles]]' interpolation contract), then the
    * labeling pass is a shuffle-free broadcast-threshold comparison —
    * deliberately NOT a per-language rank window, which would put an entire
    * language (at web scale: most of the corpus) in one task. Ties at a
    * boundary resolve upward (score ≥ b2 → head, ≥ b1 → middle).
    * exactQuantiles runs once per language — language cardinality is
    * metadata-scale. Output: (doc_id, lang, lm_score, bucket).
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = lmScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    // normalizeQ contract: persist only for the duration of the stats pass,
    // release before returning — the returned plan recomputes the scoring
    // subtree once when materialized; no cache handle escapes.
    scored.persist()
    val bounds =
      try {
        val langs = scored.select("lang").distinct()
          .orderBy("lang").collect().map(_.getString(0))
        langs.map { l =>
          val qs = Predictors.exactQuantiles(
            scored.filter(col("lang") === l), "lm_score",
            Seq(1.0 / 3, 2.0 / 3))
          (l, qs(0), qs(1))
        }
      } finally { scored.unpersist(); () }
    val bucket = bounds.foldLeft(lit(null).cast("string")) {
      case (acc, (l, b1, b2)) =>
        when(col("lang") === l,
          when(col("lm_score") >= b2, "head")
            .when(col("lm_score") >= b1, "middle")
            .otherwise("tail")).otherwise(acc)
    }
    scored.select(col("doc_id"), col("lang"), col("lm_score"),
      bucket.as("bucket"))
  }

  /** Temperature-scaled source mixing (the multinomial data-mixing rule of
    * multilingual/multi-domain pretraining — sampling probability
    * p_i ∝ n_i^τ with τ = 1/2, the standard up-weight-the-tail setting):
    * per-source keep rate r_i = min(1, target · (√n_i / Σ_j √n_j) / n_i),
    * applied as the same deterministic u32(md5(doc_id)) < floor(r_i·2^32)
    * hash filter as [[mixSample]]. target = ⌊3/5 · Σ n_j⌋ (integer math).
    *
    * Float-parity contract: τ = 1/2 uses ONLY IEEE correctly-rounded ops
    * (sqrt, ·, /) and the Σ√n_j denominator is folded left-to-right in
    * source order on both engines (Scala foldLeft ≡ DuckDB list_reduce over
    * a source-ORDERed list), so the integer thresholds are bit-identical —
    * a general τ via pow() would not be (libm pow is not correctly rounded).
    *
    * Scale shape: one partially-aggregable count per source (collected —
    * source cardinality is metadata-scale, the k-means-centroids contract),
    * then a shuffle-free broadcast-literal filter over the corpus.
    */
  def mixTemperature(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(counts.nonEmpty, "mixTemperature: empty corpus")
    val denom = counts.foldLeft(0.0) { case (a, (_, n)) =>
      a + math.sqrt(n.toDouble)
    }
    val target = counts.map(_._2).sum * 3 / 5
    val thr = counts.map { case (s, n) =>
      val r = math.min(1.0,
        target.toDouble * (math.sqrt(n.toDouble) / denom) / n.toDouble)
      s -> math.floor(r * 4294967296.0).toLong
    }
    val thrCol = thr.foldLeft(lit(0L): org.apache.spark.sql.Column) {
      case (acc, (s, t)) => when(col("source") === s, lit(t)).otherwise(acc)
    }
    docs
      .withColumn("u", Accuracy.u32Md5(col("doc_id")))
      .filter(col("u") < thrCol)
      .select(col("doc_id"), col("source"), col("u"))
  }

  /** The mix-sample thresholds as SQL CASE text, so the oracle replays the
    * exact integer constants this engine filtered with.
    */
  def mixThresholdSql(fractions: Map[String, Double], default: Double): String =
    fractions.toSeq.sortBy(_._1).map { case (l, f) =>
      s"WHEN lang = '$l' THEN ${u32Threshold(f)}"
    }.mkString("CASE ", " ", s" ELSE ${u32Threshold(default)} END")

  /** Rolling-hash document fingerprinting by WINNOWING (Schleimer et al.,
    * SIGMOD'03): hash every k-char gram of the normalized text (first 4
    * md5 bytes as an unsigned 32-bit value — engine-reproducible), take the
    * minimum of each w-gram window, and keep the distinct selected hashes —
    * the local-similarity fingerprint set that survives insertions and
    * reordering where the whole-document md5 does not. Typed mapPartitions
    * kernel (per-char HOF expressions interpret ~len×k lambda evals per
    * doc); the DuckDB oracle recomputes the identical selection from the
    * same md5 grams. Docs shorter than k+w-1 chars have no window and are
    * excluded in both engines. Output: per-doc fingerprint-set summary
    * (count / sum / min / max of the selected hashes).
    */
  def winnow(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
        lower(regexp_replace(col("text"), "\\s+", " ")).as("s"))
      .filter(length(col("s")) >= k + w - 1)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, s) =>
          // Grams are indexed by CODE POINT, not UTF-16 unit, so non-BMP
          // text (emoji, astral chars) shingles identically to DuckDB
          // substr()/length() and Spark's own length() filter above.
          // BMP-only strings take the allocation-free char path (for them
          // char index ≡ code-point index).
          val cps: Array[Int] =
            if (s.codePointCount(0, s.length) == s.length) null
            else s.codePoints().toArray
          val cpLen = if (cps == null) s.length else cps.length
          def gram(i: Int): String =
            if (cps == null) s.substring(i, i + k) else new String(cps, i, k)
          val n = cpLen - k + 1
          if (n < w) Iterator.empty
          else {
            val h = new Array[Long](n)
            var i = 0
            while (i < n) {
              val d = md.digest(gram(i).getBytes("UTF-8"))
              h(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
              i += 1
            }
            val sel = scala.collection.mutable.LinkedHashSet[Long]()
            i = 0
            while (i <= n - w) {
              var m = h(i)
              var j = i + 1
              while (j < i + w) { if (h(j) < m) m = h(j); j += 1 }
              sel += m
              i += 1
            }
            val arr = sel.toArray
            Iterator.single((id, arr.length, arr.sum, arr.min, arr.max))
          }
        }
      }.toDF("doc_id", "n_fp", "fp_sum", "fp_min", "fp_max")
  }

  /** Type-token ratio + hapax share per document — the lexical-diversity
    * quality signal (low TTR flags template/spam text; high hapax share
    * flags noise). One (doc_id, word) partial agg then one doc_id agg —
    * groups bounded by document length, embarrassingly parallel at any
    * corpus size. Output: (doc_id, n_tokens, n_types, ttr, n_hapax,
    * hapax_share); ratios are exact rationals, 4-dp at the boundary.
    */
  def typeTokenRatio(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens") + lit(1e-9), 4)
          .as("ttr"),
        col("n_hapax"),
        round(col("n_hapax").cast("double") / col("n_tokens") + lit(1e-9), 4)
          .as("hapax_share"))

  /** Zipf rank-frequency fit over the top-`k` vocabulary: OLS of ln(cnt)
    * on ln(rank) — natural text slopes ≈ −1 (Zipf 1949); a far-off slope
    * flags synthetic/boilerplate corpora. The corpus-sized work is exactly
    * [[vocabTopK]] (partial agg + TakeOrderedAndProject); the regression
    * runs on the k-row bounded relation (rank window over k rows). ln() at
    * 4-dp follows the entropy/logit oracle precedent. Output one row:
    * (n_terms, slope, intercept, r2).
    */
  def zipfFit(docs: DataFrame, k: Int): DataFrame = {
    // ln values quantized to integer ten-thousandths BEFORE summation —
    // every aggregate below is an exact integer sum (the ccf/olsTrend
    // lesson: cross-row double sums are order-sensitive; integers aren't).
    // The 1e4 scale cancels in slope and r², and divides out once in the
    // intercept. ln() itself at 4-dp follows the entropy/logit precedent.
    val ranked = vocabTopK(docs, k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("word"))))
      .select(
        round(log(col("rank").cast("double")) * 10000).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * 10000).cast("long").as("y"))
    ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("den",
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("num",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .select(col("n").as("n_terms"),
        round(col("num") / col("den") + lit(1e-9), 4).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
          / (col("den") * 10000.0) + lit(1e-9), 4).as("intercept"),
        round(col("num") * col("num") /
          (col("den") * (col("n") * col("syy") - col("sy") * col("sy"))
            .cast("double"))
          + lit(1e-9), 4).as("r2"))
  }

  /** Population-stability-index drift monitor between two corpus shards
    * (the production "did the ingest distribution move?" check): log2
    * doc-length buckets (integer bit length — [[Summary.log2Bucket]]'s
    * rule), Laplace-smoothed shares p = (cnt+1)/(n+B) over the observed
    * bucket union, per-bucket term (pA−pB)·ln(pA/pB). Everything after
    * the one corpus-scan partial agg runs on the ≤64-bucket relation.
    * Output per bucket: (bucket, n_a, n_b, p_a, p_b, psi_term), 4-dp.
    */
  def psiDrift(docs: DataFrame, shardA: Column): DataFrame = {
    val b = docs.select(
      Summary.log2Bucket(col("n_chars")).as("bucket"),
      when(shardA, 1L).otherwise(0L).as("in_a"))
      .groupBy("bucket")
      .agg(sum("in_a").as("n_a"), (count(lit(1)) - sum("in_a")).as("n_b"))
    val w = Window.partitionBy()
    val sm = b
      .withColumn("ta", sum("n_a").over(w))
      .withColumn("tb", sum("n_b").over(w))
      .withColumn("nb", count(lit(1)).over(w))
      .withColumn("pa", (col("n_a") + 1).cast("double") / (col("ta") + col("nb")))
      .withColumn("pb", (col("n_b") + 1).cast("double") / (col("tb") + col("nb")))
    sm.select(col("bucket"), col("n_a"), col("n_b"),
      round(col("pa") + lit(1e-9), 4).as("p_a"),
      round(col("pb") + lit(1e-9), 4).as("p_b"),
      round((col("pa") - col("pb")) * log(col("pa") / col("pb"))
        + lit(1e-9), 4).as("psi_term"))
  }

  /** Token-level vocabulary drift between two corpus shards — the
    * companion of [[psiDrift]] at the term dimension (did the *language*
    * move, not just the lengths?): per-shard counts over the top-`k`
    * terms by total frequency, Laplace-smoothed shares within the top-k
    * mass, per-term KL contribution p_a·ln(p_a/p_b). Corpus-scale work is
    * ONE (word) partial agg + TakeOrderedAndProject; the share/KL math
    * runs on the k-row bounded relation. Output per term: (word, n_a,
    * n_b, p_a, p_b, kl_term), 4-dp.
    */
  def klVocabDrift(docs: DataFrame, shardA: Column, k: Int): DataFrame = {
    val top = docs
      .select(when(shardA, 1L).otherwise(0L).as("in_a"),
        explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
      .groupBy("word")
      .agg(sum("in_a").as("n_a"), (count(lit(1)) - sum("in_a")).as("n_b"))
      .orderBy((col("n_a") + col("n_b")).desc, col("word")).limit(k)
    val w = Window.partitionBy()
    top
      .withColumn("ta", sum("n_a").over(w))
      .withColumn("tb", sum("n_b").over(w))
      .withColumn("nk", count(lit(1)).over(w))
      .withColumn("pa", (col("n_a") + 1).cast("double") / (col("ta") + col("nk")))
      .withColumn("pb", (col("n_b") + 1).cast("double") / (col("tb") + col("nk")))
      .select(col("word"), col("n_a"), col("n_b"),
        round(col("pa") + lit(1e-9), 4).as("p_a"),
        round(col("pb") + lit(1e-9), 4).as("p_b"),
        round(col("pa") * log(col("pa") / col("pb")) + lit(1e-9), 4)
          .as("kl_term"))
  }

  /** Jensen-Shannon vocabulary drift between two doc shards over the same
    * top-k terms as [[klVocabDrift]] — the SYMMETRIC, bounded ([0, ln 2])
    * companion the drift dashboard actually alerts on (KL blows up on
    * vanishing terms; JS never does). Per term, with m = (p_a + p_b)/2:
    * js_term = ½·p_a·ln(p_a/m) + ½·p_b·ln(p_b/m), rounded at the output
    * boundary only (the klVocabDrift float contract: smoothed
    * probabilities are single IEEE divisions, the ln product is one
    * fixed-operand-order expression). JS(corpus) = Σ js_term.
    */
  def jsVocabDrift(docs: DataFrame, shardA: Column, k: Int): DataFrame = {
    val top = docs
      .select(when(shardA, 1L).otherwise(0L).as("in_a"),
        explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
      .groupBy("word")
      .agg(sum("in_a").as("n_a"), (count(lit(1)) - sum("in_a")).as("n_b"))
      .orderBy((col("n_a") + col("n_b")).desc, col("word")).limit(k)
    val w = Window.partitionBy()
    val pa = (col("n_a") + 1).cast("double") / (col("ta") + col("nk"))
    val pb = (col("n_b") + 1).cast("double") / (col("tb") + col("nk"))
    val m = (pa + pb) / lit(2.0)
    top
      .withColumn("ta", sum("n_a").over(w))
      .withColumn("tb", sum("n_b").over(w))
      .withColumn("nk", count(lit(1)).over(w))
      .select(col("word"), col("n_a"), col("n_b"),
        round(pa + lit(1e-9), 4).as("p_a"),
        round(pb + lit(1e-9), 4).as("p_b"),
        round((pa * log(pa / m) + pb * log(pb / m)) / lit(2.0) + lit(1e-9), 4)
          .as("js_term"))
  }

  /** Per-document gram novelty vs the corpus in doc_id order: the share
    * of a document's distinct word 3-grams that IT introduces (its
    * doc_id is the gram's corpus-wide minimum) — the freshness screen an
    * incremental-ingest pipeline runs to find documents contributing
    * nothing new (novel_share ≈ 0 ⇒ recombination of seen text). Same
    * tokenization as the MinHash shingles (space-split word 3-grams,
    * distinct per doc). Scale shape: the gram relation partial-aggs to
    * (gram, min doc) — the hot-gram hub combines map-side — and joins
    * back gram-keyed; no doc×doc comparisons anywhere.
    */
  def gramNovelty(docs: DataFrame): DataFrame = {
    val grams = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(0, size(toks) - 3),
          |  i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"""
          .stripMargin))).as("g"))
    val firstSeen = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(firstSeen, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams") + lit(1e-9),
          4).as("novel_share"))
  }

  /** k-anonymity audit over transcript quasi-identifiers — the privacy
    * gate a corpus release runs before shipping: every (role, tool,
    * length-bucket) equivalence class reports its size k; classes with
    * k < kMin are re-identification risks and flagged for suppression.
    * One hash aggregate over the corpus (partial agg, group cardinality
    * bounded by |roles|·|tools|·16 buckets, never by rows); all-integer
    * output plus the exact-rational risk = 1/k, 4-dp-quantized.
    * Output: (role, tool, len_bucket, k, suppress, risk).
    */
  def kAnonymity(transcripts: DataFrame, kMin: Long = 5L): DataFrame =
    transcripts
      .select(col("role"), coalesce(col("tool"), lit("none")).as("tool"),
        least(floor(length(col("text")) / 64), lit(15L)).as("len_bucket"))
      .groupBy("role", "tool", "len_bucket")
      .agg(count(lit(1)).as("k"))
      .select(col("role"), col("tool"), col("len_bucket"), col("k"),
        (col("k") < kMin).as("suppress"),
        round(lit(1.0) / col("k") + lit(1e-9), 4).as("risk"))

  /** Good-Turing / Chao1 vocabulary coverage grade (Good 1953; Chao 1984):
    * from the word-count relation alone — total tokens N, vocabulary V,
    * singletons f₁, doubletons f₂ — the unseen-probability mass
    * p₀ = f₁/N (how much of the next shard's tokens will be new words)
    * and the Chao1 richness estimate V + f₁²/(2f₂) (how big the true
    * vocabulary is). The coverage-planning numbers a tokenizer-training
    * pipeline reads before freezing a vocab. One corpus pass (word
    * partial-agg) + a one-row reduce; f₂=0 yields NULL chao1 (estimator
    * undefined — kept NULL rather than the +∞ convention).
    */
  def goodTuring(docs: DataFrame): DataFrame =
    docs
      .select(explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        round(col("f1").cast("double") / col("n_tokens") + lit(1e-9), 4)
          .as("p_unseen"),
        when(col("f2") > 0,
          round(col("vocab") + (col("f1") * col("f1")).cast("double") /
            (lit(2L) * col("f2")) + lit(1e-9), 4)).as("chao1"))

  /** Heaps'-law fit (Heaps 1978): vocabulary growth V(N) ≈ k·N^β along
    * the doc_id-ordered ingest prefix — the projection a tokenizer/vocab
    * budget is planned against ([[goodTuring]] answers "how much is
    * unseen NOW", this answers "how fast does it keep growing"). Per doc:
    * token count and newly-introduced word count (first_doc = min doc_id
    * per word — the gramNovelty attribution shape), cumulated in doc
    * order; the OLS fit of ln V on ln N runs on 4-dp-quantized logs with
    * exact integer sums (the predictors contract). An EVALUATOR at the
    * |docs| grain: the cumsum window walks the doc-level census (run on
    * a shard/sample when |docs| alone exceeds one task). One row:
    * (n_docs, n_tokens, vocab, beta, ln_k).
    *
    * Bound: the OLS sums are int64, and n·Σxy grows as
    * n_docs²·(10^4·ln n_tokens)², so it passes 2^63 at a few 10^4 docs
    * (32,197 docs of one new word each; 23,723 of 40). Past it Spark's
    * ANSI arithmetic raises ARITHMETIC_OVERFLOW (Round5aaSpec), as the
    * DuckDB oracle's BIGINT arithmetic does; neither wraps. Fit a sample
    * or a shard of a larger corpus.
    */
  def heapsLaw(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
    val perDocT = tok.groupBy("doc_id").agg(count(lit(1)).as("t"))
    val firstDoc = tok.groupBy("word").agg(min("doc_id").as("fd"))
      .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("v"))
    val w = Window.partitionBy().orderBy("doc_id")
    val pts = perDocT.join(firstDoc, Seq("doc_id"), "left")
      .withColumn("cn", sum("t").over(w))
      .withColumn("cv", sum(coalesce(col("v"), lit(0L))).over(w))
      .select(
        q4(log(col("cn").cast("double"))).as("x"),
        q4(log(col("cv").cast("double"))).as("y"))
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .join(tok.agg(count(lit(1)).as("n_tokens"),
        countDistinct("word").as("vocab")), lit(true))
      .select(col("n").as("n_docs"), col("n_tokens"), col("vocab"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")) + lit(1e-9), 4)
          .as("beta"),
        round((col("sy").cast("double") -
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          (col("n") * lit(10000d)) + lit(1e-9), 4).as("ln_k"))
  }

  /** Simpson (Herfindahl) vocabulary concentration: Σ(c/N)² = Σc²/N² with
    * the numerator an exact BIGINT sum, plus the effective vocabulary
    * size 1/Simpson — the "how top-heavy is this corpus's token mass"
    * number next to zipf's slope. One corpus pass + a one-row reduce.
    */
  def simpsonConcentration(docs: DataFrame): DataFrame =
    docs
      .select(explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c") * col("c")).as("c2"))
      .select(col("n_tokens"), col("vocab"),
        round(col("c2").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens")) + lit(1e-9), 4)
          .as("simpson"),
        round(col("n_tokens").cast("double") * col("n_tokens") / col("c2")
          + lit(1e-9), 4).as("eff_vocab"))

  /** l-diversity audit over the k-anonymity quasi-identifier groups
    * (Machanavajjhala et al. 2007 — the release gate k-anonymity alone
    * cannot provide: a group can be k-large yet reveal everyone's
    * sensitive value if it is constant). QI = (role, length-bucket);
    * sensitive attribute = tool. Per QI group: size k, distinct-l, and
    * entropy H = Σ (c/k)·ln(k/c) with each cell's ln quantized to integer
    * ten-thousandths before the exact weighted sum (entropy l-diversity
    * holds iff H ≥ ln l_min). Two bounded hash aggs — the sensitive-cell
    * relation is |roles|·16·|tools| rows.
    */
  def lDiversity(transcripts: DataFrame, lMin: Long = 2L): DataFrame = {
    val cells = transcripts
      .select(col("role"),
        least(floor(length(col("text")) / 64), lit(15L)).as("len_bucket"),
        coalesce(col("tool"), lit("none")).as("sensitive"))
      .groupBy("role", "len_bucket", "sensitive")
      .agg(count(lit(1)).as("c"))
    val groups = cells.groupBy("role", "len_bucket")
      .agg(sum("c").as("k"), count(lit(1)).as("l_distinct"))
    cells.join(groups, Seq("role", "len_bucket"))
      .withColumn("hq",
        col("c") * round(log(col("k").cast("double") / col("c")) * lit(10000d))
          .cast("long"))
      .groupBy(col("role"), col("len_bucket"), col("k"), col("l_distinct"))
      .agg(sum("hq").as("hsum"))
      .select(col("role"), col("len_bucket"), col("k"), col("l_distinct"),
        round(col("hsum").cast("double") / (col("k") * lit(10000d))
          + lit(1e-9), 4).as("h_nats"),
        (col("l_distinct") >= lMin).as("diverse"))
  }

  /** Retrieval-quality evaluation of the [[bm25]] index — MRR and NDCG@k
    * (Järvelin & Kekäläinen 2002) against binary relevance = "document
    * contains EVERY query term" (the all-terms conjunctive label, computed
    * exactly from the same token relation the index uses). The k ≤ 10 rank
    * discounts 1/log₂(r+1) are SHARED 4-dp LITERALS in both engines — no
    * runtime log anywhere — so DCG is a sum of ≤ k exact constants (r4
    * guard at the boundary). Corpus-sized work is the bm25 scoring itself
    * plus one distinct-token pass; everything after runs on |queries|·k
    * rows. Output per query: (qid, n_rel, hits, first_rel_rank, mrr, dcg,
    * idcg, ndcg); queries with an empty relevance set drop.
    */
  def retrievalEval(docs: DataFrame, queries: Seq[(Int, String)],
      k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 10, "discount literals cover k <= 10")
    val spark = docs.sparkSession
    import spark.implicits._
    val disc = Seq(1.0, 0.6309, 0.5, 0.4307, 0.3869,
      0.3562, 0.3333, 0.3155, 0.3010, 0.2891)
    val top = bm25(docs, queries, k)
    val tok = docs.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), w -> w != '')")).as("term"))
      .distinct()
    val q = queries.toDF("qid", "qtext")
      .select(col("qid"),
        explode(expr("filter(split(qtext, ' '), w -> w != '')")).as("term"))
      .distinct()
    val qn = q.groupBy("qid").agg(count(lit(1)).as("nq"))
    val rel = tok.join(broadcast(q), "term")
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("c"))
      .join(broadcast(qn), "qid")
      .filter(col("c") === col("nq")).select("qid", "doc_id")
    val relc = rel.groupBy("qid").agg(count(lit(1)).as("n_rel"))
    val discArr = array(disc.map(lit): _*)
    val m = top.join(rel, Seq("qid", "doc_id"))
      .withColumn("disc", element_at(discArr, col("rn")))
      .groupBy("qid")
      .agg(count(lit(1)).as("hits"),
        min(col("rn").cast("long")).as("frr"),
        sum("disc").as("dcg0"))
    val idealExpr = expr(
      s"""aggregate(slice(array(${disc.mkString(", ")}), 1,
         |  int(least($k, n_rel))), cast(0 as double), (a, x) -> a + x)"""
        .stripMargin)
    relc.filter(col("n_rel") > 0)
      .withColumn("idcg0", idealExpr)
      .join(m, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("frr"), lit(-1L)).as("first_rel_rank"),
        round(coalesce(lit(1.0) / col("frr"), lit(0.0)) + lit(1e-9), 4)
          .as("mrr"),
        round(coalesce(col("dcg0"), lit(0.0)) + lit(1e-9), 4).as("dcg"),
        round(col("idcg0") + lit(1e-9), 4).as("idcg"),
        round(coalesce(col("dcg0"), lit(0.0)) / col("idcg0") + lit(1e-9), 4)
          .as("ndcg"))
  }

  /** Flesch reading-ease score per document — the classic readability
    * quality signal (Flesch 1948; the Gopher/quality batteries grade
    * length and repetition, this grades sentence/word complexity):
    *   206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    * with the standard library-free syllable proxy = vowel-group count
    * ([AEIOUYaeiouy]+ runs, the hyphenation-algorithm baseline), and
    * sentences = max(1, terminal-punctuation runs). All three counts are
    * integers from one regexp pass each (map-only, no shuffle); the score
    * is ONE fixed-operand-order float expression, 4-dp at the boundary —
    * and can be negative on run-on text, so the oracle carries the −0.0
    * normalizer. Output: (doc_id, n_words, n_sentences, n_syllables,
    * flesch).
    */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(expr("filter(split(text, ' '), w -> w != '')")).cast("long")
          .as("n_words"),
        greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+"))
          .cast("long")).as("n_sentences"),
        regexp_count(col("text"), lit("[AEIOUYaeiouy]+")).cast("long")
          .as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))
          + lit(1e-9), 4))

  /** RAG chunking: split each document into token windows of `chunkSize`
    * tokens stepping by `chunkSize − overlap` (consecutive chunks share
    * `overlap` tokens — the retrieval-context standard so a fact straddling
    * a boundary survives in at least one chunk). Tokenization is the
    * engine's single-space rule (split-on-' ', the txt_tokens contract —
    * consecutive-space empties kept, so the join-back reproduces the
    * original text exactly and the md5 is a faithful chunk fingerprint).
    * Chunk count = 1 + max(0, ⌈(n − chunkSize)/stride⌉) via integer
    * floor-division — every emitted column is integer/string/md5; no
    * rounding contract at all. Map-only (no shuffle, no window): the
    * explode is embarrassingly parallel and output rows ≈ n_tok/stride per
    * doc — at 100 TB this is a pure scan→project pipeline that Spark
    * schedules per input split. Output: (doc_id, chunk_idx, tok_start,
    * tok_end, n_tok, chunk_md5), 1-based inclusive token positions.
    */
  def chunkDocs(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize >= 2 && overlap >= 0 && overlap < chunkSize,
      "need chunkSize >= 2 and 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("nc", lit(1L) + greatest(lit(0L),
        floor((col("n") - chunkSize + (stride - 1)) / lit(stride))
          .cast("long")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
      .withColumn("tok_start", lit(1L) + col("chunk_idx") * stride)
      .withColumn("tok_end",
        least(col("tok_start") + (chunkSize - 1), col("n")))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        col("tok_end"), (col("tok_end") - col("tok_start") + 1).as("n_tok"),
        md5(concat_ws(" ", slice(col("toks"), col("tok_start").cast("int"),
          (col("tok_end") - col("tok_start") + 1).cast("int")))
          .cast("binary")).as("chunk_md5"))
  }

  /** Token-weighted duplication inflation — the "how much of my token
    * budget is duplicate mass" corpus ledger (the cost-facing companion of
    * [[graft.operators.Dedup.clusterStats]]'s doc-count view): group by
    * exact text hash, weight each group by its token count. ONE hash
    * aggregate (partial agg; a 10^9-copy clone storm is one group row) +
    * one single-row reduce. All-integer except the final inflation ratio
    * (total/canonical tokens, one division, 4-dp). Output one row:
    * (n_docs, n_unique_texts, n_dup_docs, total_tokens, canonical_tokens,
    * wasted_tokens, inflation).
    */
  def dupInflation(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("h")
      .agg(count(lit(1)).as("copies"), min("n_tok").as("n_tok"))
      .agg(sum("copies").as("n_docs"),
        count(lit(1)).as("n_unique_texts"),
        sum(col("copies") - 1).as("n_dup_docs"),
        sum(col("n_tok") * col("copies")).as("total_tokens"),
        sum("n_tok").as("canonical_tokens"),
        sum(col("n_tok") * (col("copies") - 1)).as("wasted_tokens"))
      .withColumn("inflation",
        round(col("total_tokens").cast("double") / col("canonical_tokens")
          + lit(1e-9), 4))
}
