package graft.driver

import org.apache.spark.sql.functions._
import graft.operators.{Features, Summary, TextAnalysis}
import Fixtures._
import OracleSql._

/** Text: document quality filters, tokenizers, language models,
  * retrieval and corpus statistics over `documents`.
  */
private[driver] object TextQueries {

  val all: Seq[DriverQuery] = Seq(
    // tokenizer fertility per predicted language: BPE-ish regex tokens per
    // whitespace word — the vocab-coverage signal multilingual tokenizer
    // work reads; integer sums, one bounded-cardinality aggregate
    DriverQuery("txt_fertility", ((s, dir) => {
      val li = TextAnalysis.langId(documents(s, dir))
        .select("doc_id", "lang_pred")
      val tc = TextAnalysis.tokenCountsRegex(documents(s, dir))
      li.join(tc, "doc_id").groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("n_bpe").cast("double") / sum("n_words") + lit(1e-9), 4)
            .as("fertility"))
        .orderBy("lang_pred")
    }),
      ("""WITH t AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks,
          |         len(string_split(text, ' ')) AS n_words,
          |         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
          |  FROM documents
          |), h AS (
          |  SELECT doc_id, n_words, n_bpe,
          |    len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS hits_en,
          |    len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ein'))) AS hits_de,
          |    len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'y', 'que'))) AS hits_es,
          |    len(list_filter(toks, x -> x IN ('le', 'la', 'et', 'les', 'des'))) AS hits_fr,
          |    len(list_filter(toks, x -> x IN ('的', '是', '了'))) AS hits_zh
          |  FROM t
          |), g AS (
          |  SELECT *, greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS gm FROM h
          |), lp AS (
          |  SELECT doc_id, n_words, n_bpe,
          |    CASE WHEN hits_en = gm AND gm > 0 THEN 'en'
          |         WHEN hits_de = gm AND gm > 0 THEN 'de'
          |         WHEN hits_es = gm AND gm > 0 THEN 'es'
          |         WHEN hits_fr = gm AND gm > 0 THEN 'fr'
          |         WHEN hits_zh = gm AND gm > 0 THEN 'zh'
          |         ELSE 'und' END AS lang_pred
          |  FROM g
          |)
          |SELECT lang_pred, count(*) AS n_docs,
          |  round(cast(sum(n_bpe) AS double) / sum(n_words) + 1e-9, 4) AS fertility
          |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin)),
    // language ID by stopword-hit heuristic
    DriverQuery("txt_langid", ((s, dir) =>
      TextAnalysis.langId(documents(s, dir)).orderBy("doc_id")),
      ("""WITH t AS (
          |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
          |         len(string_split(text, ' ')) AS n_tok
          |  FROM documents
          |), h AS (
          |  SELECT doc_id, lang, n_tok,
          |    len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS hits_en,
          |    len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ein'))) AS hits_de,
          |    len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'y', 'que'))) AS hits_es,
          |    len(list_filter(toks, x -> x IN ('le', 'la', 'et', 'les', 'des'))) AS hits_fr,
          |    len(list_filter(toks, x -> x IN ('的', '是', '了'))) AS hits_zh
          |  FROM t
          |), g AS (
          |  SELECT *, greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS gm FROM h
          |)
          |SELECT doc_id, lang,
          |  CASE WHEN hits_en = gm AND gm > 0 THEN 'en'
          |       WHEN hits_de = gm AND gm > 0 THEN 'de'
          |       WHEN hits_es = gm AND gm > 0 THEN 'es'
          |       WHEN hits_fr = gm AND gm > 0 THEN 'fr'
          |       WHEN hits_zh = gm AND gm > 0 THEN 'zh'
          |       ELSE 'und' END AS lang_pred,
          |  round(cast(gm AS double) / n_tok + 1e-9, 4) AS score
          |FROM g ORDER BY doc_id""".stripMargin)),
    // quality scoring + token counting
    DriverQuery("txt_quality", ((s, dir) =>
      TextAnalysis.quality(documents(s, dir))
        .join(TextAnalysis.tokenCounts(documents(s, dir)), "doc_id")
        .orderBy("doc_id")),
      ("""WITH t AS (
          |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
          |), b AS (
          |  SELECT doc_id, text, toks, len(toks) AS n_tok,
          |    list_sum(list_transform(toks, x -> cast(length(x) AS double))) / len(toks) AS mean_len,
          |    cast(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS double) / len(toks) AS stop_ratio,
          |    cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS double) / length(text) AS digit_ratio,
          |    len(toks) AS n_words,
          |    CAST(list_sum(list_transform(toks, x -> cast(ceil(length(x) / 4.0) AS int))) AS BIGINT) AS n_subwords
          |  FROM t
          |)
          |SELECT doc_id, n_tok,
          |  round(mean_len + 1e-9, 4) AS mean_len,
          |  round(stop_ratio + 1e-9, 4) AS stop_ratio,
          |  round(digit_ratio + 1e-9, 4) AS digit_ratio,
          |  round(0.4 * least(1.0, cast(n_tok AS double) / 100) +
          |        0.3 * (1.0 - stop_ratio) +
          |        0.3 * least(1.0, mean_len / 8) + 1e-9, 4) AS q_score,
          |  n_words, n_subwords
          |FROM b ORDER BY doc_id""".stripMargin)),
    // the full Gopher rule battery (Rae+ '21 A1) as per-rule integer flags;
    // five planted docs each violate a different rule (word count, symbol
    // ratio + alpha, alpha + stopwords, bullet lines, ellipsis lines) so
    // every flag fails somewhere and passes elsewhere
    DriverQuery("txt_gopher", ((s, dir) => {
      import s.implicits._
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.gopherRules(
          d.unionByName(gopherPlants.toDF("doc_id", "text")))
        .orderBy("doc_id")
    }),
      (s"""WITH base AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT * FROM (VALUES
          |    ${gopherPlantsSql}) v(doc_id, text)
          |), f AS (
          |  SELECT doc_id,
          |    regexp_split_to_array(text, '\\s+') AS ws,
          |    string_split(text, chr(10)) AS lns,
          |    length(text) - length(replace(text, '#', '')) AS nhash,
          |    len(regexp_extract_all(text, '\\.\\.\\.')) AS nell3
          |  FROM base
          |), c AS (
          |  SELECT doc_id,
          |    CAST(len(ws) AS bigint) AS n_words,
          |    CAST(list_sum(list_transform(ws, w -> length(w))) AS bigint) AS sum_wlen,
          |    CAST(nhash + nell3 AS bigint) AS n_sym,
          |    CAST(len(list_filter(lns, l -> regexp_matches(l, '^[-*•]'))) AS bigint) AS n_bullet,
          |    CAST(len(lns) AS bigint) AS n_lines,
          |    CAST(len(list_filter(lns, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS bigint) AS n_ellend,
          |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS bigint) AS n_alpha,
          |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
          |                         s -> list_contains(ws, s))) AS bigint) AS n_stop
          |  FROM f
          |), fl AS (
          |  SELECT doc_id, n_words,
          |    CAST(n_words >= 50 AND n_words <= 100000 AS int) AS f_wc,
          |    CAST(sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10 AS int) AS f_mwl,
          |    CAST(n_sym * 10 <= n_words AS int) AS f_sym,
          |    CAST(n_bullet * 10 <= n_lines AS int) AS f_bullet,
          |    CAST(n_ellend * 10 <= n_lines * 3 AS int) AS f_ell,
          |    CAST(n_alpha * 5 >= n_words * 4 AS int) AS f_alpha,
          |    CAST(n_stop >= 2 AS int) AS f_stop
          |  FROM c
          |)
          |SELECT doc_id, n_words, f_wc, f_mwl, f_sym, f_bullet, f_ell,
          |       f_alpha, f_stop,
          |       f_wc * f_mwl * f_sym * f_bullet * f_ell * f_alpha * f_stop AS keep
          |FROM fl ORDER BY doc_id""".stripMargin)),
    // content fingerprint (normalized md5)
    DriverQuery("txt_fingerprint", ((s, dir) =>
      TextAnalysis.fingerprint(documents(s, dir)).orderBy("doc_id")),
      ("""SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin)),
    // rolling-hash winnowing fingerprint (k=8 grams, w=4 windows)
    DriverQuery("txt_winnow", ((s, dir) =>
      TextAnalysis.winnow(documents(s, dir)).orderBy("doc_id")),
      ("""WITH t AS (
          |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS s FROM documents
          |), ok AS (
          |  SELECT doc_id, s, length(s) AS n FROM t WHERE length(s) >= 11
          |), g AS (
          |  SELECT doc_id,
          |    list_transform(generate_series(1, n - 7), i ->
          |      substr(md5(substr(s, cast(i AS int), 8)), 1, 8)) AS hx
          |  FROM ok
          |), hh AS (
          |  SELECT doc_id,
          |    list_transform(hx, x ->
          |      CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |        cast(strpos('0123456789abcdef', substr(x, cast(d AS int), 1)) - 1 AS bigint)
          |          * cast(pow(16, 8 - d) AS bigint))) AS BIGINT)) AS h
          |  FROM g
          |), win AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(generate_series(1, len(h) - 3), i ->
          |      list_min(h[cast(i AS int):cast(i + 3 AS int)]))) AS fp
          |  FROM hh
          |)
          |SELECT doc_id, len(fp) AS n_fp, CAST(list_sum(fp) AS BIGINT) AS fp_sum,
          |       CAST(list_min(fp) AS BIGINT) AS fp_min,
          |       CAST(list_max(fp) AS BIGINT) AS fp_max
          |FROM win ORDER BY doc_id""".stripMargin)),
    // whitespace + BPE-ish regex token counts
    DriverQuery("txt_tokens", ((s, dir) =>
      TextAnalysis.tokenCountsRegex(documents(s, dir)).orderBy("doc_id")),
      ("""SELECT doc_id,
          |  len(string_split(text, ' ')) AS n_words,
          |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
          |FROM documents ORDER BY doc_id""".stripMargin)),
    // PII triage counts over a deterministically PII-planted corpus (the
    // raw corpus contains none — planting keeps the query non-vacuous; the
    // oracle mirrors the planting)
    DriverQuery("txt_pii", ((s, dir) =>
      TextAnalysis.piiCounts(piiPlanted(s, dir)).orderBy("doc_id")),
      ("""WITH pii AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 13 = 0 THEN ' contact bob@example.com now' ELSE '' END ||
          |    CASE WHEN doc_id % 17 = 0 THEN ' see https://example.org/p/1 and http://ex.net/q' ELSE '' END ||
          |    CASE WHEN doc_id % 19 = 0 THEN ' call +14155551234' ELSE '' END AS text
          |  FROM documents
          |), cnts AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          |    len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_-]+')) AS n_url,
          |    len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS n_phone
          |  FROM pii
          |)
          |SELECT doc_id, n_email, n_url, n_phone,
          |       n_email + n_url + n_phone > 0 AS has_pii
          |FROM cnts ORDER BY doc_id""".stripMargin)),
    // PII redaction (the scrub txt_pii triages for) over the same planted
    // corpus: typed placeholders + per-doc redaction totals, text equality
    // checked against the oracle's mirrored 3-stage regexp_replace
    DriverQuery("txt_redact", ((s, dir) =>
      TextAnalysis.piiRedact(piiPlanted(s, dir)).orderBy("doc_id")),
      // mirrored staged replace, same fixed email -> URL -> phone order;
      // each pattern counted on the text ENTERING its stage (replacements
      // actually made — an email-internal "+digits" is never phone-counted)
      ("""WITH pii AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 13 = 0 THEN ' contact bob@example.com now' ELSE '' END ||
          |    CASE WHEN doc_id % 17 = 0 THEN ' see https://example.org/p/1 and http://ex.net/q' ELSE '' END ||
          |    CASE WHEN doc_id % 19 = 0 THEN ' call +14155551234' ELSE '' END AS text
          |  FROM documents
          |), s1 AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
          |  FROM pii
          |), s2 AS (
          |  SELECT doc_id, n_email,
          |    len(regexp_extract_all(t1, 'https?://[A-Za-z0-9./_-]+')) AS n_url,
          |    regexp_replace(t1, 'https?://[A-Za-z0-9./_-]+', '<URL>', 'g') AS t2
          |  FROM s1
          |)
          |SELECT doc_id,
          |  regexp_replace(t2, '\+[0-9]{7,15}', '<PHONE>', 'g') AS text,
          |  n_email + n_url + len(regexp_extract_all(t2, '\+[0-9]{7,15}')) AS n_redacted
          |FROM s2 ORDER BY doc_id""".stripMargin)),
    // char-trigram LM quality score, self-scored against the corpus
    DriverQuery("txt_lm", ((s, dir) =>
      TextAnalysis.lmScore(documents(s, dir).select("doc_id", "text"))
        .orderBy("doc_id")),
      // self-scored trigram LM: every doc trigram is in the corpus vocabulary
      // by construction, so the join is total; quantized logprobs make the
      // mean order-invariant
      ("""WITH tris AS (
          |  SELECT doc_id,
          |    unnest(list_transform(generate_series(1, length(text) - 2),
          |                          i -> substring(text, i, 3))) AS tri
          |  FROM documents
          |), tot AS (
          |  SELECT cast(sum(greatest(length(text) - 2, 0)) AS double) AS t FROM documents
          |), lp AS (
          |  SELECT tri, round(ln(cast(count(*) AS double) / (SELECT t FROM tot)) + 1e-9, 6) AS lp
          |  FROM tris GROUP BY tri
          |)
          |SELECT doc_id, count(*) AS n_tri, round(avg(lp) + 1e-9, 4) + 0.0 AS lm_score
          |FROM tris JOIN lp USING (tri)
          |GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // CCNet head/middle/tail perplexity bucketing: per-language tercile
    // boundaries (exact parallel quantiles — never a per-language rank
    // window), shuffle-free threshold labeling
    DriverQuery("txt_ppl_bucket", ((s, dir) =>
      TextAnalysis.pplBuckets(documents(s, dir)).orderBy("doc_id")),
      ("""WITH tris AS (
          |  SELECT doc_id,
          |    unnest(list_transform(generate_series(1, length(text) - 2),
          |                          i -> substring(text, i, 3))) AS tri
          |  FROM documents
          |), tot AS (
          |  SELECT cast(sum(greatest(length(text) - 2, 0)) AS double) AS t FROM documents
          |), lp AS (
          |  SELECT tri, round(ln(cast(count(*) AS double) / (SELECT t FROM tot)) + 1e-9, 6) AS lp
          |  FROM tris GROUP BY tri
          |), sc AS (
          |  SELECT t.doc_id, d.lang, round(avg(t_lp.lp) + 1e-9, 4) + 0.0 AS lm_score
          |  FROM tris t JOIN lp t_lp USING (tri)
          |  JOIN documents d ON d.doc_id = t.doc_id
          |  GROUP BY t.doc_id, d.lang
          |), q AS (
          |  SELECT lang, quantile_cont(lm_score, 1.0/3) AS b1,
          |         quantile_cont(lm_score, 2.0/3) AS b2
          |  FROM sc GROUP BY lang
          |)
          |SELECT sc.doc_id, sc.lang, sc.lm_score,
          |  CASE WHEN sc.lm_score >= q.b2 THEN 'head'
          |       WHEN sc.lm_score >= q.b1 THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM sc JOIN q USING (lang)
          |ORDER BY sc.doc_id""".stripMargin)),
    // top-50 vocabulary (tokenizer prep): count desc, word tie-break
    DriverQuery("txt_vocab", ((s, dir) =>
      TextAnalysis.vocabTopK(documents(s, dir), 50)),
      ("""SELECT word, count(*) AS cnt FROM (
          |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          |WHERE word != '' GROUP BY 1
          |ORDER BY cnt DESC, word LIMIT 50""".stripMargin)),
    // lexical diversity per doc: type-token ratio + hapax share — low TTR
    // flags template/spam; doc-bounded groups, embarrassingly parallel
    DriverQuery("txt_ttr", ((s, dir) =>
      TextAnalysis.typeTokenRatio(documents(s, dir)).orderBy("doc_id")),
      ("""WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
          |  FROM documents
          |), wc AS (
          |  SELECT doc_id, word, cast(count(*) AS bigint) AS cnt
          |  FROM tok WHERE word != '' GROUP BY 1, 2
          |), a AS (
          |  SELECT doc_id, cast(sum(cnt) AS bigint) AS n_tokens,
          |    cast(count(*) AS bigint) AS n_types,
          |    cast(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS bigint)
          |      AS n_hapax
          |  FROM wc GROUP BY 1
          |)
          |SELECT doc_id, n_tokens, n_types,
          |  round(cast(n_types AS double) / n_tokens + 1e-9, 4) AS ttr,
          |  n_hapax,
          |  round(cast(n_hapax AS double) / n_tokens + 1e-9, 4) AS hapax_share
          |FROM a ORDER BY doc_id""".stripMargin)),
    // Zipf rank-frequency OLS over the top-64 vocab (natural text ≈ −1);
    // ln values integer-quantized before summation — exact cross-engine
    DriverQuery("txt_zipf", ((s, dir) =>
      TextAnalysis.zipfFit(documents(s, dir), 64)),
      ("""WITH v AS (
          |  SELECT word, cast(count(*) AS bigint) AS cnt FROM (
          |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          |  WHERE word != '' GROUP BY 1
          |  ORDER BY cnt DESC, word LIMIT 64
          |), r AS (
          |  SELECT
          |    cast(round(ln(cast(row_number() OVER (ORDER BY cnt DESC, word)
          |      AS double)) * 10000) AS bigint) AS x,
          |    cast(round(ln(cast(cnt AS double)) * 10000) AS bigint) AS y
          |  FROM v
          |), s AS (
          |  SELECT cast(count(*) AS bigint) AS n,
          |    cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
          |    cast(sum(x * x) AS bigint) AS sxx,
          |    cast(sum(x * y) AS bigint) AS sxy,
          |    cast(sum(y * y) AS bigint) AS syy
          |  FROM r
          |)
          |SELECT n AS n_terms,
          |  round(cast(n * sxy - sx * sy AS double)
          |        / cast(n * sxx - sx * sx AS double) + 1e-9, 4) AS slope,
          |  round(cast(sy * sxx - sx * sxy AS double)
          |        / (cast(n * sxx - sx * sx AS double) * 10000.0) + 1e-9, 4)
          |    AS intercept,
          |  round(cast(n * sxy - sx * sy AS double)
          |        * cast(n * sxy - sx * sy AS double)
          |        / (cast(n * sxx - sx * sx AS double)
          |           * cast(n * syy - sy * sy AS double)) + 1e-9, 4) AS r2
          |FROM s""".stripMargin),
      plan = Some(SinglePartitionAllowed("rank window + one-row reduce over the k-row top vocab"))),
    // PSI ingest-drift monitor between the even/odd doc shards over log2
    // length buckets (Laplace-smoothed shares, ≤64-bucket relation)
    DriverQuery("txt_psi", ((s, dir) =>
      TextAnalysis.psiDrift(documents(s, dir),
        pmod(col("doc_id"), lit(2)) === 0).orderBy("bucket")),
      ("""WITH b AS (
          |  SELECT CASE WHEN n_chars <= 0 THEN -1
          |              ELSE length(printf('%b', n_chars)) - 1 END AS bucket,
          |    cast(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS bigint)
          |      AS n_a,
          |    cast(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS bigint)
          |      AS n_b
          |  FROM documents GROUP BY 1
          |), sm AS (
          |  SELECT bucket, n_a, n_b,
          |    cast(n_a + 1 AS double)
          |      / (sum(n_a) OVER () + count(*) OVER ()) AS pa,
          |    cast(n_b + 1 AS double)
          |      / (sum(n_b) OVER () + count(*) OVER ()) AS pb
          |  FROM b
          |)
          |SELECT bucket, n_a, n_b,
          |  round(pa + 1e-9, 4) AS p_a,
          |  round(pb + 1e-9, 4) AS p_b,
          |  round((pa - pb) * ln(pa / pb) + 1e-9, 4) AS psi_term
          |FROM sm ORDER BY bucket""".stripMargin),
      plan = Some(SinglePartitionAllowed("share window over the ≤64-row log2-bucket census"))),
    // token-level vocabulary drift between the even/odd doc shards over
    // the top-64 terms — psi's companion at the term dimension
    DriverQuery("txt_kl_drift", ((s, dir) =>
      TextAnalysis.klVocabDrift(documents(s, dir),
        pmod(col("doc_id"), lit(2)) === 0, 64).orderBy("word")),
      ("""WITH tok AS (
          |  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_a,
          |    unnest(string_split(text, ' ')) AS word
          |  FROM documents
          |), top AS (
          |  SELECT word, cast(sum(in_a) AS bigint) AS n_a,
          |    cast(count(*) - sum(in_a) AS bigint) AS n_b
          |  FROM tok WHERE word != '' GROUP BY 1
          |  ORDER BY n_a + n_b DESC, word LIMIT 64
          |), sm AS (
          |  SELECT word, n_a, n_b,
          |    cast(n_a + 1 AS double)
          |      / (sum(n_a) OVER () + count(*) OVER ()) AS pa,
          |    cast(n_b + 1 AS double)
          |      / (sum(n_b) OVER () + count(*) OVER ()) AS pb
          |  FROM top
          |)
          |SELECT word, n_a, n_b,
          |  round(pa + 1e-9, 4) AS p_a,
          |  round(pb + 1e-9, 4) AS p_b,
          |  round(pa * ln(pa / pb) + 1e-9, 4) AS kl_term
          |FROM sm ORDER BY word""".stripMargin),
      plan = Some(SinglePartitionAllowed("share window over the k-row top-term relation"))),
    // corpus-composition report: per (lang, source) doc/word/subword/char
    // counts + corpus-word share — the table data-mixing decisions read
    DriverQuery("txt_budget", ((s, dir) =>
      TextAnalysis.corpusBudget(documents(s, dir)).orderBy("lang", "source")),
      ("""WITH t AS (
          |  SELECT lang, source, text, string_split(text, ' ') AS toks FROM documents
          |), cells AS (
          |  SELECT lang, source,
          |    CAST(count(*) AS bigint) AS n_docs,
          |    CAST(sum(len(toks)) AS bigint) AS n_words,
          |    CAST(sum(CAST(list_sum(list_transform(toks,
          |        x -> cast(ceil(length(x) / 4.0) AS int))) AS bigint)) AS bigint) AS n_subwords,
          |    CAST(sum(length(text)) AS bigint) AS n_chars
          |  FROM t GROUP BY lang, source
          |)
          |SELECT lang, source, n_docs, n_words, n_subwords, n_chars,
          |  round(cast(n_words AS double) / sum(n_words) OVER () * 100 + 1e-9, 4)
          |    AS pct_words
          |FROM cells ORDER BY lang, source""".stripMargin),
      plan = Some(SinglePartitionAllowed("corpus-word total over |langs|×|sources| cells"))),
    // encoding-sanity screen: U+FFFD and control chars planted on the %23
    // and %29 residues; valid multi-byte text stays clean
    DriverQuery("txt_mojibake", ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d.withColumn("text", concat(col("text"),
        when(col("doc_id") % 23 === 0, lit(" bad�byte")).otherwise(lit("")),
        when(col("doc_id") % 29 === 0, lit(" x\u0001y\u0007")).otherwise(lit(""))))
      TextAnalysis.encodingScreen(planted).orderBy("doc_id")
    }),
      ("""WITH m AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 23 = 0 THEN ' bad' || chr(65533) || 'byte' ELSE '' END ||
          |    CASE WHEN doc_id % 29 = 0 THEN ' x' || chr(1) || 'y' || chr(7) ELSE '' END AS text
          |  FROM documents
          |), c AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(text, chr(65533))) AS n_repl,
          |    len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS n_ctrl
          |  FROM m
          |)
          |SELECT doc_id, n_repl, n_ctrl, n_repl + n_ctrl = 0 AS is_clean
          |FROM c ORDER BY doc_id""".stripMargin)),
    // count-min sketch frequency estimation: d=4 × w=1024 mergeable count
    // relation, probed by common + absent words; overcount column exposes
    // the one-sided error (est ≥ true always)
    DriverQuery("txt_cms", ((s, dir) =>
      Summary.cmsWordFreq(documents(s, dir), cmsProbes).orderBy("word")),
      (s"""WITH wf AS (
          |  SELECT word FROM (
          |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          |  WHERE word <> ''
          |), ri AS (
          |  SELECT word, unnest(generate_series(0, 3)) AS r FROM wf
          |), cells AS (
          |  SELECT r, ${u32Sql("cast(r AS varchar) || ':' || word")} % 1024 AS pos
          |  FROM ri
          |), cms AS (
          |  SELECT r, pos, CAST(count(*) AS bigint) AS cnt
          |  FROM cells GROUP BY r, pos
          |), probes AS (
          |  SELECT * FROM (VALUES ${Fixtures.cmsProbes
               .map(p => s"('$p')").mkString(", ")}) AS t(word)
          |), pri AS (
          |  SELECT word, unnest(generate_series(0, 3)) AS r FROM probes
          |), pcells AS (
          |  SELECT word, r,
          |    ${u32Sql("cast(r AS varchar) || ':' || word")} % 1024 AS pos
          |  FROM pri
          |), est AS (
          |  SELECT word, CAST(min(coalesce(cms.cnt, 0)) AS bigint) AS cms_est
          |  FROM pcells LEFT JOIN cms USING (r, pos) GROUP BY word
          |), truth AS (
          |  SELECT word, CAST(count(*) AS bigint) AS true_cnt FROM wf GROUP BY word
          |)
          |SELECT e.word, coalesce(t.true_cnt, CAST(0 AS bigint)) AS true_cnt,
          |       e.cms_est,
          |       e.cms_est - coalesce(t.true_cnt, CAST(0 AS bigint)) AS overcount
          |FROM est e LEFT JOIN truth t USING (word)
          |ORDER BY e.word""".stripMargin)),
    // model-based quality filter (FineWeb-Edu shape): logistic model trained
    // on the Gopher word-count rule from cheap surface features, then the
    // whole corpus scored by the model and the top-2/5 retained (rank
    // gate — non-degenerate under any score distribution)
    DriverQuery("txt_quality_model", ((s, dir) =>
      TextAnalysis.qualityModelFilter(documents(s, dir))),
      qualityModelSql),
    // DSIR importance resampling: en docs act as the target distribution,
    // the rest are raw; hashed uni+bigram bucket models, integer-micro
    // log-ratio accumulation, top-50 most target-like raw docs
    DriverQuery("txt_dsir", ((s, dir) =>
      TextAnalysis.dsirSelect(documents(s, dir), col("lang") === "en")),
      (s"""WITH t AS (
          |  SELECT doc_id, lang = 'en' AS is_target,
          |         string_split(text, ' ') AS toks
          |  FROM documents
          |), g AS (
          |  SELECT doc_id, is_target, unnest(toks) AS gram FROM t
          |  UNION ALL
          |  SELECT doc_id, is_target,
          |         unnest(list_transform(generate_series(1, len(toks) - 1),
          |                i -> toks[i] || ' ' || toks[i + 1])) AS gram
          |  FROM t
          |), b AS (
          |  SELECT doc_id, is_target,
          |         ${u32Sql("gram")} % 1024 AS bkt
          |  FROM g
          |), counts AS (
          |  SELECT bkt,
          |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS bigint) AS ct,
          |    CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS bigint) AS cr
          |  FROM b GROUP BY bkt
          |), tot AS (
          |  SELECT CAST(sum(ct) AS bigint) AS nt, CAST(sum(cr) AS bigint) AS nr
          |  FROM counts
          |), lr AS (
          |  SELECT bkt,
          |    CAST(round((ln(ct + 1) - ln(nt + 1024) - ln(cr + 1) + ln(nr + 1024))
          |               * 1e6) AS bigint) AS lr_micro
          |  FROM counts, tot
          |)
          |SELECT doc_id, CAST(count(*) AS bigint) AS n_grams,
          |       CAST(sum(lr_micro) AS bigint) AS w_micro,
          |       round(cast(sum(lr_micro) AS double) / count(*) / 1e6 + 1e-9, 4) + 0.0
          |         AS mean_lr
          |FROM b JOIN lr USING (bkt)
          |WHERE NOT is_target
          |GROUP BY doc_id
          |ORDER BY mean_lr DESC, doc_id LIMIT 50""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "DSIR bucket-model totals over the bucket-bounded relation"))),
    // inverted-index collection statistics: per-term df + cf, top-100
    DriverQuery("txt_index", ((s, dir) =>
      TextAnalysis.indexStats(documents(s, dir), 100)),
      ("""WITH tok AS (
          |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
          |  FROM documents
          |), tfr AS (
          |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
          |)
          |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
          |FROM tfr GROUP BY 1
          |ORDER BY df DESC, cf DESC, term LIMIT 100""".stripMargin)),
    // BM25 keyword retrieval: three fixed keyword queries, top-10 docs each
    // (quantized-idf determinism contract; per-doc term fold in term order)
    DriverQuery("txt_bm25", ((s, dir) =>
      TextAnalysis.bm25(documents(s, dir), bm25Queries, k = 10)
        .orderBy("qid", "rn")),
      bm25Sql,
      plan = Some(SinglePartitionAllowed(
        "BM25 corpus stats: one-row document count and length totals"))),
    // benchmark decontamination: docs with doc_id % 17 == 0 act as the held
    // benchmark corpus; the rest are training docs scored by 3-gram overlap
    DriverQuery("txt_decontam", ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.decontaminate(
        d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0)).orderBy("doc_id")
    }),
      // benchmark decontamination: distinct 3-gram overlap vs the doc_id%17
      // benchmark slice; sum(CASE) is HUGEINT in DuckDB → cast to BIGINT
      ("""WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          |), g AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(generate_series(1, len(ws) - 2), i ->
          |      array_to_string(ws[cast(i AS int):cast(i + 2 AS int)], ' '))) AS gs
          |  FROM d WHERE len(ws) >= 3
          |), bench AS (
          |  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 17 = 0
          |), train AS (
          |  SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 17 <> 0
          |), j AS (
          |  SELECT t.doc_id, count(*) AS n_gram,
          |    CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
          |  FROM train t LEFT JOIN bench b USING (gram)
          |  GROUP BY t.doc_id
          |)
          |SELECT doc_id, n_gram, n_hit,
          |  round(cast(n_hit AS double) / n_gram + 1e-9, 4) AS contam_ratio,
          |  cast(n_hit AS double) / n_gram >= 0.5 AS contaminated
          |FROM j ORDER BY doc_id""".stripMargin)),
    // Gopher repetition metrics (dup-word / top-word / dup-2,3-gram fractions)
    DriverQuery("txt_repetition", ((s, dir) =>
      TextAnalysis.repetition(documents(s, dir)).orderBy("doc_id")),
      // Gopher repetition metrics: integer counts per doc, int/int ratios
      // (exact-rounding in both engines)
      ("""WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          |), c AS (
          |  SELECT doc_id, len(ws) AS n_tok, len(list_distinct(ws)) AS n_dist,
          |    list_max(list_transform(list_distinct(ws), w ->
          |      len(list_filter(ws, x -> x = w)))) AS max_c,
          |    list_transform(generate_series(1, len(ws) - 1), i ->
          |      ws[cast(i AS int)] || ' ' || ws[cast(i + 1 AS int)]) AS g2,
          |    list_transform(generate_series(1, len(ws) - 2), i ->
          |      array_to_string(ws[cast(i AS int):cast(i + 2 AS int)], ' ')) AS g3
          |  FROM d
          |)
          |SELECT doc_id, n_tok, n_dist, max_c,
          |  round(cast(n_tok - n_dist AS double) / n_tok + 1e-9, 4) AS frac_dup_word,
          |  round(cast(max_c AS double) / n_tok + 1e-9, 4) AS frac_top_word,
          |  CASE WHEN len(g2) > 0
          |    THEN round(cast(len(g2) - len(list_distinct(g2)) AS double) / len(g2) + 1e-9, 4)
          |    ELSE cast(0.0 AS double) END AS frac_dup_2g,
          |  CASE WHEN len(g3) > 0
          |    THEN round(cast(len(g3) - len(list_distinct(g3)) AS double) / len(g3) + 1e-9, 4)
          |    ELSE cast(0.0 AS double) END AS frac_dup_3g
          |FROM c ORDER BY doc_id""".stripMargin)),
    // per-source quota: top-15 docs per source by (n_chars desc, doc_id)
    DriverQuery("txt_domain_cap", ((s, dir) =>
      TextAnalysis.domainCap(documents(s, dir), 15).orderBy("doc_id")),
      // per-source quota: ranked window, identical tie-break
      ("""WITH r AS (
          |  SELECT doc_id, source, n_chars,
          |    row_number() OVER (PARTITION BY source
          |                       ORDER BY n_chars DESC, doc_id) AS rk
          |  FROM documents
          |)
          |SELECT doc_id, source, n_chars, rk FROM r
          |WHERE rk <= 15 ORDER BY doc_id""".stripMargin)),
    // deterministic mix sampling: en downsampled to 0.35, rest kept
    DriverQuery("txt_mix_sample", ((s, dir) =>
      TextAnalysis.mixSample(documents(s, dir), Map("en" -> 0.35))
        .orderBy("doc_id")),
      // deterministic mix sampling: u32 from the first 8 md5 hex digits
      // (digit-sum recipe — DuckDB has no conv()), thresholds replayed as the
      // engine's exact integer constants
      (s"""WITH u AS (
          |  SELECT doc_id, lang,
          |    CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |      cast(strpos('0123456789abcdef',
          |             substr(substr(md5(cast(doc_id AS varchar)), 1, 8),
          |                    cast(d AS int), 1)) - 1 AS bigint)
          |        * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) AS u
          |  FROM documents
          |)
          |SELECT doc_id, lang, u FROM u
          |WHERE u < ${graft.operators.TextAnalysis.mixThresholdSql(
             Map("en" -> 0.35), 1.0)}
          |ORDER BY doc_id""".stripMargin)),
    // temperature-scaled source mixing (p_i ∝ n_i^(1/2), target 3/5 of the
    // corpus): per-source keep rates from corpus counts, hash-deterministic
    // keep — the oracle recomputes the identical integer thresholds from
    // the same correctly-rounded sqrt/·// sequence. The fixture's sources
    // are uniform, so a deterministic skew is planted (single-digit sources
    // keep only doc_id<100 → 5 docs each vs 25+ → ≥5:1 imbalance) to make
    // the √n up-weighting non-vacuous: small sources land a strictly
    // higher keep rate (capped at 1.0 — the cap branch is exercised too).
    // (doc_id >= 100, not a %-residue: source ≡ doc_id mod 20, so any
    // residue-based skew either empties a source or keeps it whole)
    DriverQuery("txt_mix_temp", ((s, dir) =>
      TextAnalysis.mixTemperature(documents(s, dir)
          .filter(!(length(col("source")) === 4 && col("doc_id") >= 100)))
        .orderBy("doc_id")),
      ("""WITH sk AS (
          |  SELECT doc_id, source FROM documents
          |  WHERE NOT (length(source) = 4 AND doc_id >= 100)
          |), c AS (
          |  SELECT source, CAST(count(*) AS bigint) AS n
          |  FROM sk GROUP BY source
          |), d AS (
          |  SELECT list_reduce(list(sqrt(CAST(n AS double)) ORDER BY source),
          |           (a, b) -> a + b) AS denom,
          |         CAST(sum(n) AS bigint) * 3 // 5 AS target
          |  FROM c
          |), thr AS (
          |  SELECT c.source,
          |    CAST(floor(least(1.0,
          |      (CAST(d.target AS double) * (sqrt(CAST(c.n AS double)) / d.denom))
          |        / CAST(c.n AS double)) * 4294967296.0) AS bigint) AS t
          |  FROM c, d
          |), u AS (
          |  SELECT doc_id, source,
          |    CAST(list_sum(list_transform(generate_series(1, 8), dd ->
          |      cast(strpos('0123456789abcdef',
          |             substr(substr(md5(cast(doc_id AS varchar)), 1, 8),
          |                    cast(dd AS int), 1)) - 1 AS bigint)
          |        * cast(pow(16, 8 - dd) AS bigint))) AS BIGINT) AS u
          |  FROM sk
          |)
          |SELECT u.doc_id, u.source, u.u
          |FROM u JOIN thr ON u.source = thr.source
          |WHERE u.u < thr.t
          |ORDER BY u.doc_id""".stripMargin)),
    // distributed BPE tokenizer training: 8 merges over the word-count
    // relation, greedy double-space replace contract (no float anywhere)
    DriverQuery("txt_bpe", ((s, dir) =>
      TextAnalysis.bpeTrain(documents(s, dir), 8).orderBy("step")),
      // BPE training replay: 8 unrolled merge stages, each = weighted pair
      // counts over the segmented vocab + deterministic best-pair + the same
      // double-space replace; pure string/integer ops, zero float contract
      bpeSql),
    // tokenizer ENCODE with the trained merges: train 8 merges, collect the
    // (vocab-sized) merge list, apply it corpus-wide in one map-only pass
    DriverQuery("txt_bpe_encode", ((s, dir) => {
      val d = documents(s, dir)
      val merges = TextAnalysis.bpeTrain(d, 8).orderBy("step")
        .select("pair").collect().toSeq
        .map { r => val Array(a, b) = r.getString(0).split(" "); (a, b) }
      TextAnalysis.bpeEncode(d, merges).orderBy("doc_id")
    }),
      bpeEncodeSql),
    // sequence packing: concat-and-chunk into capacity-128 sequences over
    // 8 parallel shards
    DriverQuery("txt_pack", ((s, dir) =>
      TextAnalysis.packSequences(documents(s, dir), capacity = 128,
        nShards = 8).orderBy("doc_id")),
      // sequence packing: per-shard running token offsets (window cumsum),
      // integer-only; the windowed sum is HUGEINT in DuckDB → cast
      ("""WITH p AS (
          |  SELECT doc_id, doc_id % 8 AS shard,
          |    cast(len(string_split(text, ' ')) AS bigint) AS n_tok
          |  FROM documents
          |), o AS (
          |  SELECT doc_id, shard, n_tok,
          |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          |      AS "offset"
          |  FROM p
          |)
          |SELECT doc_id, shard, n_tok, "offset",
          |  "offset" // 128 AS seq_id,
          |  "offset" % 128 AS seq_offset,
          |  ("offset" + n_tok - 1) // 128 <> "offset" // 128 AS straddles
          |FROM o ORDER BY doc_id""".stripMargin)),
    // END-TO-END curation composition: quality floor + repetition ceiling +
    // benchmark decontamination (bench slice excluded) + exact-dedup
    // canonicals + deterministic en-downsampling — the full corpus-prep
    // pipeline as one plan (each verb keeps its own oracle; this query
    // verifies they COMPOSE)
    DriverQuery("txt_curate", ((s, dir) => {
      val d = documents(s, dir)
      val q = TextAnalysis.quality(d).select(col("doc_id"), col("q_score"))
      val rep = TextAnalysis.repetition(d)
        .select(col("doc_id"), col("frac_dup_2g"))
      val dec = TextAnalysis.decontaminate(
        d.filter(col("doc_id") % 17 =!= 0),
        d.filter(col("doc_id") % 17 === 0))
        .select(col("doc_id"), col("contaminated"))
      val canon = TextAnalysis.fingerprint(d)
        .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
      TextAnalysis.mixSample(d, Map("en" -> 0.5)).select("doc_id", "lang")
        .join(q, "doc_id").join(rep, "doc_id")
        .join(dec, "doc_id").join(canon, "doc_id")
        .filter(col("q_score") >= 0.5 && col("frac_dup_2g") <= 0.8 &&
          !col("contaminated"))
        .select(col("doc_id"), col("lang"), col("q_score"))
        .orderBy("doc_id")
    }),
      // end-to-end curation composition — every stage replays its own verb's
      // established SQL fragment
      ("""WITH t AS (
          |  SELECT doc_id, lang, text, string_split(text, ' ') AS ws FROM documents
          |), q AS (
          |  SELECT doc_id,
          |    round(0.4 * least(1.0, cast(len(ws) AS double) / 100) +
          |          0.3 * (1.0 - cast(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS double) / len(ws)) +
          |          0.3 * least(1.0, (list_sum(list_transform(ws, x -> cast(length(x) AS double))) / len(ws)) / 8) + 1e-9, 4) AS q_score
          |  FROM t
          |), rep AS (
          |  SELECT doc_id,
          |    CASE WHEN len(ws) - 1 > 0
          |      THEN round(cast(len(ws) - 1 - len(list_distinct(
          |             list_transform(generate_series(1, len(ws) - 1), i ->
          |               ws[cast(i AS int)] || ' ' || ws[cast(i + 1 AS int)]))) AS double)
          |           / (len(ws) - 1) + 1e-9, 4)
          |      ELSE cast(0.0 AS double) END AS frac_dup_2g
          |  FROM t
          |), g AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(generate_series(1, len(ws) - 2), i ->
          |      array_to_string(ws[cast(i AS int):cast(i + 2 AS int)], ' '))) AS gs
          |  FROM t WHERE len(ws) >= 3
          |), bench AS (
          |  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 17 = 0
          |), train AS (
          |  SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 17 <> 0
          |), dec AS (
          |  SELECT tr.doc_id,
          |    CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS double)
          |      / count(*) >= 0.5 AS contaminated
          |  FROM train tr LEFT JOIN bench b USING (gram)
          |  GROUP BY tr.doc_id
          |), canon AS (
          |  SELECT min(doc_id) AS doc_id FROM documents
          |  GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
          |), samp AS (
          |  SELECT doc_id, lang FROM (
          |    SELECT doc_id, lang,
          |      CAST(list_sum(list_transform(generate_series(1, 8), d ->
          |        cast(strpos('0123456789abcdef',
          |               substr(substr(md5(cast(doc_id AS varchar)), 1, 8),
          |                      cast(d AS int), 1)) - 1 AS bigint)
          |          * cast(pow(16, 8 - d) AS bigint))) AS BIGINT) AS u
          |    FROM documents)
          |  WHERE u < CASE WHEN lang = 'en' THEN 2147483648 ELSE 4294967296 END
          |)
          |SELECT s.doc_id, s.lang, q.q_score
          |FROM samp s
          |JOIN q USING (doc_id) JOIN rep USING (doc_id)
          |JOIN dec USING (doc_id) JOIN canon USING (doc_id)
          |WHERE q.q_score >= 0.5 AND rep.frac_dup_2g <= 0.8 AND NOT dec.contaminated
          |ORDER BY doc_id""".stripMargin)),
    // exact frequent words by two-pass Misra-Gries: per-partition k-counter
    // summaries (no shuffle) → broadcast-semi-join recount of candidates
    // only — the full-vocabulary groupBy never happens at corpus scale
    DriverQuery("txt_heavy", ((s, dir) =>
      Summary.heavyHitters(
        documents(s, dir).select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= ""),
        "w", k = 200).orderBy("item")),
      ("""WITH wf AS (
          |  SELECT word FROM (
          |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          |  WHERE word <> ''
          |)
          |SELECT word AS item, count(*) AS cnt
          |FROM wf GROUP BY 1
          |HAVING count(*) * 200 > (SELECT count(*) FROM wf)
          |ORDER BY item""".stripMargin),
      plan = Some(ShuffleBudget(2, "MG candidates are broadcast; recount + total"))),
    // word-frequency movers between corpus halves at Misra-Gries cost
    // (censored-at-threshold contract; integer deltas, no rounding)
    DriverQuery("txt_heavy_change", ((s, dir) => {
      val words = documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      Features.heavyChange(
        words.filter(pmod(col("doc_id"), lit(2)) === 0).select("w"),
        words.filter(pmod(col("doc_id"), lit(2)) === 1).select("w"),
        "w", k = 200, topN = 40).orderBy("item")
    }),
      ("""WITH wa AS (
          |  SELECT word FROM (
          |    SELECT unnest(string_split(text, ' ')) AS word
          |    FROM documents WHERE doc_id % 2 = 0)
          |  WHERE word <> ''
          |), wb AS (
          |  SELECT word FROM (
          |    SELECT unnest(string_split(text, ' ')) AS word
          |    FROM documents WHERE doc_id % 2 = 1)
          |  WHERE word <> ''
          |), ha AS (
          |  SELECT word AS item, cast(count(*) AS bigint) AS cnt_a
          |  FROM wa GROUP BY 1
          |  HAVING count(*) * 200 > (SELECT count(*) FROM wa)
          |), hb AS (
          |  SELECT word AS item, cast(count(*) AS bigint) AS cnt_b
          |  FROM wb GROUP BY 1
          |  HAVING count(*) * 200 > (SELECT count(*) FROM wb)
          |), j AS (
          |  SELECT coalesce(ha.item, hb.item) AS item,
          |    coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
          |  FROM ha FULL OUTER JOIN hb ON ha.item = hb.item
          |), top AS (
          |  SELECT item, cnt_a, cnt_b, cnt_b - cnt_a AS delta
          |  FROM j ORDER BY abs(cnt_b - cnt_a) DESC, item LIMIT 40
          |)
          |SELECT * FROM top ORDER BY item""".stripMargin)),
    // pairwise cross-source overlap via per-source KMV bottom-64 gram
    // signatures + the merged-bottom-k Jaccard estimator — ONE corpus
    // pass, all pairwise math on the |sources|·k signature relation
    DriverQuery("txt_source_overlap", ((s, dir) =>
      TextAnalysis.sourceOverlap(documents(s, dir), n = 3, k = 64)
        .orderBy("sa", "sb")),
      (s"""WITH tk AS (
          |  SELECT source, string_split(text, ' ') AS toks FROM documents
          |), sg AS (
          |  SELECT DISTINCT source,
          |    unnest(list_transform(generate_series(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
          |      AS gram
          |  FROM tk WHERE len(toks) >= 3
          |), hh AS (
          |  SELECT source, gram, ${u32Sql("gram")} AS h FROM sg
          |), sig AS (
          |  SELECT source, gram, h FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY source ORDER BY h, gram) AS rk FROM hh)
          |  WHERE rk <= 64
          |), pr AS (
          |  SELECT a.source AS sa, b.source AS sb
          |  FROM (SELECT DISTINCT source FROM sig) a
          |  JOIN (SELECT DISTINCT source FROM sig) b ON a.source < b.source
          |), un AS (
          |  SELECT pr.sa, pr.sb, s.gram, s.h, 1 AS in_a, 0 AS in_b
          |  FROM pr JOIN sig s ON s.source = pr.sa
          |  UNION ALL
          |  SELECT pr.sa, pr.sb, s.gram, s.h, 0, 1
          |  FROM pr JOIN sig s ON s.source = pr.sb
          |), m AS (
          |  SELECT sa, sb, gram, h,
          |    max(in_a) AS in_a, max(in_b) AS in_b
          |  FROM un GROUP BY 1, 2, 3, 4
          |), x AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY sa, sb ORDER BY h, gram) AS rk FROM m
          |)
          |SELECT sa, sb, cast(count(*) AS bigint) AS k_used,
          |  cast(sum(in_a * in_b) AS bigint) AS n_both,
          |  round(cast(sum(in_a * in_b) AS double) / count(*) + 1e-9, 4)
          |    AS est_jaccard
          |FROM x WHERE rk <= 64 GROUP BY 1, 2 ORDER BY sa, sb""".stripMargin)),
    // per-document distinct-3-gram novelty vs the corpus in doc_id order
    DriverQuery("txt_gram_novelty", ((s, dir) =>
      TextAnalysis.gramNovelty(documents(s, dir)).orderBy("doc_id")),
      ("""WITH docs AS (
          |  SELECT doc_id, text FROM documents
          |), tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM docs
          |), sgl AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
          |      AS sh
          |  FROM tk WHERE len(toks) >= 3
          |), shx AS (
          |  SELECT doc_id, unnest(sh) AS g FROM sgl
          |), fs AS (
          |  SELECT g, min(doc_id) AS first_doc FROM shx GROUP BY 1
          |)
          |SELECT s.doc_id, count(*) AS n_grams,
          |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_novel,
          |  round(CAST(sum(CASE WHEN f.first_doc = s.doc_id
          |                      THEN 1 ELSE 0 END) AS double) / count(*)
          |        + 1e-9, 4) AS novel_share
          |FROM shx s JOIN fs f ON s.g = f.g
          |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // k-anonymity audit over (role, tool, length-bucket) quasi-identifiers
    DriverQuery("txt_k_anon", ((s, dir) =>
      TextAnalysis.kAnonymity(transcripts(s, dir), kMin = 5L)
        .orderBy("role", "tool", "len_bucket")),
      (cte +
        """
          |SELECT role, coalesce(tool, 'none') AS tool,
          |  least(CAST(floor(length(text) / 64) AS BIGINT), 15)
          |    AS len_bucket,
          |  count(*) AS k, count(*) < 5 AS suppress,
          |  round(1.0 / count(*) + 1e-9, 4) AS risk
          |FROM transcripts GROUP BY 1, 2, 3
          |ORDER BY 1, 2, 3""".stripMargin)),
    // RAG chunking: 32-token windows, 8-token overlap, md5 fingerprints
    DriverQuery("txt_chunks", ((s, dir) =>
      TextAnalysis.chunkDocs(documents(s, dir), chunkSize = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),
      // chunk grid is pure integer arithmetic; md5 over the token-slice
      // join-back (split-on-' ' keeps consecutive-space empties in BOTH
      // engines, so the rejoin reproduces the original text span exactly)
      ("WITH docs AS (SELECT doc_id, text FROM documents)" + chunksSql +
        """
          |SELECT doc_id, chunk_idx,
          |  1 + chunk_idx * 24 AS tok_start,
          |  least(1 + chunk_idx * 24 + 31, n) AS tok_end,
          |  least(1 + chunk_idx * 24 + 31, n) - (1 + chunk_idx * 24) + 1 AS n_tok,
          |  md5(array_to_string(
          |    toks[(1 + chunk_idx * 24):(least(1 + chunk_idx * 24 + 31, n))],
          |    ' ')) AS chunk_md5
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),
    // token-weighted duplication-inflation ledger over the planted corpus
    DriverQuery("txt_dup_inflation", ((s, dir) =>
      TextAnalysis.dupInflation(docsPlanted(s, dir))),
      // every sum CAST to BIGINT (the DuckDB HUGEINT render lesson);
      // inflation >= 1 so no -0.0 exposure
      (plantedCte +
        """, g AS (
          |  SELECT md5(text) AS h, count(*) AS copies,
          |    min(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tok
          |  FROM docs GROUP BY 1
          |)
          |SELECT CAST(sum(copies) AS BIGINT) AS n_docs,
          |  count(*) AS n_unique_texts,
          |  CAST(sum(copies - 1) AS BIGINT) AS n_dup_docs,
          |  CAST(sum(n_tok * copies) AS BIGINT) AS total_tokens,
          |  CAST(sum(n_tok) AS BIGINT) AS canonical_tokens,
          |  CAST(sum(n_tok * (copies - 1)) AS BIGINT) AS wasted_tokens,
          |  round(CAST(sum(n_tok * copies) AS DOUBLE) / sum(n_tok)
          |    + 1e-9, 4) AS inflation
          |FROM g""".stripMargin),
      plan = Some(SinglePartitionAllowed("one-row corpus ledger over the dup-group relation"))),
    // chunk-level duplication over the planted corpus: shared chunk_md5
    // groups — the RAG-store dedup answer at chunk granularity
    DriverQuery("txt_chunk_dedup", ((s, dir) =>
      TextAnalysis.chunkDocs(docsPlanted(s, dir), chunkSize = 32, overlap = 8)
        .groupBy("chunk_md5")
        .agg(count(lit(1)).as("copies"),
          count_distinct(col("doc_id")).as("n_docs"),
          min("doc_id").as("first_doc"))
        .filter(col("copies") > 1)
        .orderBy("chunk_md5")),
      (plantedCte + chunksSql +
        """, chh AS (
          |  SELECT doc_id,
          |    md5(array_to_string(
          |      toks[(1 + chunk_idx * 24):(least(1 + chunk_idx * 24 + 31, n))],
          |      ' ')) AS chunk_md5
          |  FROM c
          |)
          |SELECT chunk_md5, count(*) AS copies,
          |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
          |FROM chh GROUP BY 1 HAVING count(*) > 1
          |ORDER BY chunk_md5""".stripMargin)),
    // Flesch reading-ease readability score per document
    DriverQuery("txt_readability", ((s, dir) =>
      TextAnalysis.readability(documents(s, dir)).orderBy("doc_id")),
      // flesch can be negative on run-on text -> +0.0 normalizer
      ("""WITH cnt AS (
          |  SELECT doc_id,
          |    CAST(len(list_filter(string_split(text, ' '), w -> w != ''))
          |      AS BIGINT) AS n_words,
          |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
          |      AS BIGINT)) AS n_sentences,
          |    CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+'))
          |      AS BIGINT) AS n_syllables
          |  FROM documents
          |)
          |SELECT doc_id, n_words, n_sentences, n_syllables,
          |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
          |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
          |    + 1e-9, 4) + 0.0 AS flesch
          |FROM cnt WHERE n_words > 0 ORDER BY doc_id""".stripMargin)),
    // retrieval-quality eval of the BM25 index: MRR + NDCG@10 against
    // all-terms binary relevance; rank discounts are shared 4-dp literals
    DriverQuery("txt_mrr", ((s, dir) =>
      TextAnalysis.retrievalEval(documents(s, dir), bm25Queries, k = 10)
        .orderBy("qid")),
      // MRR/NDCG@10 replay on the shared bm25 CTE chain; relevance =
      // all-query-terms-present computed from the same token relation
      (bm25Ctes +
        s""", top AS (
          |  SELECT qid, doc_id, rn FROM (
          |    SELECT qid, doc_id,
          |      row_number() OVER (PARTITION BY qid
          |                         ORDER BY score DESC, doc_id) AS rn
          |    FROM scored)
          |  WHERE rn <= 10
          |), dtok AS (
          |  SELECT DISTINCT doc_id, term FROM tok
          |), qcnt AS (
          |  SELECT qid, count(*) AS nq FROM q GROUP BY 1
          |), relx AS (
          |  SELECT q.qid, t.doc_id, count(*) AS c
          |  FROM dtok t JOIN q USING (term) GROUP BY 1, 2
          |), rel AS (
          |  SELECT r.qid, r.doc_id FROM relx r JOIN qcnt USING (qid)
          |  WHERE r.c = qcnt.nq
          |), relc AS (
          |  SELECT qid, count(*) AS n_rel FROM rel GROUP BY 1
          |), hitr AS (
          |  SELECT t.qid, t.rn, ${discCase("t.rn")} AS disc
          |  FROM top t JOIN rel r ON t.qid = r.qid AND t.doc_id = r.doc_id
          |), mq AS (
          |  SELECT qid, count(*) AS hits, CAST(min(rn) AS BIGINT) AS frr,
          |    sum(disc) AS dcg0
          |  FROM hitr GROUP BY 1
          |), ideal AS (
          |  SELECT c.qid, c.n_rel,
          |    list_sum(list_transform(generate_series(1,
          |      CAST(least(10, c.n_rel) AS BIGINT)),
          |      r -> ${discCase("r")})) AS idcg0
          |  FROM relc c WHERE c.n_rel > 0
          |)
          |SELECT i.qid, i.n_rel,
          |  coalesce(m.hits, 0) AS hits,
          |  coalesce(m.frr, -1) AS first_rel_rank,
          |  round(coalesce(1.0 / m.frr, 0.0) + 1e-9, 4) AS mrr,
          |  round(coalesce(m.dcg0, 0.0) + 1e-9, 4) AS dcg,
          |  round(i.idcg0 + 1e-9, 4) AS idcg,
          |  round(coalesce(m.dcg0, 0.0) / i.idcg0 + 1e-9, 4) AS ndcg
          |FROM ideal i LEFT JOIN mq m ON i.qid = m.qid
          |ORDER BY i.qid""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "|queries|-row eval: BM25's k-row top lists + 3-row metrics"))),
    // Jensen-Shannon vocabulary drift between even/odd doc shards over
    // the shared top-64 terms — the symmetric companion of txt_kl_drift
    DriverQuery("txt_js_drift", ((s, dir) =>
      TextAnalysis.jsVocabDrift(documents(s, dir),
        pmod(col("doc_id"), lit(2)) === 0, 64).orderBy("word")),
      // Jensen-Shannon drift: same smoothed shard probabilities as
      // txt_kl_drift, symmetric term vs the mixture m = (pa + pb)/2
      ("""WITH tok AS (
          |  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_a,
          |    unnest(string_split(text, ' ')) AS word
          |  FROM documents
          |), top AS (
          |  SELECT word, cast(sum(in_a) AS bigint) AS n_a,
          |    cast(count(*) - sum(in_a) AS bigint) AS n_b
          |  FROM tok WHERE word != '' GROUP BY 1
          |  ORDER BY n_a + n_b DESC, word LIMIT 64
          |), sm AS (
          |  SELECT word, n_a, n_b,
          |    cast(n_a + 1 AS double)
          |      / (sum(n_a) OVER () + count(*) OVER ()) AS pa,
          |    cast(n_b + 1 AS double)
          |      / (sum(n_b) OVER () + count(*) OVER ()) AS pb
          |  FROM top
          |)
          |SELECT word, n_a, n_b,
          |  round(pa + 1e-9, 4) AS p_a,
          |  round(pb + 1e-9, 4) AS p_b,
          |  round((pa * ln(pa / ((pa + pb) / 2.0))
          |         + pb * ln(pb / ((pa + pb) / 2.0))) / 2.0 + 1e-9, 4)
          |    AS js_term
          |FROM sm ORDER BY word""".stripMargin),
      plan = Some(SinglePartitionAllowed("share window over the k-row top-term relation"))),
    // l-diversity audit of the k-anonymity QI groups (sensitive = tool):
    // distinct-l + entropy-l with quantized-ln integer sums
    DriverQuery("txt_l_diversity", ((s, dir) =>
      TextAnalysis.lDiversity(transcripts(s, dir))
        .orderBy("role", "len_bucket")),
      // l-diversity: per-(role, len-bucket) QI group, sensitive = tool;
      // entropy from quantized-ln integer sums
      (cte +
        """, lc AS (
          |  SELECT role,
          |    least(CAST(floor(length(text) / 64) AS BIGINT), 15)
          |      AS len_bucket,
          |    COALESCE(tool, 'none') AS sensitive
          |  FROM transcripts
          |), cellsd AS (
          |  SELECT role, len_bucket, sensitive, CAST(count(*) AS BIGINT) AS c
          |  FROM lc GROUP BY 1, 2, 3
          |), grp AS (
          |  SELECT role, len_bucket, CAST(sum(c) AS BIGINT) AS k,
          |    CAST(count(*) AS BIGINT) AS l_distinct
          |  FROM cellsd GROUP BY 1, 2
          |), hj AS (
          |  SELECT d.role, d.len_bucket, g.k, g.l_distinct,
          |    d.c * CAST(round(ln(CAST(g.k AS DOUBLE) / d.c) * 10000.0)
          |      AS BIGINT) AS hq
          |  FROM cellsd d JOIN grp g USING (role, len_bucket)
          |)
          |SELECT role, len_bucket, k, l_distinct,
          |  round(CAST(CAST(sum(hq) AS BIGINT) AS DOUBLE)
          |        / (k * 10000.0) + 1e-9, 4) AS h_nats,
          |  (l_distinct >= 2) AS diverse
          |FROM hj GROUP BY 1, 2, 3, 4
          |ORDER BY role, len_bucket""".stripMargin)),
    // Good-Turing unseen mass + Chao1 vocabulary richness over the doc
    // corpus — the tokenizer-vocab coverage planning numbers
    DriverQuery("txt_good_turing", ((s, dir) =>
      TextAnalysis.goodTuring(documents(s, dir))),
      // Good-Turing / Chao1 vocabulary coverage numbers
      ("""WITH tok AS (
          |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
          |), wc AS (
          |  SELECT word, CAST(count(*) AS BIGINT) AS c
          |  FROM tok WHERE word != '' GROUP BY 1
          |)
          |SELECT n_tokens, vocab, f1, f2,
          |  round(CAST(f1 AS DOUBLE) / n_tokens + 1e-9, 4) AS p_unseen,
          |  CASE WHEN f2 > 0 THEN
          |    round(vocab + CAST(f1 * f1 AS DOUBLE) / (2 * f2) + 1e-9, 4)
          |  END AS chao1
          |FROM (
          |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS vocab,
          |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
          |  FROM wc)""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "one-row freq-of-freq reduce over the word-count relation (partial-agg " +
        "rows only)"))),
    // Heaps'-law V(N) ~ k*N^beta fit along the ingest prefix (quantized
    // log-log OLS on exact integer sums)
    DriverQuery("txt_heaps", ((s, dir) =>
      TextAnalysis.heapsLaw(documents(s, dir))),
      // Heaps fit: first-doc word attribution + cumulative log-log OLS on
      // 4-dp-quantized logs (exact integer sums)
      ("""WITH tokh AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
          |  FROM documents
          |), tk AS (
          |  SELECT doc_id, word FROM tokh WHERE word != ''
          |), pdt AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS t FROM tk GROUP BY 1
          |), fdc AS (
          |  SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS v
          |  FROM (SELECT word, min(doc_id) AS fd FROM tk GROUP BY 1)
          |  GROUP BY 1
          |), pts AS (
          |  SELECT
          |    CAST(floor(ln(CAST(cn AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
          |      AS x,
          |    CAST(floor(ln(CAST(cv AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
          |      AS y
          |  FROM (
          |    SELECT CAST(sum(t) OVER (ORDER BY p.doc_id) AS BIGINT) AS cn,
          |      CAST(sum(COALESCE(f.v, 0)) OVER (ORDER BY p.doc_id)
          |        AS BIGINT) AS cv
          |    FROM pdt p LEFT JOIN fdc f ON f.doc_id = p.doc_id)
          |), sums AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    CAST(sum(x * y) AS BIGINT) AS sxy,
          |    CAST(sum(x * x) AS BIGINT) AS sxx
          |  FROM pts
          |), tots AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
          |    CAST(count(DISTINCT word) AS BIGINT) AS vocab
          |  FROM tk
          |)
          |SELECT n AS n_docs, n_tokens, vocab,
          |  round(CAST(n * sxy - sx * sy AS DOUBLE)
          |        / (n * sxx - sx * sx) + 1e-9, 4) AS beta,
          |  round((CAST(sy AS DOUBLE)
          |         - (CAST(n * sxy - sx * sy AS DOUBLE)
          |            / (n * sxx - sx * sx)) * sx) / (n * 10000.0)
          |        + 1e-9, 4) AS ln_k
          |FROM sums CROSS JOIN tots""".stripMargin),
      plan = Some(SinglePartitionAllowed(
        "doc-grain cumsum walk + one-row OLS reduce (evaluator)"))),
    // Simpson/Herfindahl token concentration + effective vocabulary
    DriverQuery("txt_simpson", ((s, dir) =>
      TextAnalysis.simpsonConcentration(documents(s, dir))),
      // Simpson concentration: exact integer sum-of-squares, two boundary
      // divisions
      ("""WITH toks AS (
          |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
          |), wcs AS (
          |  SELECT word, CAST(count(*) AS BIGINT) AS c
          |  FROM toks WHERE word != '' GROUP BY 1
          |)
          |SELECT n_tokens, vocab,
          |  round(CAST(c2 AS DOUBLE)
          |        / (CAST(n_tokens AS DOUBLE) * n_tokens) + 1e-9, 4)
          |    AS simpson,
          |  round(CAST(n_tokens AS DOUBLE) * n_tokens / c2 + 1e-9, 4)
          |    AS eff_vocab
          |FROM (
          |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS vocab,
          |    CAST(sum(c * c) AS BIGINT) AS c2
          |  FROM wcs)""".stripMargin),
      plan = Some(SinglePartitionAllowed("one-row sum-of-squares reduce over the word census"))),
  )
}
