package graft.driver

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Select, Similarity}
import Fixtures._
import OracleSql._

/** Dedup: exact, MinHash/LSH, SimHash and semantic near-duplicate
  * detection over the planted document twins.
  */
private[driver] object DedupQueries {

  val all: Seq[DriverQuery] = Seq(
    // -- training-data pipeline ops over documents/embeddings --
    // exact dedup: hash-groupBy on content, keep smallest id
    DriverQuery("dd_exact", ((s, dir) =>
      Dedup.exact(docsPlanted(s, dir)).orderBy("text_md5")),
      (plantedCte +
        """
          |SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM docs GROUP BY 1 ORDER BY 1""".stripMargin)),
    // MinHash+LSH near-dup candidate pairs (md5 minhashes, banded join)
    DriverQuery("dd_minhash", ((s, dir) =>
      Dedup.minhashPairs(docsPlanted(s, dir)).orderBy("id1", "id2")),
      (plantedCte + shingleCtes + bandCtes +
        """
          |SELECT id1, id2 FROM pairs ORDER BY id1, id2""".stripMargin),
      plan = Some(ShuffleBudget(1, "banded equi-join, broadcast everything else"))),
    // bucket-capped LSH over the clone-storm cohort: oversized buckets emit
    // a hub star (O(n) rows) instead of all-pairs (O(n²)) — the 2000-clone
    // storm contributes exactly 1999 pairs instead of ~2M, small buckets
    // keep exact all-pairs semantics
    DriverQuery("dd_minhash_capped", ((s, dir) =>
      Dedup.minhashPairsCapped(docsStorm(s, dir), maxBucket = 64,
        distinctTexts = true) // clone storm: one kernel pass per distinct text
        .orderBy("id1", "id2")),
      (stormCte + shingleCtes + cappedPairsCte +
        """
          |SELECT id1, id2 FROM pairs ORDER BY id1, id2""".stripMargin)),
    // dedup groups under the storm: star-contraction CC over the capped
    // pairs resolves the 2000-clone hub within the round budget; emitted
    // groups filtered to size ≥ 4 (the storm + any real multi-dup families)
    DriverQuery("dd_storm_groups", ((s, dir) =>
      Dedup.components(Dedup.minhashPairsCapped(docsStorm(s, dir),
          maxBucket = 64, distinctTexts = true))
        .filter(col("group_sz") >= 4).orderBy("doc_id")),
      (stormCte.replaceFirst("WITH ", "WITH RECURSIVE ") + shingleCtes + cappedPairsCte +
        """, esym AS (
          |  SELECT id1 AS x, id2 AS y FROM pairs
          |  UNION
          |  SELECT id2 AS x, id1 AS y FROM pairs
          |), reach AS (
          |  SELECT x, y FROM (SELECT x, y FROM esym UNION SELECT x, x AS y FROM esym)
          |  UNION
          |  SELECT r.x, e.y FROM reach r JOIN esym e ON r.y = e.x
          |), comp AS (
          |  SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x
          |), csz AS (
          |  SELECT component, count(*) AS group_sz FROM comp GROUP BY 1
          |)
          |SELECT c.doc_id, c.component, c.doc_id = c.component AS is_canonical, s.group_sz
          |FROM comp c JOIN csz s USING (component)
          |WHERE s.group_sz >= 4 ORDER BY doc_id""".stripMargin)),
    // signature-only Jaccard estimate for the LSH candidates (Broder '97):
    // the screen that reads 8 minhashes per doc instead of re-shuffling
    // shingles — integer agree-count / 8, exact cross-engine
    DriverQuery("dd_minhash_est", ((s, dir) =>
      Dedup.minhashEstimate(docsPlanted(s, dir)).orderBy("id1", "id2")),
      (plantedCte + shingleCtes + bandCtes +
        """, est AS (
          |  SELECT p.id1, p.id2,
          |    CAST(list_sum(list_transform(generate_series(1, 8), j ->
          |      CASE WHEN a.m[j] = b.m[j] THEN 1 ELSE 0 END)) AS BIGINT) AS n_eq
          |  FROM pairs p
          |  JOIN mh a ON a.doc_id = p.id1
          |  JOIN mh b ON b.doc_id = p.id2
          |)
          |SELECT id1, id2, n_eq,
          |  round(CAST(n_eq AS double) / 8 + 1e-9, 4) AS est_jaccard
          |FROM est ORDER BY id1, id2""".stripMargin)),
    // n-gram Jaccard verification of the LSH candidates
    DriverQuery("dd_ngram_jaccard", ((s, dir) => {
      val d = docsPlanted(s, dir)
      Dedup.ngramJaccard(d, Dedup.minhashPairs(d)).orderBy("id1", "id2")
    }),
      (plantedCte + shingleCtes + bandCtes +
        """, shx AS (
          |  SELECT doc_id, unnest(sh) AS s FROM sgl
          |), sizes AS (
          |  SELECT doc_id, count(*) AS n FROM shx GROUP BY 1
          |), inter AS (
          |  SELECT p.id1, p.id2, count(*) AS n_inter
          |  FROM pairs p
          |  JOIN shx a ON a.doc_id = p.id1
          |  JOIN shx b2 ON b2.doc_id = p.id2 AND b2.s = a.s
          |  GROUP BY 1, 2
          |)
          |SELECT p.id1, p.id2,
          |  round(cast(coalesce(i.n_inter, 0) AS double) /
          |        (s1.n + s2.n - coalesce(i.n_inter, 0)) + 1e-9, 4) AS jaccard
          |FROM pairs p
          |LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
          |JOIN sizes s1 ON s1.doc_id = p.id1
          |JOIN sizes s2 ON s2.doc_id = p.id2
          |ORDER BY p.id1, p.id2""".stripMargin)),
    // EXACT similarity self-join (PPJoin-style prefix filter): every pair
    // with quantized gram-Jaccard >= 0.5, complete by the prefix-filtering
    // theorem, precise by the exact Jaccard filter — the no-false-negatives
    // dedup path (oracle enumerates candidates naively, proving the
    // prefix-filtered candidate set loses nothing)
    DriverQuery("dd_ssjoin", ((s, dir) =>
      Dedup.exactJaccardJoin(docsPlanted(s, dir), threshold = 0.5)
        .orderBy("id1", "id2")),
      // naive complete candidate enumeration (any shared gram) + exact
      // quantized Jaccard >= τ: an INDEPENDENT construction of the same
      // pair set the engine reaches through the prefix filter — the oracle
      // proves prefix filtering drops no qualifying pair
      (plantedCte + shingleCtes +
        """, shx AS (
          |  SELECT doc_id, unnest(sh) AS s FROM sgl
          |), sizes AS (
          |  SELECT doc_id, count(*) AS n FROM shx GROUP BY 1
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          |  FROM shx a JOIN shx b ON b.s = a.s AND a.doc_id < b.doc_id
          |), inter AS (
          |  SELECT c.id1, c.id2, count(*) AS n_inter
          |  FROM cand c
          |  JOIN shx a ON a.doc_id = c.id1
          |  JOIN shx b2 ON b2.doc_id = c.id2 AND b2.s = a.s
          |  GROUP BY 1, 2
          |), jac AS (
          |  SELECT i.id1, i.id2,
          |    round(cast(i.n_inter AS double) /
          |          (s1.n + s2.n - i.n_inter) + 1e-9, 4) AS jaccard
          |  FROM inter i
          |  JOIN sizes s1 ON s1.doc_id = i.id1
          |  JOIN sizes s2 ON s2.doc_id = i.id2
          |)
          |SELECT id1, id2, jaccard FROM jac
          |WHERE jaccard >= 0.5
          |ORDER BY id1, id2""".stripMargin)),
    // containment (asymmetric): the planted tail-append near-dups are
    // SUPERSETS of their originals — cont1 pins 1.0 where jaccard < 1,
    // the quote/subset duplication the symmetric measure under-ranks
    DriverQuery("dd_containment", ((s, dir) => {
      val d = docsPlanted(s, dir)
      Dedup.ngramContainment(d, Dedup.minhashPairs(d)).orderBy("id1", "id2")
    }),
      (plantedCte + shingleCtes + bandCtes +
        """, shx AS (
          |  SELECT doc_id, unnest(sh) AS s FROM sgl
          |), sizes AS (
          |  SELECT doc_id, count(*) AS n FROM shx GROUP BY 1
          |), inter AS (
          |  SELECT p.id1, p.id2, count(*) AS n_inter
          |  FROM pairs p
          |  JOIN shx a ON a.doc_id = p.id1
          |  JOIN shx b2 ON b2.doc_id = p.id2 AND b2.s = a.s
          |  GROUP BY 1, 2
          |)
          |SELECT p.id1, p.id2,
          |  round(cast(coalesce(i.n_inter, 0) AS double) /
          |        (s1.n + s2.n - coalesce(i.n_inter, 0)) + 1e-9, 4) AS jaccard,
          |  round(cast(coalesce(i.n_inter, 0) AS double) / s1.n + 1e-9, 4) AS cont1,
          |  round(cast(coalesce(i.n_inter, 0) AS double) / s2.n + 1e-9, 4) AS cont2
          |FROM pairs p
          |LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
          |JOIN sizes s1 ON s1.doc_id = p.id1
          |JOIN sizes s2 ON s2.doc_id = p.id2
          |ORDER BY p.id1, p.id2""".stripMargin)),
    // duplicate GROUPS: connected components over the LSH pairs with
    // canonical-doc selection (min-label propagation; oracle = recursive-CTE
    // transitive closure over the same pairs)
    DriverQuery("dd_components", ((s, dir) =>
      Dedup.components(Dedup.minhashPairs(docsPlanted(s, dir)))
        .orderBy("doc_id")),
      // transitive closure of the pair graph (UNION-dedup recursion; verify-
      // scale components are tiny) → min reachable id = the component label
      (plantedCte.replaceFirst("WITH ", "WITH RECURSIVE ") + shingleCtes + bandCtes +
        """, esym AS (
          |  SELECT id1 AS x, id2 AS y FROM pairs
          |  UNION
          |  SELECT id2 AS x, id1 AS y FROM pairs
          |), reach AS (
          |  SELECT x, y FROM (SELECT x, y FROM esym UNION SELECT x, x AS y FROM esym)
          |  UNION
          |  SELECT r.x, e.y FROM reach r JOIN esym e ON r.y = e.x
          |), comp AS (
          |  SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x
          |), csz AS (
          |  SELECT component, count(*) AS group_sz FROM comp GROUP BY 1
          |)
          |SELECT c.doc_id, c.component, c.doc_id = c.component AS is_canonical, s.group_sz
          |FROM comp c JOIN csz s USING (component) ORDER BY doc_id""".stripMargin)),
    // the full cleaning pipeline composed end-to-end: exact dedup (keep min
    // doc per identical text) → near-dup components over the survivors →
    // drop non-canonical members; output = the kept corpus ids
    DriverQuery("dd_clean_corpus", ((s, dir) => {
      val d = docsPlanted(s, dir)
      val uniq = d.join(
        Dedup.exact(d).select(col("keep_id").as("doc_id")), "doc_id")
      val comp = Dedup.components(Dedup.minhashPairs(uniq))
      uniq.join(comp.filter(!col("is_canonical")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),
      // exact-keep → LSH pairs over survivors → transitive closure → keep
      // only component canonicals
      (plantedCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, uniq AS (
          |  SELECT d.doc_id, d.text FROM docs d
          |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep FROM docs GROUP BY 1) k
          |    ON d.doc_id = k.keep
          |)""".stripMargin +
        shingleCtes.replace("FROM docs", "FROM uniq") + bandCtes +
        """, esym AS (
          |  SELECT id1 AS x, id2 AS y FROM pairs
          |  UNION
          |  SELECT id2 AS x, id1 AS y FROM pairs
          |), reach AS (
          |  SELECT x, y FROM (SELECT x, y FROM esym UNION SELECT x, x AS y FROM esym)
          |  UNION
          |  SELECT r.x, e.y FROM reach r JOIN esym e ON r.y = e.x
          |), comp AS (
          |  SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x
          |)
          |SELECT u.doc_id FROM uniq u
          |WHERE u.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component)
          |ORDER BY doc_id""".stripMargin)),
    // exact substring duplicate-span detection (Lee+ ACL'22 ExactSubstr,
    // stride-sampled gram grid): per doc, how many sampled 20-char grams
    // occur ≥2 times corpus-wide and exactly how many characters those
    // duplicated grams cover (interval union) — the planted full-copy and
    // tail-append docs make every column non-vacuous
    DriverQuery("dd_substr", ((s, dir) =>
      Dedup.substringDups(docsPlanted(s, dir)).orderBy("doc_id")),
      (plantedCte +
        """, nrm AS (
          |  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS s FROM docs
          |), base AS (
          |  SELECT doc_id, s, length(s) AS len FROM nrm WHERE length(s) >= 20
          |), g AS (
          |  SELECT doc_id, CAST((j - 1) * 8 AS int) AS i,
          |         md5(substr(s, (j - 1) * 8 + 1, 20)) AS h
          |  FROM base, unnest(generate_series(1, (len - 20) // 8 + 1)) AS t(j)
          |), dup AS (
          |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
          |), dp AS (
          |  SELECT g.doc_id, g.i FROM g JOIN dup USING (h)
          |), sw AS (
          |  SELECT doc_id, i,
          |         i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS gap
          |  FROM dp
          |), per AS (
          |  SELECT doc_id, CAST(count(*) AS bigint) AS n_dup,
          |         CAST(sum(CASE WHEN gap IS NULL OR gap >= 20 THEN 20 ELSE gap END) AS bigint) AS dup_chars
          |  FROM sw GROUP BY doc_id
          |)
          |SELECT b.doc_id, CAST((b.len - 20) // 8 + 1 AS bigint) AS n_grams,
          |       coalesce(p.n_dup, CAST(0 AS bigint)) AS n_dup,
          |       coalesce(p.dup_chars, CAST(0 AS bigint)) AS dup_chars
          |FROM base b LEFT JOIN per p USING (doc_id) ORDER BY b.doc_id""".stripMargin)),
    // Bloom-filter membership screen: filter built over the original corpus
    // fingerprints (m = next pow2 ≥ 16·n, k = 4), probed by the planted
    // slice — exact copies hit all 4 positions, near-dup tails miss;
    // is_member (the exact join the filter avoids) exposes any FP
    DriverQuery("dd_bloom", ((s, dir) =>
      Dedup.bloomScreen(
        documents(s, dir).select(col("doc_id"), col("text")),
        docsPlanted(s, dir).filter(col("doc_id") >= 100000))
        .orderBy("doc_id")),
      (plantedCte +
        s""", nrm AS (
          |  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
          |  FROM documents
          |), mm AS (
          |  SELECT min(CAST(pow(2, p) AS bigint)) AS m
          |  FROM (SELECT unnest(generate_series(0, 40)) AS p),
          |       (SELECT count(*) AS n FROM nrm)
          |  WHERE CAST(pow(2, p) AS bigint) >= 16 * n
          |), ai AS (
          |  SELECT fp, unnest(generate_series(0, 3)) AS i FROM nrm
          |), apos AS (
          |  SELECT DISTINCT
          |    ${u32Sql("cast(i AS varchar) || ':' || fp")} % (SELECT m FROM mm) AS pos
          |  FROM ai
          |), pr AS (
          |  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
          |  FROM docs WHERE doc_id >= 100000
          |), pi AS (
          |  SELECT doc_id, fp, unnest(generate_series(0, 3)) AS i FROM pr
          |), pp AS (
          |  SELECT doc_id, fp,
          |    ${u32Sql("cast(i AS varchar) || ':' || fp")} % (SELECT m FROM mm) AS pos
          |  FROM pi
          |), hits AS (
          |  SELECT doc_id, fp,
          |    CAST(sum(CASE WHEN a.pos IS NOT NULL THEN 1 ELSE 0 END) AS int) AS n_hits
          |  FROM pp LEFT JOIN apos a USING (pos) GROUP BY doc_id, fp
          |)
          |SELECT h.doc_id, h.n_hits, h.n_hits = 4 AS maybe_seen,
          |       (t.fp IS NOT NULL) AS is_member
          |FROM hits h LEFT JOIN (SELECT DISTINCT fp FROM nrm) t USING (fp)
          |ORDER BY h.doc_id""".stripMargin)),
    // cross-corpus decontamination: flag training docs sharing any LSH band
    // key with the holdout split (docs ≡ 0 mod 17) — band-key semi-join
    // against an eval-sized broadcast relation, no pair enumeration
    DriverQuery("dd_cross_decontam", ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      Dedup.crossContaminated(d, d.filter(col("doc_id") % 17 === 0))
        .orderBy("doc_id")
    }),
      ("""WITH docs AS (
          |  SELECT doc_id, text FROM documents
          |)""".stripMargin + shingleCtes + bandKeyCtes +
        """, hb AS (
          |  SELECT DISTINCT band_idx, band_key FROM bnd WHERE doc_id % 17 = 0
          |), fl AS (
          |  SELECT DISTINCT b.doc_id FROM bnd b JOIN hb USING (band_idx, band_key)
          |)
          |SELECT d.doc_id, (fl.doc_id IS NOT NULL) AS contaminated
          |FROM docs d LEFT JOIN fl ON d.doc_id = fl.doc_id
          |ORDER BY d.doc_id""".stripMargin)),
    // CCNet paragraph dedup adapted to chat transcripts (dedup unit = turn):
    // per-conv count of turns whose normalized content (conv-local prefix
    // stripped) recurs in ≥ half of all conversations — the scale-relative
    // threshold keeps both branches non-vacuous at every sf (the fixture's
    // payload vocabulary is fixed-cardinality, so absolute counts grow
    // linearly with corpus size)
    DriverQuery("dd_boilerplate", ((s, dir) =>
      Dedup.turnBoilerplate(transcripts(s, dir)).orderBy("conv_id")),
      (cte +
        """, fps AS (
          |  SELECT conv_id, turn_idx,
          |         md5(lower(regexp_replace(
          |           regexp_replace(text, '^[^:]*:[^:]*:', ''), '\s+', ' ', 'g'))) AS fp
          |  FROM transcripts
          |), tot AS (
          |  SELECT count(DISTINCT conv_id) AS n FROM transcripts
          |), boiler AS (
          |  SELECT fp FROM fps GROUP BY fp
          |  HAVING count(DISTINCT conv_id) * 2 >= (SELECT n FROM tot)
          |)
          |SELECT f.conv_id,
          |       CAST(count(*) AS bigint) AS n_turns,
          |       CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_boiler,
          |       CAST(sum(CASE WHEN b.fp IS NOT NULL THEN f.turn_idx ELSE 0 END) AS bigint) AS boiler_idx_sum,
          |       round(cast(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS double)
          |             / count(*) + 1e-9, 4) AS frac_boiler
          |FROM fps f LEFT JOIN boiler b USING (fp)
          |GROUP BY f.conv_id ORDER BY f.conv_id""".stripMargin)),
    // SimHash (32-bit, md5-parity votes) near-dup pairs, Hamming 0
    DriverQuery("dd_simhash", ((s, dir) =>
      Dedup.simhashPairs(docsPlanted(s, dir)).orderBy("id1", "id2")),
      (plantedCte + simhashCtes +
        """
          |SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(a.sig AS BIGINT) AS sig
          |FROM sig a JOIN sig b ON a.sig = b.sig AND a.doc_id < b.doc_id
          |ORDER BY 1, 2""".stripMargin)),
    // SimHash banded to Hamming ≤ 3 (pigeonhole 4×8-bit segments): catches
    // the planted near-dups whose few-token tail flips only a few bits
    DriverQuery("dd_simhash_h3", ((s, dir) =>
      Dedup.simhashBandPairs(docsPlanted(s, dir), maxHamming = 3)
        .orderBy("id1", "id2")),
      (plantedCte + simhashCtes +
        """, bb AS (
          |  SELECT doc_id, sig, unnest(generate_series(0, 3)) AS bidx FROM sig
          |), bk AS (
          |  SELECT doc_id, sig, bidx, (sig >> cast(bidx * 8 AS int)) & 255 AS bval FROM bb
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          |         a.sig AS sig1, b.sig AS sig2
          |  FROM bk a JOIN bk b
          |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
          |)
          |SELECT id1, id2, bit_count(xor(sig1, sig2)) AS hamming
          |FROM cand WHERE bit_count(xor(sig1, sig2)) <= 3
          |ORDER BY id1, id2""".stripMargin)),
    // 64-bit SimHash (two md5 lanes) banded to Hamming ≤ 3 — the
    // production-width variant; the doubled hash width separates random
    // collisions from the planted near-dups far harder than 32 bits
    DriverQuery("dd_simhash64", ((s, dir) =>
      Dedup.simhash64BandPairs(docsPlanted(s, dir), maxHamming = 3)
        .orderBy("id1", "id2")),
      (plantedCte +
        """, tk AS (
          |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM docs
          |), sg AS (
          |  SELECT doc_id,
          |    list_sum(list_transform(generate_series(0, 31), j ->
          |      cast(pow(2, j) AS bigint) * CASE WHEN
          |        list_sum(list_transform(ts, t ->
          |          ((strpos('0123456789abcdef', substr(md5('1:' || t), cast(j AS int) + 1, 1)) - 1) % 2) * 2 - 1)) > 0
          |      THEN 1 ELSE 0 END)) AS sig_hi,
          |    list_sum(list_transform(generate_series(0, 31), j ->
          |      cast(pow(2, j) AS bigint) * CASE WHEN
          |        list_sum(list_transform(ts, t ->
          |          ((strpos('0123456789abcdef', substr(md5('0:' || t), cast(j AS int) + 1, 1)) - 1) % 2) * 2 - 1)) > 0
          |      THEN 1 ELSE 0 END)) AS sig_lo
          |  FROM tk
          |), bb AS (
          |  SELECT doc_id, sig_hi, sig_lo, unnest(generate_series(0, 3)) AS bidx FROM sg
          |), bk AS (
          |  SELECT doc_id, sig_hi, sig_lo, bidx,
          |    CASE WHEN bidx * 16 < 32 THEN (sig_lo >> cast(bidx * 16 AS int)) & 65535
          |         ELSE (sig_hi >> cast(bidx * 16 - 32 AS int)) & 65535 END AS bval
          |  FROM bb
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          |    a.sig_hi AS h1, a.sig_lo AS l1, b.sig_hi AS h2, b.sig_lo AS l2
          |  FROM bk a JOIN bk b
          |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
          |)
          |SELECT id1, id2,
          |  CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS int) AS hamming
          |FROM cand
          |WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 3
          |ORDER BY 1, 2""".stripMargin)),
    // embedding-cosine near-dup pairs within IVF cells
    DriverQuery("dd_embed_cosine", ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(
        e.filter(col("vec_id") % 37 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Similarity.nearDupPairs(planted, col("vec_id") % 97 === 0, threshold = 0.999)
        .orderBy("id1", "id2")
    }),
      ("""WITH emb2 AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 37 = 0
          |)""".stripMargin + embCtes("emb2").replaceFirst("WITH ", ", ") + ivfCtes +
        """, a1 AS (
          |  SELECT n.vec_id AS id1, n.v AS qv, n.nm AS qn, g.cell
          |  FROM nrm n JOIN asg g ON g.vec_id = n.vec_id
          |), b1 AS (
          |  SELECT n.vec_id AS id2, n.v AS ev, n.nm AS en, g.cell
          |  FROM nrm n JOIN asg g ON g.vec_id = n.vec_id
          |)
          |SELECT id1, id2, cos FROM (
          |  SELECT a1.id1, b1.id2,
          |    round(list_sum(list_transform(generate_series(1, 64), i -> a1.qv[i] * b1.ev[i]))
          |          / (a1.qn * b1.en) + 1e-9, 6) AS cos
          |  FROM a1 JOIN b1 ON a1.cell = b1.cell AND a1.id1 < b1.id2)
          |WHERE cos >= 0.999 ORDER BY id1, id2""".stripMargin)),
    // SemDeDup: k-means-bucketed semantic dedup over the planted embedding
    // corpus (2 quantized Lloyd iters from the %97 seeds, cos ≥ 0.999 inside
    // a cluster ⇒ lower-id representative wins)
    DriverQuery("dd_semdedup", ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(
        e.filter(col("vec_id") % 37 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Similarity.semDedup(planted, col("vec_id") % 97 === 0, iters = 2,
        threshold = 0.999).orderBy("vec_id")
    }),
      semdedupSql),
    // dedup report: duplicate-cluster size distribution incl. singleton
    // mass — a bounded histogram on top of the star-contraction CC output
    DriverQuery("dd_cluster_stats", ((s, dir) => {
      val d = docsPlanted(s, dir)
      Dedup.clusterStats(d, Dedup.components(Dedup.minhashPairs(d)))
        .orderBy("group_sz")
    }),
      (plantedCte.replaceFirst("WITH ", "WITH RECURSIVE ") + shingleCtes +
        bandCtes +
        """, esym AS (
          |  SELECT id1 AS x, id2 AS y FROM pairs
          |  UNION
          |  SELECT id2 AS x, id1 AS y FROM pairs
          |), reach AS (
          |  SELECT x, y FROM (SELECT x, y FROM esym UNION SELECT x, x AS y FROM esym)
          |  UNION
          |  SELECT r.x, e.y FROM reach r JOIN esym e ON r.y = e.x
          |), comp AS (
          |  SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x
          |), csz AS (
          |  SELECT component, cast(count(*) AS bigint) AS group_sz
          |  FROM comp GROUP BY 1
          |), multi AS (
          |  SELECT group_sz, cast(count(*) AS bigint) AS n_clusters
          |  FROM csz GROUP BY 1
          |), sing AS (
          |  SELECT cast(1 AS bigint) AS group_sz,
          |    cast(count(*) AS bigint) AS n_clusters
          |  FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM comp)
          |  HAVING count(*) > 0
          |), u AS (
          |  SELECT * FROM multi UNION ALL SELECT * FROM sing
          |)
          |SELECT group_sz, cast(sum(n_clusters) AS bigint) AS n_clusters,
          |  cast(group_sz * sum(n_clusters) AS bigint) AS n_docs
          |FROM u GROUP BY 1 ORDER BY group_sz""".stripMargin),
      plan = Some(SinglePartitionAllowed("scalar singleton-count total + bounded histogram"))),
    // LSH banding S-curve: exact Jaccard + theoretical detection prob of
    // the (4 bands × 2 rows) scheme per candidate pair — explicit-product
    // powers, the tuning relation for picking banding parameters
    DriverQuery("dd_lsh_curve", ((s, dir) => {
      val d = docsPlanted(s, dir)
      Dedup.lshCurve(Dedup.ngramJaccard(d, Dedup.minhashPairs(d)),
        bandsB = 4, rowsR = 2).orderBy("id1", "id2")
    }),
      (plantedCte + shingleCtes + bandCtes +
        """, shx AS (
          |  SELECT doc_id, unnest(sh) AS s FROM sgl
          |), sizes AS (
          |  SELECT doc_id, count(*) AS n FROM shx GROUP BY 1
          |), inter AS (
          |  SELECT p.id1, p.id2, count(*) AS n_inter
          |  FROM pairs p
          |  JOIN shx a ON a.doc_id = p.id1
          |  JOIN shx b2 ON b2.doc_id = p.id2 AND b2.s = a.s
          |  GROUP BY 1, 2
          |), jj AS (
          |  SELECT p.id1, p.id2,
          |    round(cast(coalesce(i.n_inter, 0) AS double) /
          |          (s1.n + s2.n - coalesce(i.n_inter, 0)) + 1e-9, 4)
          |      AS jaccard
          |  FROM pairs p
          |  LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
          |  JOIN sizes s1 ON s1.doc_id = p.id1
          |  JOIN sizes s2 ON s2.doc_id = p.id2
          |), xx AS (
          |  SELECT id1, id2, jaccard, 1.0 - jaccard * jaccard AS miss
          |  FROM jj
          |)
          |SELECT id1, id2, jaccard,
          |  round(1.0 - miss * miss * miss * miss + 1e-9, 4) AS p_detect
          |FROM xx ORDER BY id1, id2""".stripMargin)),
    // template-anchor dedup families (same 32-char head+tail, varying
    // middle) over a planted template corpus
    DriverQuery("dd_template", ((s, dir) => {
      val d = documents(s, dir).select("doc_id", "text")
      val planted = d.unionByName(
        d.filter(col("doc_id") % 37 === 0).select(
          (col("doc_id") + 500000L).as("doc_id"),
          concat(expr("left(text, 32)"), lit(" template middle variant "),
            expr("right(text, 32)")).as("text")))
      Dedup.templateGroups(planted).orderBy("head", "tail")
    }),
      ("""WITH docs AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 500000,
          |    left(text, 32) || ' template middle variant '
          |      || right(text, 32)
          |  FROM documents WHERE doc_id % 37 = 0
          |), t AS (
          |  SELECT doc_id, left(text, 32) AS head, right(text, 32) AS tail,
          |    md5(substr(text, 33, greatest(length(text) - 64, 0))) AS mid_h
          |  FROM docs
          |)
          |SELECT head, tail, count(*) AS n_docs,
          |  CAST(count(DISTINCT mid_h) AS BIGINT) AS n_mids,
          |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
          |FROM t GROUP BY 1, 2 HAVING count(*) >= 2
          |ORDER BY head, tail""".stripMargin)),
    // dedup-aware corpus sampling: canonicals weighted by clone-family
    // size, singletons weight 1, deterministic A-ES priority keep set
    DriverQuery("dd_dup_sample", ((s, dir) => {
      val d = docsPlanted(s, dir)
      val comp = Dedup.components(Dedup.minhashPairs(d))
      val canon = comp.filter(col("is_canonical"))
        .select(col("doc_id"), col("group_sz").cast("long").as("w"))
      val singles = d.select("doc_id")
        .join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("w", lit(1L))
      Select.weightedPrioritySample(canon.unionByName(singles),
        "doc_id", "w", k = 16)
    }),
      // dedup-aware sampling replay: closure components -> canonical
      // weights (+ singleton weight 1) -> the ts_weighted_sample priority
      (plantedCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        shingleCtes + bandCtes +
        s""", esym AS (
          |  SELECT id1 AS x, id2 AS y FROM pairs
          |  UNION
          |  SELECT id2 AS x, id1 AS y FROM pairs
          |), reach AS (
          |  SELECT x, y FROM (SELECT x, y FROM esym UNION SELECT x, x AS y FROM esym)
          |  UNION
          |  SELECT r.x, e.y FROM reach r JOIN esym e ON r.y = e.x
          |), comp AS (
          |  SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x
          |), csz AS (
          |  SELECT component, count(*) AS group_sz FROM comp GROUP BY 1
          |), wts AS (
          |  SELECT CAST(c.doc_id AS VARCHAR) AS key,
          |    CAST(s.group_sz AS BIGINT) AS weight
          |  FROM comp c JOIN csz s USING (component)
          |  WHERE c.doc_id = c.component
          |  UNION ALL
          |  SELECT CAST(d.doc_id AS VARCHAR) AS key, CAST(1 AS BIGINT)
          |  FROM docs d WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
          |), k2 AS (
          |  SELECT key, weight, ${u32Sql("key")} AS h FROM wts
          |  WHERE weight > 0
          |), p AS (
          |  SELECT key, weight, h, h // weight AS priority
          |  FROM k2 ORDER BY priority, key LIMIT 16
          |)
          |SELECT key, weight, h, priority,
          |  CAST(row_number() OVER (ORDER BY priority, key) AS INT) AS rank
          |FROM p ORDER BY rank""".stripMargin)),
    // measured LSH recall/precision vs exact gram-Jaccard ground truth
    // (QA-scale evaluator; pairs with dd_lsh_curve's theoretical S-curve)
    DriverQuery("dd_lsh_recall", ((s, dir) =>
      Dedup.lshRecall(docsPlanted(s, dir), threshold = 0.5)),
      // exact gram-sharing ground truth (complete for J >= tau > 0) vs the
      // banded LSH candidates from the shared minhash CTE chain
      (plantedCte + shingleCtes + bandCtes +
        """, shx AS (
          |  SELECT doc_id, unnest(sh) AS s FROM sgl
          |), sizes AS (
          |  SELECT doc_id, count(*) AS n FROM shx GROUP BY 1
          |), gp AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          |  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
          |), ginter AS (
          |  SELECT g.id1, g.id2, count(*) AS n_inter
          |  FROM gp g JOIN shx a ON a.doc_id = g.id1
          |  JOIN shx b2 ON b2.doc_id = g.id2 AND b2.s = a.s
          |  GROUP BY 1, 2
          |), truth AS (
          |  SELECT g.id1, g.id2
          |  FROM gp g JOIN ginter i ON i.id1 = g.id1 AND i.id2 = g.id2
          |  JOIN sizes s1 ON s1.doc_id = g.id1
          |  JOIN sizes s2 ON s2.doc_id = g.id2
          |  WHERE round(cast(i.n_inter AS double) /
          |    (s1.n + s2.n - i.n_inter) + 1e-9, 4) >= 0.5
          |), cand AS (
          |  SELECT DISTINCT id1, id2 FROM pairs
          |), hit AS (
          |  SELECT t.id1 FROM truth t
          |  JOIN cand c ON t.id1 = c.id1 AND t.id2 = c.id2
          |)
          |SELECT
          |  (SELECT count(*) FROM truth) AS n_truth,
          |  (SELECT count(*) FROM cand) AS n_candidates,
          |  (SELECT count(*) FROM hit) AS n_hit,
          |  round(cast((SELECT count(*) FROM hit) AS double) /
          |    (SELECT count(*) FROM truth) + 1e-9, 4) AS recall,
          |  round(cast((SELECT count(*) FROM hit) AS double) /
          |    (SELECT count(*) FROM cand) + 1e-9, 4) AS precision""".stripMargin),
      plan = Some(SinglePartitionAllowed("one-row recall/precision totals (QA-scale evaluator)"))),
    // feature-hashing near-dup pairs over the planted-dup corpus:
    // 32-bucket hashed count vectors, top-3-bucket blocking, ALL-INTEGER
    // cosine-threshold predicate (decimal/HUGEINT cross-multiplication)
    DriverQuery("dd_feature_hash", ((s, dir) =>
      Dedup.featureHashPairs(docsPlanted(s, dir)).orderBy("id1", "id2")),
      featureHashSql),
  )
}
