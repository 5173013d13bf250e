package graft.driver

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}
import Fixtures._
import OracleSql._

/** ANN, embedding and multimodal queries over `embeddings` and the
  * frame/image features.
  */
private[driver] object EmbeddingQueries {

  val all: Seq[DriverQuery] = Seq(
    // brute-force cosine top-5 per query vector (deterministic ranking)
    DriverQuery("ann_topk", ((s, dir) =>
      Similarity.bruteTopK(embeddings(s, dir), col("vec_id") % 50 === 0, k = 5)
        .orderBy("qid", "rn")),
      (embCtes("embeddings") +
        """, q AS (
          |  SELECT vec_id AS qid, v AS qv, nm AS qn FROM nrm WHERE vec_id % 50 = 0
          |), sc AS (
          |  SELECT q.qid, n2.vec_id AS eid,
          |    round(list_sum(list_transform(generate_series(1, 64), i -> q.qv[i] * n2.v[i]))
          |          / (q.qn * n2.nm) + 1e-9, 6) AS cos
          |  FROM q JOIN nrm n2 ON q.qid != n2.vec_id
          |)
          |SELECT qid, eid, cos, rn FROM (
          |  SELECT qid, eid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, eid) AS rn
          |  FROM sc) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),
    // IVF-bucketed top-3 (assign to nearest centroid cell, probe own cell)
    DriverQuery("ann_ivf", ((s, dir) =>
      Similarity.ivfTopK(embeddings(s, dir), col("vec_id") % 50 === 0,
        col("vec_id") % 97 === 0, k = 3).orderBy("qid", "rn")),
      (embCtes("embeddings") + ivfCtes +
        """, q AS (
          |  SELECT n.vec_id AS qid, n.v AS qv, n.nm AS qn, a.cell
          |  FROM nrm n JOIN asg a ON a.vec_id = n.vec_id WHERE n.vec_id % 50 = 0
          |), c2 AS (
          |  SELECT n.vec_id AS eid, n.v AS ev, n.nm AS en, a.cell
          |  FROM nrm n JOIN asg a ON a.vec_id = n.vec_id
          |), sc AS (
          |  SELECT q.qid, c2.eid, q.cell,
          |    round(list_sum(list_transform(generate_series(1, 64), i -> q.qv[i] * c2.ev[i]))
          |          / (q.qn * c2.en) + 1e-9, 6) AS cos
          |  FROM q JOIN c2 ON q.cell = c2.cell AND q.qid != c2.eid
          |)
          |SELECT qid, eid, cell, cos, rn FROM (
          |  SELECT qid, eid, cell, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, eid) AS rn
          |  FROM sc) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),
    // IVF multi-probe (nprobe=2): recall knob — each query scores its two
    // nearest cells, still a cell equi-join
    DriverQuery("ann_ivf2", ((s, dir) =>
      Similarity.ivfTopK(embeddings(s, dir), col("vec_id") % 50 === 0,
        col("vec_id") % 97 === 0, k = 3, nprobe = 2).orderBy("qid", "rn")),
      (embCtes("embeddings") + ivfCtes +
        """, asg2 AS (
          |  SELECT vec_id, cell FROM (
          |    SELECT n.vec_id, c.cid AS cell,
          |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
          |        round(list_sum(list_transform(generate_series(1, 64), i -> c.cv[i] * n.v[i]))
          |              / (c.cn * n.nm) + 1e-9, 6) DESC, c.cid) AS rn
          |    FROM nrm n CROSS JOIN cents c) WHERE rn <= 2
          |), q AS (
          |  SELECT n.vec_id AS qid, n.v AS qv, n.nm AS qn, a.cell
          |  FROM nrm n JOIN asg2 a ON a.vec_id = n.vec_id WHERE n.vec_id % 50 = 0
          |), c2 AS (
          |  SELECT n.vec_id AS eid, n.v AS ev, n.nm AS en, a.cell
          |  FROM nrm n JOIN asg a ON a.vec_id = n.vec_id
          |), sc AS (
          |  SELECT q.qid, c2.eid, c2.cell,
          |    round(list_sum(list_transform(generate_series(1, 64), i -> q.qv[i] * c2.ev[i]))
          |          / (q.qn * c2.en) + 1e-9, 6) AS cos
          |  FROM q JOIN c2 ON q.cell = c2.cell AND q.qid != c2.eid
          |)
          |SELECT qid, eid, cell, cos, rn FROM (
          |  SELECT qid, eid, cell, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, eid) AS rn
          |  FROM sc) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),
    // JL-projected (64→16, ±1 signs, all-integer) brute top-3 — the
    // dimensionality-reduction search path; magnitudes preserved unlike SRP
    DriverQuery("ann_jl", ((s, dir) =>
      Similarity.jlTopK(embeddings(s, dir), col("vec_id") % 50 === 0, k = 3)
        .orderBy("qid", "rn")),
      ("""WITH e AS (
          |  SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
          |), sc AS (
          |  SELECT vec_id, v,
          |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-30) / 127.0 AS scale
          |  FROM e
          |), q8 AS (
          |  SELECT vec_id, list_transform(v, x -> cast(round(x / scale) AS int)) AS qvec
          |  FROM sc
          |), wm AS (
          |  SELECT d, j,
          |    ((strpos('0123456789abcdef',
          |        substr(md5(cast(d AS varchar)), cast(j + 1 AS int), 1)) - 1) % 2) * 2 - 1 AS w
          |  FROM (SELECT unnest(generate_series(0, 63)) AS d),
          |       (SELECT unnest(generate_series(0, 15)) AS j)
          |), qd AS (
          |  SELECT vec_id, CAST(i - 1 AS int) AS d, qvec[i] AS qv
          |  FROM q8, unnest(generate_series(1, len(qvec))) AS t(i)
          |), acc AS (
          |  SELECT qd.vec_id, wm.j, CAST(sum(CAST(wm.w AS bigint) * qd.qv) AS bigint) AS p
          |  FROM qd JOIN wm ON wm.d = qd.d
          |  GROUP BY qd.vec_id, wm.j
          |), pv AS (
          |  SELECT vec_id, list(p ORDER BY j) AS proj FROM acc GROUP BY vec_id
          |), n AS (
          |  SELECT vec_id, proj,
          |    sqrt(cast(CAST(list_sum(list_transform(proj, x -> x * x)) AS bigint) AS double)) AS pn
          |  FROM pv
          |), qs AS (
          |  SELECT vec_id AS qid, proj AS qv, pn AS qa FROM n WHERE vec_id % 50 = 0
          |), sc2 AS (
          |  SELECT qs.qid, n.vec_id AS eid,
          |    round(cast(CAST(list_sum(list_transform(generate_series(1, 16), i ->
          |        qs.qv[i] * n.proj[i])) AS bigint) AS double)
          |      / (qs.qa * n.pn) + 1e-9, 6) AS jcos
          |  FROM qs JOIN n ON qs.qid != n.vec_id
          |)
          |SELECT qid, eid, jcos, rn FROM (
          |  SELECT qid, eid, jcos,
          |    row_number() OVER (PARTITION BY qid ORDER BY jcos DESC, eid) AS rn
          |  FROM sc2) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),
    // recall@3 of single-probe IVF against the brute-force ground truth —
    // the eval loop every ANN index ships with; per-query bounded join
    DriverQuery("ann_recall", ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.recallAtK(
        Similarity.bruteTopK(e, col("vec_id") % 50 === 0, k = 3),
        Similarity.ivfTopK(e, col("vec_id") % 50 === 0,
          col("vec_id") % 97 === 0, k = 3), k = 3)
        .orderBy("qid")
    }),
      (embCtes("embeddings") + ivfCtes +
        """, bq AS (
          |  SELECT vec_id AS qid, v AS qv, nm AS qn FROM nrm WHERE vec_id % 50 = 0
          |), bsc AS (
          |  SELECT bq.qid, n2.vec_id AS eid,
          |    round(list_sum(list_transform(generate_series(1, 64), i -> bq.qv[i] * n2.v[i]))
          |          / (bq.qn * n2.nm) + 1e-9, 6) AS cos
          |  FROM bq JOIN nrm n2 ON bq.qid != n2.vec_id
          |), truth AS (
          |  SELECT qid, eid FROM (
          |    SELECT qid, eid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, eid) AS rn
          |    FROM bsc) WHERE rn <= 3
          |), iq AS (
          |  SELECT n.vec_id AS qid, n.v AS qv, n.nm AS qn, a.cell
          |  FROM nrm n JOIN asg a ON a.vec_id = n.vec_id WHERE n.vec_id % 50 = 0
          |), ic2 AS (
          |  SELECT n.vec_id AS eid, n.v AS ev, n.nm AS en, a.cell
          |  FROM nrm n JOIN asg a ON a.vec_id = n.vec_id
          |), isc AS (
          |  SELECT iq.qid, ic2.eid,
          |    round(list_sum(list_transform(generate_series(1, 64), i -> iq.qv[i] * ic2.ev[i]))
          |          / (iq.qn * ic2.en) + 1e-9, 6) AS cos
          |  FROM iq JOIN ic2 ON iq.cell = ic2.cell AND iq.qid != ic2.eid
          |), approx AS (
          |  SELECT qid, eid FROM (
          |    SELECT qid, eid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, eid) AS rn
          |    FROM isc) WHERE rn <= 3
          |)
          |SELECT t.qid,
          |  CAST(sum(CASE WHEN a.eid IS NOT NULL THEN 1 ELSE 0 END) AS int) AS n_hit,
          |  round(CAST(sum(CASE WHEN a.eid IS NOT NULL THEN 1 ELSE 0 END) AS int) / 3.0 + 1e-9, 4) AS recall
          |FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.eid = t.eid
          |GROUP BY t.qid ORDER BY t.qid""".stripMargin)),
    // spherical k-means (Lloyd, 2 quantized iterations from the %97 seeds)
    // trains the IVF centroids; output = final full-corpus assignment. The
    // oracle replays training exactly (quantized-iteration contract).
    DriverQuery("ann_kmeans", ((s, dir) => {
      val cents = Similarity.kmeansCentroids(embeddings(s, dir),
        col("vec_id") % 97 === 0, iters = 2)
      Similarity.ivfAssignTo(embeddings(s, dir), cents).orderBy("vec_id")
    }),
      // exact replay of quantized-Lloyd training + final assignment
      kmeansSql),
    // int8 scalar quantization of embeddings (4× ANN storage cut): per-vec
    // scale + quantized-vector fingerprint aggregates
    DriverQuery("emb_quant", ((s, dir) =>
      Similarity.quantizeInt8(embeddings(s, dir)).drop("qvec")
        .orderBy("vec_id")),
      ("""WITH e AS (
          |  SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
          |), sc AS (
          |  SELECT vec_id, v,
          |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-30) / 127.0 AS scale
          |  FROM e
          |), q AS (
          |  SELECT vec_id, scale,
          |    list_transform(v, x -> cast(round(x / scale) AS int)) AS qvec
          |  FROM sc
          |)
          |SELECT vec_id, round(scale + 1e-12, 9) AS scale,
          |  CAST(list_sum(qvec) AS BIGINT) AS q_sum,
          |  list_min(qvec) AS q_min, list_max(qvec) AS q_max,
          |  len(list_filter(qvec, x -> abs(x) = 127)) AS n_sat
          |FROM q ORDER BY vec_id""".stripMargin)),
    // top-k search ON the int8-quantized vectors: integer dot products,
    // bit-exact ranking across engines
    DriverQuery("ann_quant_topk", ((s, dir) =>
      Similarity.quantTopK(embeddings(s, dir), col("vec_id") % 50 === 0, k = 5)
        .orderBy("qid", "rn")),
      // integer-arithmetic replay of the quantized search: LONG dot/norm sums
      // (order-free), cosine derived from the exact integers
      ("""WITH e AS (
          |  SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
          |), sc AS (
          |  SELECT vec_id, v,
          |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-30) / 127.0 AS scale
          |  FROM e
          |), q AS (
          |  SELECT vec_id, list_transform(v, x -> cast(round(x / scale) AS int)) AS qvec
          |  FROM sc
          |), qq AS (
          |  SELECT vec_id, qvec,
          |    sqrt(cast(CAST(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS double)) AS qn
          |  FROM q
          |), qs AS (
          |  SELECT vec_id AS qid, qvec AS qv, qn AS qa FROM qq WHERE vec_id % 50 = 0
          |), sc2 AS (
          |  SELECT qs.qid, c.vec_id AS eid,
          |    round(cast(CAST(list_sum(list_transform(generate_series(1, 64),
          |            i -> CAST(qs.qv[i] AS BIGINT) * c.qvec[i])) AS BIGINT) AS double)
          |          / (qs.qa * c.qn) + 1e-9, 6) AS qcos
          |  FROM qs CROSS JOIN qq c WHERE qs.qid != c.vec_id
          |)
          |SELECT qid, eid, qcos, rn FROM (
          |  SELECT qid, eid, qcos,
          |         row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, eid) AS rn
          |  FROM sc2)
          |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),
    // sign-random-projection LSH pairs (Charikar hyperplanes) over the
    // quantized vectors: data-independent signatures, pigeonhole-banded
    // Hamming ≤ 3 candidates, exact LONG dot on survivors. Planted exact
    // copies (%37) pin Hamming 0; dim-0-perturbed copies (%41) exercise
    // the near-but-not-identical band path
    DriverQuery("ann_srp", ((s0, dir) => {
      val e = embeddings(s0, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = e
        .unionByName(e.filter(col("vec_id") % 37 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        .unionByName(e.filter(col("vec_id") % 41 === 0)
          .select((col("vec_id") + 200000).as("vec_id"),
            expr("transform(embedding, (x, i) -> IF(i = 0, x + 0.3D, x))")
              .as("embedding")))
      Similarity.srpPairs(planted).orderBy("id1", "id2")
    }),
      ("""WITH e0 AS (
          |  SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
          |), e AS (
          |  SELECT vec_id, v FROM e0
          |  UNION ALL
          |  SELECT vec_id + 100000, v FROM e0 WHERE vec_id % 37 = 0
          |  UNION ALL
          |  SELECT vec_id + 200000,
          |    list_transform(generate_series(1, len(v)), i ->
          |      CASE WHEN i = 1 THEN v[i] + 0.3 ELSE v[i] END)
          |  FROM e0 WHERE vec_id % 41 = 0
          |), sc AS (
          |  SELECT vec_id, v,
          |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-30) / 127.0 AS scale
          |  FROM e
          |), q AS (
          |  SELECT vec_id, list_transform(v, x -> cast(round(x / scale) AS int)) AS qvec
          |  FROM sc
          |), wm AS (
          |  SELECT d, b,
          |    ((strpos('0123456789abcdef',
          |        substr(md5(cast(d AS varchar)), cast(b + 1 AS int), 1)) - 1) % 2) * 2 - 1 AS w
          |  FROM (SELECT unnest(generate_series(0, 63)) AS d),
          |       (SELECT unnest(generate_series(0, 31)) AS b)
          |), qd AS (
          |  SELECT vec_id, CAST(i - 1 AS int) AS d, qvec[i] AS qv
          |  FROM q, unnest(generate_series(1, len(qvec))) AS t(i)
          |), acc AS (
          |  SELECT qd.vec_id, wm.b, sum(CAST(wm.w AS bigint) * qd.qv) AS a
          |  FROM qd JOIN wm ON wm.d = qd.d
          |  GROUP BY qd.vec_id, wm.b
          |), sig AS (
          |  SELECT vec_id,
          |    CAST(sum(CASE WHEN a > 0 THEN (CAST(1 AS bigint) << b)
          |             ELSE CAST(0 AS bigint) END) AS bigint) AS sig
          |  FROM acc GROUP BY vec_id
          |), seg AS (
          |  SELECT vec_id, sig, b AS bidx, (sig >> (b * 8)) & 255 AS bval
          |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)
          |), cand AS (
          |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
          |    bit_count(xor(a.sig, b.sig)) AS hamming
          |  FROM seg a JOIN seg b
          |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.vec_id < b.vec_id
          |), pr AS (
          |  SELECT id1, id2, CAST(hamming AS int) AS hamming
          |  FROM cand WHERE hamming <= 3
          |)
          |SELECT p.id1, p.id2, p.hamming,
          |  CAST(list_sum(list_transform(generate_series(1, len(q1.qvec)), i ->
          |    CAST(q1.qvec[i] AS bigint) * q2.qvec[i])) AS BIGINT) AS dot_q
          |FROM pr p
          |JOIN q q1 ON q1.vec_id = p.id1
          |JOIN q q2 ON q2.vec_id = p.id2
          |ORDER BY p.id1, p.id2""".stripMargin)),
    // product quantization end-to-end (train m=4 subspace codebooks with
    // quantized Lloyd, encode the corpus to m code ids, ADC top-k search);
    // the oracle replays all of it via unrolled CTE stages
    DriverQuery("ann_pq", ((s, dir) => {
      val emb = embeddings(s, dir)
      val cents = Similarity.pqTrain(emb, m = 4, d = 16,
        col("vec_id") % 97 === 0, iters = 2)
      val codes = Similarity.pqEncode(emb, cents, m = 4, d = 16)
      Similarity.pqSearch(emb, cents, codes, col("vec_id") % 50 === 0,
        m = 4, d = 16, k = 5).orderBy("qid", "rn")
    }),
      // full PQ replay: per-subspace Lloyd, encode, ADC search
      pqSql),
    // multimodal: binary payload + batched (stub) decode via mapPartitions —
    // the oracle recomputes the deterministic fake features from the text,
    // proving the binary plumbing end-to-end
    DriverQuery("mm_features", ((s, dir) =>
      Multimodal.decodeStub(s, Multimodal.withPayload(documents(s, dir)))
        .orderBy("doc_id")),
      // height derives from the FIRST UTF-8 BYTE of the payload (the Spark
      // stub reads bytes(0) & 0xff) — ascii() would give the first CODEPOINT
      // and diverge on any document starting with a non-ASCII character
      ("""WITH mm AS (
          |  SELECT doc_id, octet_length(cast(text AS BLOB)) AS byte_len,
          |    (strpos('0123456789ABCDEF', substr(hex(cast(text AS BLOB)), 1, 1)) - 1) * 16
          |      + strpos('0123456789ABCDEF', substr(hex(cast(text AS BLOB)), 2, 1)) - 1 AS b0
          |  FROM documents
          |)
          |SELECT doc_id, byte_len,
          |  64 + (byte_len % 64) AS width,
          |  64 + (b0 % 64) AS height,
          |  byte_len // 100 + 1 AS frames
          |FROM mm ORDER BY doc_id""".stripMargin)),
    // multimodal frame sampling: every 3rd frame index per decoded media row
    DriverQuery("mm_frames", ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.decodeStub(s, Multimodal.withPayload(documents(s, dir))),
        stride = 3).orderBy("doc_id", "k")),
      ("""WITH mm AS (
          |  SELECT doc_id, octet_length(cast(text AS BLOB)) // 100 + 1 AS frames
          |  FROM documents
          |)
          |SELECT doc_id, cast(f AS int) // 3 AS k, f AS frame_idx
          |FROM (SELECT doc_id, unnest(generate_series(0, frames - 1, 3)) AS f FROM mm)
          |ORDER BY doc_id, k""".stripMargin)),
    // multimodal exact dedup: group identical binary payloads by md5 —
    // the byte-level clone screen for media columns
    DriverQuery("mm_dedup", ((s, dir) =>
      docsPlanted(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .groupBy(md5(col("payload")).as("payload_md5"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))
        .orderBy("payload_md5")),
      (plantedCte +
        """
          |SELECT md5(text) AS payload_md5,
          |  cast(count(*) AS bigint) AS n_copies,
          |  cast(min(doc_id) AS bigint) AS keep_id
          |FROM docs GROUP BY 1 ORDER BY payload_md5""".stripMargin)),
    // embedding-corpus norm census per label (zero vectors, norm drift)
    DriverQuery("emb_norms", ((s, dir) =>
      Similarity.embNormStats(embeddings(s, dir)).orderBy("label")),
      ("""WITH q AS (
          |  SELECT label,
          |    CAST(list_sum(list_transform(cast(embedding AS DOUBLE[]),
          |      x -> cast(round(x * x * 1e8) AS BIGINT))) AS BIGINT) AS n2
          |  FROM embeddings
          |)
          |SELECT label, count(*) AS n_vecs,
          |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_zero,
          |  min(n2) AS min_n2, max(n2) AS max_n2,
          |  round(sqrt(CAST(sum(n2) AS double) / count(*) / 1e8) + 1e-9, 4)
          |    AS rms_norm
          |FROM q GROUP BY 1 ORDER BY 1""".stripMargin)),
    // per-label embedding-centroid drift between the two vec_id-parity
    // halves (the distribution-shift monitor for an embedding store)
    DriverQuery("emb_drift", ((s, dir) =>
      Similarity.embDrift(embeddings(s, dir)).orderBy("label")),
      ("""WITH q AS (
          |  SELECT label, vec_id % 2 AS ep,
          |    list_transform(cast(embedding AS DOUBLE[]),
          |                   x -> cast(round(x * 1e4) AS BIGINT)) AS qv
          |  FROM embeddings
          |), ex AS (
          |  SELECT label, ep, i AS d, qv[i] AS qvd
          |  FROM q, (SELECT unnest(generate_series(1, 64)) AS i)
          |), s AS (
          |  SELECT label, ep, d, CAST(sum(qvd) AS BIGINT) AS sv,
          |    count(*) AS c
          |  FROM ex GROUP BY 1, 2, 3
          |), w AS (
          |  SELECT label, d,
          |    CAST(sum(CASE WHEN ep = 0 THEN sv END) AS BIGINT) AS u,
          |    CAST(sum(CASE WHEN ep = 1 THEN sv END) AS BIGINT) AS v,
          |    max(CASE WHEN ep = 0 THEN c END) AS ca,
          |    max(CASE WHEN ep = 1 THEN c END) AS cb
          |  FROM s GROUP BY 1, 2
          |), f AS (
          |  SELECT label, max(ca) AS n_a, max(cb) AS n_b,
          |    CAST(CAST(sum(u * v) AS BIGINT) AS DOUBLE) AS dot,
          |    CAST(CAST(sum(u * u) AS BIGINT) AS DOUBLE) AS n2a,
          |    CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE) AS n2b
          |  FROM w GROUP BY 1
          |)
          |SELECT label, n_a, n_b,
          |  round(dot / sqrt(n2a * n2b) + 1e-9, 4) + 0.0 AS drift_cos
          |FROM f
          |WHERE n_a IS NOT NULL AND n_b IS NOT NULL AND n2a > 0 AND n2b > 0
          |ORDER BY label""".stripMargin)),
    // perceptual average-hash over media payload bytes (integer
    // cross-multiplied bucket means — no float anywhere)
    DriverQuery("mm_phash", ((s, dir) =>
      Multimodal.phash(s, documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("payload")))
        .orderBy("doc_id")),
      // aHash replay: bucket of byte i = (i*64)//len, bit = integer
      // cross-multiplied mean compare; hash emitted as two non-negative
      // 32-bit halves (a signed 64-bit key would wrap at bit 63)
      ("WITH docs AS (SELECT doc_id, text FROM documents)" + phashSql +
        """SELECT doc_id, hash_hi, hash_lo
          |FROM ph ORDER BY doc_id""".stripMargin)),
    // perceptual near-dup media pairs at Hamming<=3 via pigeonhole banding
    // over the planted-duplicate corpus (clones -> hamming 0)
    DriverQuery("mm_phash_dups", ((s, dir) =>
      Multimodal.phashDups(
        Multimodal.phash(s, docsPlanted(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("payload"))),
        maxHamming = 3)
        .orderBy("id1", "id2")),
      (plantedCte + phashSql +
        """, segd AS (
          |  SELECT doc_id, hash_hi, hash_lo,
          |    unnest(generate_series(0, 3)) AS bidx
          |  FROM ph
          |), seg AS (
          |  SELECT doc_id, hash_hi, hash_lo, bidx,
          |    CASE WHEN bidx * 16 < 32 THEN (hash_lo >> (bidx * 16)) & 65535
          |         ELSE (hash_hi >> (bidx * 16 - 32)) & 65535 END AS bval
          |  FROM segd
          |), pr AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          |    CAST(bit_count(xor(a.hash_hi, b.hash_hi))
          |      + bit_count(xor(a.hash_lo, b.hash_lo)) AS int) AS hamming
          |  FROM seg a JOIN seg b
          |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
          |)
          |SELECT id1, id2, hamming FROM pr
          |WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin)),
    // media clone FAMILIES: perceptual near-dup pairs -> star-contraction
    // connected components (the dd_components machinery on phash edges)
    DriverQuery("mm_phash_cc", ((s, dir) =>
      Dedup.components(
        Multimodal.phashDups(
          Multimodal.phash(s, docsPlanted(s, dir)
            .select(col("doc_id"), col("text").cast("binary").as("payload"))),
          maxHamming = 3)
          .select("id1", "id2"))
        .orderBy("doc_id")),
      // phash pairs -> transitive-closure replay (the dd_components oracle
      // shape on perceptual-hash edges)
      (plantedCte.replaceFirst("WITH ", "WITH RECURSIVE ") + phashSql +
        """, segd AS (
          |  SELECT doc_id, hash_hi, hash_lo,
          |    unnest(generate_series(0, 3)) AS bidx
          |  FROM ph
          |), seg AS (
          |  SELECT doc_id, hash_hi, hash_lo, bidx,
          |    CASE WHEN bidx * 16 < 32 THEN (hash_lo >> (bidx * 16)) & 65535
          |         ELSE (hash_hi >> (bidx * 16 - 32)) & 65535 END AS bval
          |  FROM segd
          |), pairs AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          |  FROM seg a JOIN seg b
          |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.hash_hi, b.hash_hi))
          |    + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
          |), esym AS (
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
          |SELECT c.doc_id, c.component, c.doc_id = c.component AS is_canonical,
          |  s.group_sz
          |FROM comp c JOIN csz s USING (component) ORDER BY doc_id""".stripMargin)),
    // byte-histogram Shannon entropy per payload (media-QA screen:
    // text-like vs compressed/encrypted payloads, no decode)
    DriverQuery("mm_entropy", ((s, dir) =>
      Multimodal.payloadEntropy(s, documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("payload")))
        .orderBy("doc_id")),
      // entropy from the phashSql byte relation: ln quantized to integer
      // ten-thousandths BEFORE summation (zipf precedent) so the sum is
      // exact; H >= 0 by construction, no -0.0 exposure
      ("WITH docs AS (SELECT doc_id, text FROM documents)" + phashSql +
        """, ec AS (
          |  SELECT doc_id, min(len) AS n, v, count(*) AS c
          |  FROM pbv GROUP BY doc_id, v
          |), eq AS (
          |  SELECT doc_id, min(n) AS n,
          |    CAST(count(*) AS BIGINT) AS n_distinct,
          |    CAST(sum(c * cast(round(ln(cast(c AS double)) * 10000)
          |      AS bigint)) AS BIGINT) AS s
          |  FROM ec GROUP BY doc_id
          |)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, n_distinct,
          |  round((n * cast(round(ln(cast(n AS double)) * 10000) AS bigint)
          |    - s) / (n * 10000.0) + 1e-9, 4) AS entropy
          |FROM eq ORDER BY doc_id""".stripMargin)),
    // per-cluster simplified silhouette of the k-means cells — the
    // clustering-quality grade over the same trained centroids
    DriverQuery("ann_silhouette", ((s, dir) => {
      val cents = Similarity.kmeansCentroids(embeddings(s, dir),
        col("vec_id") % 97 === 0, iters = 2)
      Similarity.silhouetteCentroid(embeddings(s, dir), cents)
        .orderBy("cell")
    }),
      silhouetteSql),
    // Matryoshka truncated-dim recall@10 at d in {8,16,32} vs the
    // full-dim brute-force truth (QA-scale evaluator)
    DriverQuery("ann_mrl", ((s, dir) =>
      Similarity.mrlRecall(embeddings(s, dir), col("vec_id") % 97 === 0,
        Seq(8, 16, 32), 10).orderBy("dim")),
      mrlSql,
      plan = Some(SinglePartitionAllowed(
        "per-dim one-row hit totals over the k·|queries| top-k relations " +
        "(QA-scale evaluator, like dd_lsh_recall)"))),
    // external cluster agreement of the k-means cells vs the embedding
    // ground-truth labels: purity + NMI over the bounded contingency grid
    DriverQuery("ann_purity", ((s, dir) => {
      val cents = Similarity.kmeansCentroids(embeddings(s, dir),
        col("vec_id") % 97 === 0, iters = 2)
      Similarity.clusterAgreement(embeddings(s, dir),
        Similarity.ivfAssignTo(embeddings(s, dir), cents))
    }),
      puritySql,
      plan = Some(SinglePartitionAllowed("one-row entropy/MI reduces over the (cell×label) grid"))),
  )
}
