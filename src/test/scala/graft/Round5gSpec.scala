package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{Rollup, Select, TextAnalysis}

/** Round-5 additions, batch 5: global continuous-aggregate cascade,
  * deterministic weighted sampling, token-level KL drift.
  */
class Round5gSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val h0 = 1704067200000L // 2024-01-01T00:00:00Z
  private def tsAt(sec: Long) = new java.sql.Timestamp(h0 + sec * 1000)

  test("cascadeGlobal: hourly->daily merge equals the direct daily state (moments; n_convs dropped)") {
    val rows = for {
      c <- 0 until 12
      k <- 0 until 9
    } yield (f"c$c%03d", tsAt(c * 9000 + k * 13000), k, (c * 17 + k * 3).toDouble)
    val m = rows.toDF("conv_id", "ts", "turn_idx", "value")
    val viaCascade = Rollup.presentState(Rollup.cascade(
      Rollup.tierStateGlobal(m, Tier.H1, 8, tsCol = "ts"), Tier.D1))
      .orderBy("bucket_ts").collect().toSeq
    val direct = Rollup.presentState(
      Rollup.tierStateGlobal(m, Tier.D1, 8, tsCol = "ts").drop("n_convs"))
      .orderBy("bucket_ts").collect().toSeq
    assert(viaCascade == direct && viaCascade.nonEmpty)
    assert(!viaCascade.head.schema.fieldNames.contains("n_convs"))
  }

  test("tierStateGlobalHist: hourly->daily cascadeHist equals the direct daily hist state; quantile reads agree") {
    val rows = for {
      c <- 0 until 15
      k <- 0 until 8
    } yield (f"c$c%03d", tsAt(c * 8000 + k * 11000), k, ((c * 13 + k * 5) % 40 + 1).toDouble)
    val m = rows.toDF("conv_id", "ts", "turn_idx", "value")
    val hourly = Rollup.tierStateGlobalHist(m, Tier.H1, tsCol = "ts")
    val viaCascade = Rollup.cascadeHist(hourly, Tier.D1)
    val direct = Rollup.tierStateGlobalHist(m, Tier.D1, tsCol = "ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket_ts").collect()
        .map(r => (r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.getSeq[Any](6).toList)).toSeq
    assert(canon(viaCascade.select(direct.columns.map(col): _*)) == canon(direct))
    val qCascade = Rollup.histQuantiles(viaCascade, Seq(0.5, 0.99))
      .orderBy("bucket_ts").collect().toSeq
    val qDirect = Rollup.histQuantiles(direct, Seq(0.5, 0.99))
      .orderBy("bucket_ts").collect().toSeq
    assert(qCascade == qDirect && qCascade.nonEmpty)
  }

  test("weightedPrioritySample: priority = u32(md5) div weight, k smallest kept, weight-monotone, zero-weight dropped") {
    def u32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val keys = (0 until 10).map(i => s"k$i")
    val wts = keys.zipWithIndex.map { case (k, i) => (k, (i * 37 % 11 + 1).toLong) } :+
      ("kzero", 0L)
    val out = Select.weightedPrioritySample(
      wts.toDF("conv_id", "w"), "conv_id", "w", k = 4).collect()
    val expected = wts.filter(_._2 > 0)
      .map { case (k, w) => (u32(k) / w, k, w, u32(k)) }
      .sortBy(t => (t._1, t._2)).take(4)
    assert(out.length == 4)
    out.zip(expected).zipWithIndex.foreach { case ((r, e), i) =>
      assert(r.getString(0) == e._2 && r.getLong(1) == e._3 &&
        r.getLong(2) == e._4 && r.getLong(3) == e._1 &&
        r.getInt(4) == i + 1, s"row $i: $r vs $e")
    }
    // monotone: raising one key's weight can only improve (lower) its priority
    val boosted = Select.weightedPrioritySample(
      wts.map { case (k, w) => (k, if (k == "k7") w * 1000 else w) }
        .toDF("conv_id", "w"), "conv_id", "w", k = 11).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val base = Select.weightedPrioritySample(
      wts.toDF("conv_id", "w"), "conv_id", "w", k = 11).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(boosted("k7") <= base("k7"))
  }

  test("klVocabDrift: balanced shards give zero terms; planted drift positive; top-k cut by total") {
    val balanced = (0 until 20).map(i => (i.toLong, "x y z")).toDF("doc_id", "text")
    val z = TextAnalysis.klVocabDrift(balanced,
      pmod(col("doc_id"), lit(2)) === 0, 64).collect()
    assert(z.length == 3 && z.forall(_.getDouble(5) == 0.0))
    // shard A says "alpha", shard B says "beta"; filler keeps both in top-2
    val drift = (0 until 20).map(i =>
      (i.toLong, if (i % 2 == 0) "alpha alpha filler" else "beta beta filler"))
      .toDF("doc_id", "text")
    val d = TextAnalysis.klVocabDrift(drift,
      pmod(col("doc_id"), lit(2)) === 0, 2).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(d.keySet == Set("alpha", "beta")) // filler(20) ties broken by count: alpha/beta have 20 each
    assert(d("alpha").getDouble(5) > 0.5) // A-heavy term contributes big KL
  }
}
