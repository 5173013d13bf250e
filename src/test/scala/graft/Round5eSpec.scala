package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Tier
import graft.operators.{Rollup, SeriesOps}

/** Round-5 additions, batch 3: agent-transcript loop/echo screens, the
  * per-conversation salted tier state and the corpus-wide salted global
  * rollup.
  */
class Round5eSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val h0 = 1704067200000L // 2024-01-01T00:00:00Z
  private def tsAt(sec: Long) = new java.sql.Timestamp(h0 + sec * 1000)

  test("toolLoops: runs over the tool-turn subsequence, interleaved turns skipped, nulls dropped") {
    // conv a tool sequence (non-null only): s,s,s | g | s,s — runs 3,1,2;
    // a user turn with NULL tool sits INSIDE the first run and must not
    // split it. conv b: single tool turn -> one run of 1, no loops.
    val t = Seq(
      ("a", 0, "tool", tsAt(0), "search"),
      ("a", 1, "user", tsAt(10), null),
      ("a", 2, "tool", tsAt(20), "search"),
      ("a", 3, "tool", tsAt(30), "search"),
      ("a", 4, "tool", tsAt(40), "grep"),
      ("a", 5, "tool", tsAt(50), "search"),
      ("a", 6, "tool", tsAt(60), "search"),
      ("b", 0, "tool", tsAt(5), "grep")
    ).toDF("conv_id", "turn_idx", "role", "ts", "tool")
    val m = SeriesOps.toolLoops(t, minLoop = 3).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = m("a")
    assert(a.getLong(1) == 6 && a.getLong(2) == 3 &&
      a.getLong(3) == 3 && a.getLong(4) == 1, a.toString)
    val b = m("b")
    assert(b.getLong(1) == 1 && b.getLong(2) == 1 &&
      b.getLong(3) == 1 && b.getLong(4) == 0, b.toString)
  }

  test("retryEcho: echoes need same role AND fingerprint; streaks counted; share 4-dp") {
    // conv a: turns (role, fp): (u,x)(u,x)(u,x)(a,x)(a,y)(u,x) —
    // echoes at idx 1,2 (streak 2); (a,x) breaks on role change even
    // though fp matches; (a,y) differs in fp; final (u,x) follows (a,y):
    // no echo. n_turns=6, n_echoes=2, max_run=2, share=0.3333.
    val t = Seq(
      ("a", 0, "user", tsAt(0), "x"),
      ("a", 1, "user", tsAt(10), "x"),
      ("a", 2, "user", tsAt(20), "x"),
      ("a", 3, "assistant", tsAt(30), "x"),
      ("a", 4, "assistant", tsAt(40), "y"),
      ("a", 5, "user", tsAt(50), "x")
    ).toDF("conv_id", "turn_idx", "role", "ts", "payload")
    val r = SeriesOps.retryEcho(t, col("payload")).collect()(0)
    assert(r.getLong(1) == 6 && r.getLong(2) == 2 &&
      r.getLong(3) == 2 && r.getDouble(4) == 0.3333, r.toString)
  }

  test("tierStateSalted: the salted two-phase state equals tierState for every salt width, one hot conversation") {
    // one hot conversation, 400 turns over two hours, beside 20 cold ones
    // of 5 turns; integer values, so every summation order is exact
    val hot = for (k <- 0 until 400)
      yield ("hot", tsAt(k * 17L), k, (k * 37 % 101).toDouble)
    val cold = for {
      c <- 0 until 20
      k <- 0 until 5
    } yield (f"c$c%03d", tsAt(c * 311L + k * 997L), k, (c * 7 + k).toDouble)
    val m = (hot ++ cold).toDF("conv_id", "ts", "turn_idx", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("conv_id", "bucket_ts").collect().toSeq
    val direct = rows(Rollup.tierState(m, Tier.H1, tsCol = "ts"))
    assert(direct.count(r => r.getString(0) == "hot" && r.getLong(2) > 100) == 2)
    for (w <- Seq(1, 3, 8)) {
      val salted = Rollup.tierStateSalted(m, Tier.H1, saltWidth = w, tsCol = "ts")
      assert(salted.columns.toSeq == Seq("conv_id", "bucket_ts", "n", "sum_v",
        "sum2_v", "min_v", "max_v"))
      assert(rows(salted) == direct, s"saltWidth=$w")
    }
  }

  test("tierStateGlobal: two-phase salted merge equals the direct unsalted aggregate; distinct convs exact") {
    // 40 convs x 7 turns across 3 hours, values derived from indices —
    // the salted two-phase result must equal a direct groupBy(bucket)
    // with count(DISTINCT conv_id), for any salt width.
    val rows = for {
      c <- 0 until 40
      k <- 0 until 7
    } yield (f"c$c%03d", tsAt(c * 97 + k * 1201), k, (c * 31 + k * 7 % 13).toDouble)
    val m = rows.toDF("conv_id", "ts", "turn_idx", "value")
    val direct = m
      .groupBy(date_trunc("hour", col("ts")).as("bucket_ts"))
      .agg(count("value").as("n"),
        count_distinct(col("conv_id")).as("n_convs"),
        sum("value").as("sum_v"),
        sum(col("value") * col("value")).as("sum2_v"),
        min("value").as("min_v"), max("value").as("max_v"))
      .orderBy("bucket_ts").collect().toSeq
    for (w <- Seq(1, 5, 32)) {
      val salted = Rollup.tierStateGlobal(m, Tier.H1, saltWidth = w, tsCol = "ts")
        .orderBy("bucket_ts").collect().toSeq
      assert(salted == direct, s"saltWidth=$w")
    }
    // presentState of global state: std on a known two-value bucket
    val tiny = Seq(("a", tsAt(0), 0, 2.0), ("b", tsAt(1), 0, 4.0))
      .toDF("conv_id", "ts", "turn_idx", "value")
    val p = Rollup.presentState(
      Rollup.tierStateGlobal(tiny, Tier.H1, 4, tsCol = "ts")).collect()(0)
    assert(p.getLong(1) == 2 && p.getLong(2) == 2 &&
      p.getDouble(4) == 3.0 && p.getDouble(7) == 1.4142, p.toString)
  }
}
