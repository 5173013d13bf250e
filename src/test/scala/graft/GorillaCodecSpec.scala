package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GorillaCodec._

/** Property-style tests with seeded generators (scalatestplus bridge is not
  * in the offline cache, so properties are hand-rolled deterministic loops).
  */
class GorillaCodecSpec extends AnyFunSuite {

  private def randTs(rnd: java.util.Random): Array[Long] = {
    val n = rnd.nextInt(300)
    var t = math.abs(rnd.nextLong() % 1800000000000L)
    Array.fill(n) {
      t += (if (rnd.nextBoolean()) rnd.nextInt(100).toLong
            else math.abs(rnd.nextLong() % 10000000L))
      t
    }
  }

  private def randVs(rnd: java.util.Random): Array[java.lang.Double] = {
    val n = rnd.nextInt(300)
    Array.fill[java.lang.Double](n) {
      rnd.nextInt(7) match {
        case 0 => null
        case 1 => java.lang.Double.valueOf(Double.NaN)
        case 2 => java.lang.Double.valueOf(Double.PositiveInfinity)
        case 3 => java.lang.Double.valueOf(if (rnd.nextBoolean()) 0.0 else -0.0)
        case 4 => java.lang.Double.valueOf(rnd.nextInt(500).toDouble)
        case _ => java.lang.Double.valueOf(rnd.nextDouble() * 2e12 - 1e12)
      }
    }
  }

  test("timestamp round-trip identity (200 seeded cases)") {
    val rnd = new java.util.Random(42)
    (1 to 200).foreach { _ =>
      val ts = randTs(rnd)
      assert(decodeTimestamps(encodeTimestamps(ts)).toSeq == ts.toSeq)
    }
  }

  test("value round-trip identity incl null/NaN/±inf/-0.0 (200 seeded cases)") {
    val rnd = new java.util.Random(7)
    (1 to 200).foreach { _ =>
      val vs = randVs(rnd)
      val back = decodeValues(encodeValues(vs))
      assert(back.length == vs.length)
      back.zip(vs).foreach { case (b, v) =>
        if (v == null) assert(b == null)
        else assert(java.lang.Double.doubleToRawLongBits(b.doubleValue()) ==
          java.lang.Double.doubleToRawLongBits(v.doubleValue()))
      }
    }
  }

  test("encodeRegularTimestamps emits the identical bit stream, fast path") {
    for (n <- Seq(0, 1, 2, 3, 100, 4099)) {
      val t0 = 1700000000123L; val step = 60000L
      val arr = Array.tabulate(n)(i => t0 + i * step)
      assert(java.util.Arrays.equals(
        encodeRegularTimestamps(t0, step, n), encodeTimestamps(arr)), s"n=$n")
    }
  }

  test("encodeValuesRaw == boxed encode; NaN round-trips as null") {
    val vs = Array(1.5, 1.5, -0.0, Double.NaN, 3.25, Double.NaN, 1e300)
    val boxed = vs.map(v => if (v.isNaN) null else java.lang.Double.valueOf(v))
    assert(java.util.Arrays.equals(encodeValuesRaw(vs), encodeValues(boxed)))
    val back = decodeValues(encodeValuesRaw(vs))
    assert(back(3) == null && back(5) == null)
    assert(back(0) == 1.5 && back(6) == 1e300)
  }

  test("LP codec round-trips exactly and crushes piecewise-linear fills") {
    val rnd = new java.util.Random(11)
    // random payloads round-trip bit-exactly
    for (_ <- 0 until 100) {
      val vs = Array.fill(200)(rnd.nextInt(5) match {
        case 0 => Double.NaN
        case 1 => rnd.nextInt(300).toDouble
        case _ => rnd.nextDouble() * 1e6 - 5e5
      })
      val back = decodeValuesLP(encodeValuesLP(vs))
      vs.zip(back).foreach { case (v, b) =>
        if (v.isNaN) assert(b == null)
        else assert(java.lang.Double.doubleToRawLongBits(b.doubleValue()) ==
          java.lang.Double.doubleToRawLongBits(v))
      }
    }
    // gap-fill style series: LOCF runs + interior linear interpolation
    val n = 20000
    val filled = new Array[Double](n)
    var i = 0
    while (i < n) {
      val runLen = 20 + rnd.nextInt(200)
      val a = rnd.nextInt(260).toDouble; val b2 = rnd.nextInt(260).toDouble
      var j = 0
      while (j < runLen && i + j < n) {
        filled(i + j) = a + (j * (b2 - a) / runLen) // interpolated segment
        j += 1
      }
      i += runLen
    }
    val lp = encodeValuesLP(filled).length
    val g = encodeValuesRaw(filled).length
    // each interpolated point's prediction is off by ≤ ulps, so the residual
    // keeps some low mantissa bits — still clearly smaller than XOR-vs-prev
    assert(lp * 4 < g * 3, s"LP $lp vs Gorilla $g — expected ≥1.33× smaller")
    assert(java.util.Arrays.equals(
      decodeValuesLP(encodeValuesLP(filled)).map(_.doubleValue()),
      filled))
  }

  test("regular grid compresses hard (dod=0, small value alphabet)") {
    val n = 10000
    val ts = Array.tabulate(n)(i => 1700000000000L + i * 60000L)
    val vs = Array.tabulate(n)(i => java.lang.Double.valueOf((i % 7).toDouble))
    val tb = encodeTimestamps(ts)
    val vb = encodeValues(vs)
    assert(tb.length < n / 4, s"ts bytes ${tb.length}") // ~1 bit/point
    assert(vb.length < n * 4, s"value bytes ${vb.length}")
  }

  test("stored byte format is pinned: SHA-256 of every encoder's output") {
    def sha(chunks: Seq[Array[Byte]]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      chunks.foreach(md.update)
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    val rnd = new java.util.Random(2015)
    // n = 0, 1, 2, 3: no head, the heads alone, the first residual
    val edgeTs = Array(1700000000123L, 1700000060123L, 1700000060200L)
    val edgeVs = Array[java.lang.Double](1.5, null, Double.NaN)
    val tss = (1 to 100).map(_ => randTs(rnd)) ++ (0 to 3).map(edgeTs.take)
    val boxed = (1 to 100).map(_ => randVs(rnd)) ++ (0 to 3).map(edgeVs.take)
    val prim = boxed.map(_.map(v => if (v == null) Double.NaN else v.doubleValue))
    assert(sha(tss.map(encodeTimestamps)) ==
      "0acbecf5c40fb8004fb4e8ad34f87b9c12cfe98462eda9ec0dd3df4ca571152b", "encodeTimestamps")
    assert(sha(boxed.map(encodeValues)) ==
      "58da3c83028f77aa62a6df5c5b033bab9ea7837103438df13d0442f9bdb7b82c", "encodeValues")
    assert(sha(prim.map(encodeValuesRaw)) ==
      "2f0a4fb5383f331ae874b9a564c552dc74b644adb9e3597519eee52a5fbe5fa8", "encodeValuesRaw")
    assert(sha(prim.map(encodeValuesLP)) ==
      "f592ca77ab998a9752a26cd6994fd02d70dff1dec2e0218a6389f41847ce628f", "encodeValuesLP")
  }
}
