package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextAnalysis}

/** Round-5 batch 4: Heaps'-law fit, Simpson concentration, cluster
  * purity/NMI.
  */
class Round5aaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("heapsLaw: two-doc corpus reproduces the quantized log-log OLS exactly") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.heapsLaw(docs).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 4 && r.getLong(2) == 3)
    // points: (q(ln 2), q(ln 2)), (q(ln 4), q(ln 3)) with q = floor(1e4*ln+0.5)
    def q(x: Double) = math.floor(math.log(x) * 10000 + 0.5).toLong
    val (x1, y1, x2, y2) = (q(2), q(2), q(4), q(3))
    val n = 2L
    val beta = (n * (x1 * y1 + x2 * y2) - (x1 + x2) * (y1 + y2)).toDouble /
      (n * (x1 * x1 + x2 * x2) - (x1 + x2) * (x1 + x2))
    def r4(v: Double) = BigDecimal(v + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("beta") == r4(beta))
    val lnk = ((y1 + y2).toDouble - beta * (x1 + x2)) / (n * 10000.0)
    assert(r.getAs[Double]("ln_k") == r4(lnk))
  }

  test("heapsLaw: past the int64 bound of its OLS sums it raises ARITHMETIC_OVERFLOW") {
    // 34,000 docs of one new word each: x = y = q(ln i) at doc i, so
    // n·Σxy ≈ 1.13·2^63 and Σx·Σy ≈ 1.12·2^63 leave the int64 range
    val docs = spark.range(1, 34001).select(col("id").as("doc_id"),
      concat(lit("w"), col("id").cast("string")).as("text"))
    val e = intercept[Exception](TextAnalysis.heapsLaw(docs).collect())
    // SparkArithmeticException is private[spark]: match its public trait
    val overflow = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .collectFirst { case a: org.apache.spark.SparkThrowable => a }
    assert(overflow.exists(a => a.getCondition == "ARITHMETIC_OVERFLOW" &&
      a.getClass.getSimpleName == "SparkArithmeticException"), e)
  }

  test("simpsonConcentration: 'a a b' -> simpson 5/9, effective vocab 1.8") {
    import spark.implicits._
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val r = TextAnalysis.simpsonConcentration(docs).collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
    assert(r.getAs[Double]("simpson") == 0.5556)
    assert(r.getAs[Double]("eff_vocab") == 1.8)
  }

  test("clusterAgreement: perfect partition -> purity 1 and NMI 1; single cluster -> NMI 0, no NaN") {
    import spark.implicits._
    val emb = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y"))
      .toDF("vec_id", "label")
    val perfect = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("vec_id", "cell")
    val rp = Similarity.clusterAgreement(emb, perfect).collect().head
    assert(rp.getAs[Double]("purity") == 1.0)
    assert(rp.getAs[Double]("nmi") == 1.0)
    assert(rp.getAs[Double]("mi") == rp.getAs[Double]("h_cell"))
    val one = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L))
      .toDF("vec_id", "cell")
    val ro = Similarity.clusterAgreement(emb, one).collect().head
    assert(ro.getAs[Double]("purity") == 0.5)
    assert(ro.getAs[Double]("nmi") == 0.0 && !ro.getAs[Double]("nmi").isNaN)
  }
}
