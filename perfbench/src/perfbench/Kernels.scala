package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{GorillaCodec, SeriesKernels}
import graft.model.Tier
import graft.operators.Regularize

/** Spark-free kernel microbench: gap-fill and the chunk codec over the 1m
  * grids of seeded conversations. Spark only derives the grids (untimed).
  */
object Kernels {
  val nConv = 120

  final case class Grid(t0: Long, sparse: Array[Double])

  def grids(spark: SparkSession, seed: Long): Array[Grid] = {
    val step = Tier.M1.millis
    Regularize.firstValid(Inputs.transcripts(spark, nConv, seed), Tier.M1)
      .select(col("conv_id"), unix_millis(col("bucket_ts")).as("t"),
        col("value").cast("double").as("v"))
      .collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        val ts = rows.map(_.getLong(1))
        val t0 = ts.min
        val vs = Array.fill(((ts.max - t0) / step + 1).toInt)(Double.NaN)
        rows.foreach(r => vs(((r.getLong(1) - t0) / step).toInt) =
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
        Grid(t0, vs)
      }.toArray
  }

  /** Median ns per point of `body` over the whole grid set. */
  private def nsPerPoint(points: Long, seconds: Double)(prepare: () => Any)(body: Any => Unit): Seq[Double] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (out.size < 7 || (System.nanoTime() < deadline && out.size < 200)) {
      val in = prepare()
      val t0 = System.nanoTime()
      body(in)
      out += (System.nanoTime() - t0).toDouble / points
    }
    out.toSeq
  }

  def run(spark: SparkSession, seed: Long, rep: Report, seconds: Double): Unit = {
    val gs = grids(spark, seed)
    val step = Tier.M1.millis
    val points = gs.map(_.sparse.length.toLong).sum
    val filled = gs.map(g => SeriesKernels.imputeLinearInPlace(g.sparse.clone()))
    val lp = filled.map(GorillaCodec.encodeValuesLP)
    val dod = gs.indices.map(i => GorillaCodec.encodeRegularTimestamps(gs(i).t0, step, filled(i).length)).toArray
    rep.value("kernels.points", points)
    rep.value("gorillacodec.lp_bytes_per_pt", lp.map(_.length.toLong).sum.toDouble / points)
    rep.value("gorillacodec.dod_bytes_per_pt", dod.map(_.length.toLong).sum.toDouble / points)
    rep.check("LP codec round trip is exact", gs.indices.forall { i =>
      val back = GorillaCodec.decodeValuesLP(lp(i))
      back.length == filled(i).length && back.indices.forall(j =>
        java.lang.Double.doubleToRawLongBits(back(j)) ==
          java.lang.Double.doubleToRawLongBits(filled(i)(j)))
    })
    rep.check("dod timestamps decode to the grid", gs.indices.forall { i =>
      val back = GorillaCodec.decodeTimestamps(dod(i))
      back.length == filled(i).length && back.indices.forall(j => back(j) == gs(i).t0 + j * step)
    })

    val share = seconds / 5
    var sink = 0L
    nsPerPoint(points, share)(() => gs.map(_.sparse.clone())) { in =>
      in.asInstanceOf[Array[Array[Double]]].foreach(x => sink += SeriesKernels.imputeLinearInPlace(x).length)
    }.foreach(rep.sample("serieskernels.impute_ns_per_pt", _))
    nsPerPoint(points, share)(() => ()) { _ =>
      filled.foreach(v => sink += GorillaCodec.encodeValuesLP(v).length)
    }.foreach(rep.sample("gorillacodec.lp_encode_ns_per_pt", _))
    nsPerPoint(points, share)(() => ()) { _ =>
      lp.foreach(b => sink += GorillaCodec.decodeValuesLP(b).length)
    }.foreach(rep.sample("gorillacodec.lp_decode_ns_per_pt", _))
    nsPerPoint(points, share)(() => ()) { _ =>
      gs.indices.foreach(i => sink += GorillaCodec.encodeRegularTimestamps(gs(i).t0, step, filled(i).length).length)
    }.foreach(rep.sample("gorillacodec.dod_encode_ns_per_pt", _))
    nsPerPoint(points, share)(() => ()) { _ =>
      dod.foreach(b => sink += GorillaCodec.decodeTimestamps(b).length)
    }.foreach(rep.sample("gorillacodec.dod_decode_ns_per_pt", _))
    rep.check("kernels produced output", sink > 0)
  }
}
