package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Seeded inputs. The engine sees only the tables written here. */
object Inputs {

  /** The synthetic transcript generator the tier store is built from
    * (Zipf-skewed: about 1% hot conversations with ~100x median turns).
    */
  def transcripts(spark: SparkSession, nConv: Int, seed: Long): DataFrame =
    Transcripts.synthetic(spark, nConv, seed).toDF()

  /** Write `df` as the input table of a tier job; returns the input path
    * (its files' size and mtime are the store's snapshot id).
    */
  def writeInput(df: DataFrame, path: String): String = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$path/transcripts.parquet")
    path
  }

  def readInput(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/transcripts.parquet")

  private val eventTypes = Array("signup", "click", "error", "view", "purchase")
  private val vocab = ("query row stream the spark line small fast group customer " +
    "part column order scan a slow agg key window table merge vector join batch " +
    "sort value hash filter big data dup").split(" ")
  private val langs = Array("en", "en", "en", "en", "en", "en", "fr", "fr", "es", "es",
    "zh", "zh", "de", "de")

  /** `events.parquet` and `documents.parquet` with the driver's test-data
    * schema: events over 30 days from 2024-01-01 spread uniformly over
    * `nUsers` users; documents drawn from the same 31-word vocabulary, with
    * a few byte-identical copies.
    */
  def driverTables(spark: SparkSession, dir: String, nEvents: Int, nUsers: Int,
      nDocs: Int, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(seed * 7919L + 17L)
    val t0Us = 1704067200000000L // 2024-01-01T00:00:00Z
    val spanUs = 30L * 86400L * 1000000L
    val offsets = Array.fill(nEvents)((rnd.nextDouble() * spanUs).toLong).sorted
    val events = (0 until nEvents).map { i =>
      val ts = new Timestamp((t0Us + offsets(i)) / 1000L)
      ts.setNanos(((t0Us + offsets(i)) % 1000000L).toInt * 1000)
      val value = math.round(-math.log(1.0 - rnd.nextDouble()) * 10000.0) / 100.0
      (i.toLong, ts, rnd.nextInt(nUsers).toLong, eventTypes(rnd.nextInt(eventTypes.length)),
        value, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      texts(i) =
        if (i > 10 && rnd.nextInt(500) == 0) texts(rnd.nextInt(i))
        else Seq.fill(8 + rnd.nextInt(93))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i.toLong, texts(i), langs(rnd.nextInt(langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }
}
