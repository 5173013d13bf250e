package graft.runtime

import java.io.{RandomAccessFile, StringWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import graft.model.ManifestEntry

/** The lineage-manifest codec, and the views [[TierPipeline]] derives from
  * a manifest's entries.
  *
  * A tier's manifest `<tier>.manifest.jsonl` is an append-only log with one
  * JSON object per line: the fields of [[graft.model.ManifestEntry]] in
  * declaration order, optional ones only on the statuses that carry them:
  *
  * {{{
  * jobId tier bucket snapshotId path window
  *   [minTs maxTs rowsIn rowsOut wallMs]   committed
  *   [cutoffMs | supersededBy]             expired
  * status
  * }}}
  *
  * The four statuses (five line shapes):
  *  - `committed`: batch dir `path` holds `bucket` of input snapshot
  *    `snapshotId` for ingest `window` ("-" for none), with the event-time
  *    range [minTs, maxTs] in epoch ms and the row counts observed on the
  *    write. minTs/maxTs are -1 when the tier has no time column or the
  *    batch is empty; rowsIn is -1 when the input has no `n` column or the
  *    bucket was adopted from another snapshot.
  *  - `expired`: a tombstone (bucket -1, window "-") hiding `path` from
  *    readers of `snapshotId`. Retention writes it with `cutoffMs`;
  *    retirement of a superseded snapshot with `supersededBy`, the snapshot
  *    that replaced it.
  *  - `compacted`: a tombstone for a batch dir merged into a compaction
  *    target.
  *  - `vacuumed`: `path` was deleted from disk (snapshotId -1: a deletion
  *    is global).
  *
  * Tombstones hide a batch from readers but never uncommit it: the resume
  * diff keeps seeing its buckets as done.
  *
  * Torn tail: a crash mid-append can leave the last line unterminated.
  * Readers ignore it, and the next append cuts it off first, so a line
  * counts only once its newline is on disk. Any other line that does not
  * decode — bad JSON, a missing or mistyped field, an unknown status —
  * fails the read, naming the file and line number. Unknown fields are
  * ignored.
  */
object Manifest {

  val Committed = "committed"
  val Expired = "expired"
  val Compacted = "compacted"
  val Vacuumed = "vacuumed"
  private val Statuses = Set(Committed, Expired, Compacted, Vacuumed)

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** One manifest line, without its newline: the fields of `e` in
    * declaration order, absent options left out.
    */
  def encode(e: ManifestEntry): String = {
    val w = new StringWriter()
    val g = json.getFactory.createGenerator(w)
    g.writeStartObject()
    e.productElementNames.zip(e.productIterator).foreach {
      case (k, v: String)     => g.writeStringField(k, v)
      case (k, v: Int)        => g.writeNumberField(k, v)
      case (k, v: Long)       => g.writeNumberField(k, v)
      case (k, Some(v: Long)) => g.writeNumberField(k, v)
      case (_, None)          =>
    }
    g.writeEndObject()
    g.close()
    w.toString
  }

  /** Decode one complete line; `where` (file:line) prefixes any error. */
  def decode(line: String, where: String): ManifestEntry = {
    def bad(why: String): Nothing =
      throw new IllegalStateException(s"$where: $why in manifest line: $line")
    val node =
      try json.readTree(line)
      catch { case e: JsonProcessingException => bad(s"malformed JSON (${e.getOriginalMessage})") }
    if (node == null || !node.isObject) bad("not a JSON object")
    def str(k: String): String = Option(node.get(k)).filter(_.isTextual)
      .map(_.textValue).getOrElse(bad(s"missing string field '$k'"))
    def opt(k: String): Option[Long] = Option(node.get(k)).map { n =>
      if (n.isIntegralNumber && n.canConvertToLong) n.longValue
      else bad(s"field '$k' is not a 64-bit integer")
    }
    def req(k: String): Long = opt(k).getOrElse(bad(s"missing field '$k'"))
    val status = str("status")
    if (!Statuses(status)) bad(s"unknown status '$status'")
    val bucket = req("bucket")
    if (!bucket.isValidInt) bad("bucket out of int range")
    ManifestEntry(str("jobId"), str("tier"), bucket.toInt, req("snapshotId"),
      str("path"), str("window"), opt("minTs"), opt("maxTs"), opt("rowsIn"),
      opt("rowsOut"), opt("wallMs"), opt("cutoffMs"), opt("supersededBy"),
      status)
  }

  /** Every entry of the manifest at `p` (none when it does not exist), in
    * one file read; a torn last line is ignored.
    */
  def read(p: Path): Seq[ManifestEntry] =
    if (!Files.exists(p)) Nil
    else {
      // after a newline-terminated last line the final piece is ""
      val pieces = new String(Files.readAllBytes(p), UTF_8).split("\n", -1)
      pieces.toSeq.init.zipWithIndex.map { case (l, i) => decode(l, s"$p:${i + 1}") }
    }

  /** Append `es` to the manifest at `p` in one write, after cutting off a
    * torn last line.
    */
  def append(p: Path, es: Seq[ManifestEntry]): Unit = {
    if (es.isEmpty) return
    Files.createDirectories(p.getParent)
    if (Files.exists(p)) cutTornTail(p)
    Files.write(p, es.map(encode).mkString("", "\n", "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def cutTornTail(p: Path): Unit = {
    val f = new RandomAccessFile(p.toFile, "rw")
    try {
      var end = f.length
      while (end > 0 && { f.seek(end - 1); f.read() != '\n' }) end -= 1
      if (end < f.length) f.setLength(end)
    } finally f.close()
  }

  private def committed(es: Seq[ManifestEntry], snapshotId: Long) =
    es.filter(e => e.status == Committed && e.snapshotId == snapshotId)

  private def isTombstone(e: ManifestEntry) =
    e.status == Expired || e.status == Compacted

  private def tombstonedPaths(es: Seq[ManifestEntry], snapshotId: Long) =
    es.filter(e => isTombstone(e) && e.snapshotId == snapshotId).map(_.path).toSet

  /** Buckets committed for the snapshot and ingest window (tombstoned or
    * not: expiry is not un-commitment).
    */
  def committedBuckets(es: Seq[ManifestEntry], snapshotId: Long,
      window: Option[String]): Set[Int] =
    committed(es, snapshotId).filter(_.window == window.getOrElse("-"))
      .map(_.bucket).toSet

  /** Batch dirs live for readers of the snapshot, in first-commit order:
    * committed under it and not tombstoned under it. Tombstones are
    * per-snapshot, so a dir adopted by another snapshot stays live there.
    */
  def committedPaths(es: Seq[ManifestEntry], snapshotId: Long): Seq[String] = {
    val dead = tombstonedPaths(es, snapshotId)
    committed(es, snapshotId).map(_.path).distinct.filterNot(dead)
  }

  /** The committed entries of the snapshot whose batch dir is live. */
  def liveEntries(es: Seq[ManifestEntry], snapshotId: Long): Seq[ManifestEntry] = {
    val live = committedPaths(es, snapshotId).toSet
    committed(es, snapshotId).filter(e => live(e.path))
  }

  /** Live batch dir → the buckets the snapshot commits it for. */
  def committedPathBuckets(es: Seq[ManifestEntry],
      snapshotId: Long): Map[String, Set[Int]] =
    liveEntries(es, snapshotId).groupBy(_.path)
      .map { case (pa, xs) => pa -> xs.map(_.bucket).toSet }

  /** Largest committed maxTs of the snapshot; -1 if none. */
  def latestCommittedMaxTs(es: Seq[ManifestEntry], snapshotId: Long): Long =
    committed(es, snapshotId).flatMap(_.maxTs).foldLeft(-1L)(math.max)

  /** Per committed batch dir of the snapshot, the [min minTs, max maxTs] of
    * its entries, ignoring -1 (unknown) bounds.
    */
  def committedRanges(es: Seq[ManifestEntry],
      snapshotId: Long): Map[String, (Long, Long)] =
    committed(es, snapshotId).groupBy(_.path).map { case (pa, xs) =>
      val mns = xs.flatMap(_.minTs).filter(_ >= 0)
      val mxs = xs.flatMap(_.maxTs).filter(_ >= 0)
      pa -> (if (mns.isEmpty) -1L else mns.min, if (mxs.isEmpty) -1L else mxs.max)
    }

  /** Batch dirs of the snapshot that a retention sweep at `cutoffMs`
    * tombstones: committed with a known maxTs before the cutoff and not
    * already tombstoned under this snapshot (by retention or compaction).
    */
  def expiryVictims(es: Seq[ManifestEntry], snapshotId: Long,
      cutoffMs: Long): Seq[String] = {
    val already = tombstonedPaths(es, snapshotId)
    committed(es, snapshotId)
      .filter(e => e.maxTs.exists(t => t >= 0 && t < cutoffMs) && !already(e.path))
      .map(_.path).distinct
  }

  /** Tombstoned dirs that may be deleted from disk, sorted: not vacuumed
    * yet, and tombstoned by EVERY snapshot that committed them (a dir
    * shared by several snapshots is deleted only once none reads it —
    * Iceberg's rule for data files shared across retained snapshots).
    */
  def expiredLivePaths(es: Seq[ManifestEntry]): Seq[String] = {
    val committedBy = es.filter(_.status == Committed)
      .map(e => (e.snapshotId, e.path)).toSet
    val tombstoned = es.filter(isTombstone).map(e => (e.snapshotId, e.path)).toSet
    val vacuumed = es.filter(_.status == Vacuumed).map(_.path).toSet
    val stillLive = (committedBy diff tombstoned).map(_._2)
    tombstoned.map(_._2).filterNot(pa => vacuumed(pa) || stillLive(pa)).toSeq.sorted
  }

  /** Next generation number for batch dirs named `<prefix><n>`: one past
    * the largest in any entry, or 1.
    */
  def nextGeneration(es: Seq[ManifestEntry], prefix: String): Int = {
    val gens = es.map(_.path).filter(_.startsWith(prefix)).map(_.drop(prefix.length))
      .filter(g => g.nonEmpty && g.forall(c => c >= '0' && c <= '9')).map(_.toInt)
    if (gens.isEmpty) 1 else gens.max + 1
  }
}
