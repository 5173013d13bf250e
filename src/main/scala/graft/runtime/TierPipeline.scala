package graft.runtime

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, Executors}
import scala.util.{Failure, Try}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession, classic}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.model.{ChunkStruct, ManifestEntry, Tier}
import graft.operators.{ChunkStore, Downsample, Regularize, Rollup, SeriesRollup}

/** Resumable tier-rollup pipeline with per-partition lineage manifests —
  * the north-rule runtime, mirroring the reference's missing-jobs recovery
  * (/root/reference/R/api_gdalcubes.R:506-513,713-768: re-scan produced
  * outputs, diff against wanted (tile×band×time), re-enqueue only the
  * missing) and resume-from-existing-files convention
  * (R/api_regularize.R:134-145).
  *
  * Work unit = (tier, conv-hash bucket). A commit writes the rows of a set
  * of buckets as ONE batch directory of plain parquet, `bucket` an ordinary
  * column, named by (snapshot, window, bucket set) — the sandbox stand-in
  * for an Iceberg data-file commit: a re-run of the same bucket set
  * overwrites the same dir, so retries are idempotent. After the write, ONE
  * append to `<tier>.manifest.jsonl` records a line per bucket (job, tier,
  * bucket, input snapshot id, batch dir, time range, rows in/out, wall ms,
  * status); [[Manifest]] defines the line format and the views every
  * operation here reads it through. Every batch commit, a patch's adopted
  * buckets included, goes through [[commitBatch]].
  *
  * Resume = diff wanted buckets against committed manifest lines (the
  * manifest is the only truth — reference precedent: re-derive, don't trust
  * in-flight state) and process only the missing ones. A crash between the
  * write and the manifest append commits nothing; the re-run overwrites
  * that batch dir. Readers see exactly what the manifest commits
  * ([[readTier]]).
  *
  * At cluster scale: buckets = Iceberg `bucket(conv_id)` partitions; the
  * manifest carries the snapshot id so a changed input invalidates resume.
  */
object TierPipeline {

  final case class TierRun(tier: String, processed: Seq[Int], skipped: Seq[Int],
      rowsIn: Long, rowsOut: Long)

  def bucketCol(nBuckets: Int) = pmod(hash(col("conv_id")), lit(nBuckets))

  private def manifestPath(outRoot: String, tier: String) =
    Paths.get(s"$outRoot/${tier}.manifest.jsonl")

  /** The tier's manifest entries: the one manifest read of an operation. */
  private def entries(outRoot: String, tier: String): Seq[ManifestEntry] =
    Manifest.read(manifestPath(outRoot, tier))

  private def append(outRoot: String, tier: String,
      es: Seq[ManifestEntry]): Unit =
    Manifest.append(manifestPath(outRoot, tier), es)

  /** A `committed` entry per bucket of one batch commit. */
  private def commitEntries(jobId: String, tier: String, snapshotId: Long,
      buckets: Seq[Int], path: String, rowsIn: Long, rowsOut: Long,
      wallMs: Long, window: Option[String] = None, minTs: Long = -1L,
      maxTs: Long = -1L): Seq[ManifestEntry] =
    buckets.map(b => ManifestEntry(jobId, tier, b, snapshotId, path,
      window.getOrElse("-"), Some(minTs), Some(maxTs), Some(rowsIn),
      Some(rowsOut), Some(wallMs), status = Manifest.Committed))

  /** Buckets with a committed manifest line for this snapshot (and ingest
    * window, when the tier is fed by windowed appends). Expiry tombstones do
    * NOT uncommit a bucket: retention must never cause re-ingestion, so the
    * resume diff keeps seeing expired windows as done.
    */
  def committedBuckets(outRoot: String, tier: String, snapshotId: Long,
      window: Option[String] = None): Set[Int] =
    Manifest.committedBuckets(entries(outRoot, tier), snapshotId, window)

  /** The one "tier fully committed" rule: `done` holds every bucket. */
  private def complete(done: Set[Int], nBuckets: Int): Boolean =
    (0 until nBuckets).forall(done)

  /** Refuse `op` unless `tier`, committed for `done`, is [[complete]]. */
  private def requireComplete(op: String, tier: String, snapshotId: Long,
      done: Set[Int], nBuckets: Int): Unit =
    require(complete(done, nBuckets), s"$op: tier $tier is not fully " +
      s"committed for snapshot $snapshotId " +
      s"(${(0 until nBuckets).count(done)}/$nBuckets buckets)")

  /** Batch directories committed for this snapshot (manifest = table of
    * contents, exactly an Iceberg manifest-list in miniature). A tier's data
    * is the union of its committed batch dirs; in-flight or stale-snapshot
    * dirs are invisible to readers, and so are dirs retention or compaction
    * tombstoned under this snapshot.
    */
  def committedPaths(outRoot: String, tier: String, snapshotId: Long): Seq[String] =
    Manifest.committedPaths(entries(outRoot, tier), snapshotId)

  /** Newest committed event-time high-water mark of a tier for this
    * snapshot (max over committed lines' maxTs; -1 if none carry one). The
    * streaming retention hook derives its cutoff from this instead of
    * re-aggregating the micro-batch — the manifest already carries the
    * range metrics the write job observed.
    */
  def latestCommittedMaxTs(outRoot: String, tier: String,
      snapshotId: Long): Long =
    Manifest.latestCommittedMaxTs(entries(outRoot, tier), snapshotId)

  /** Logical retention sweep ≙ TimescaleDB `drop_chunks` / Iceberg
    * partition expiry, metadata-only: tombstone every committed batch of
    * `tier` whose ENTIRE time range lies before `cutoffMs` (batches
    * straddling the cutoff stay — retention is batch-aligned, so the drop
    * is always a whole-partition delete, never a rewrite; at cluster scale
    * this is an Iceberg metadata commit touching zero data files).
    *
    * `guardTier` is the coarser tier that must be FULLY committed first —
    * fine data may only expire once it has been rolled up (the same
    * stage-dependency gate the cascade uses); pass None only for terminal
    * tiers with no downstream consumer.
    *
    * Returns the newly tombstoned paths. Idempotent: already-expired
    * batches are skipped, so a crashed sweep just re-runs.
    */
  def expireBatches(outRoot: String, tier: String, snapshotId: Long,
      cutoffMs: Long, guardTier: Option[String], nBuckets: Int): Seq[String] = {
    // refusing to expire un-rolled-up data
    guardTier.foreach(g => requireComplete("retention guard", g, snapshotId,
      committedBuckets(outRoot, g, snapshotId), nBuckets))
    // a path already tombstoned UNDER THIS SNAPSHOT — by retention OR by
    // compaction (whose replaced dirs are dead to readers and must not
    // re-enter the sweep) — is not a fresh victim. The filter is
    // per-snapshot on purpose: a dir shared across snapshots (patchTier
    // adoption) needs its own tombstone from EACH referencing snapshot
    // before the vacuum GC may touch it, mirroring committedPaths' reader
    // view.
    val victims = Manifest.expiryVictims(entries(outRoot, tier), snapshotId,
      cutoffMs)
    append(outRoot, tier, victims.map(path =>
      ManifestEntry(s"retention-$tier-$snapshotId", tier, -1, snapshotId,
        path, "-", cutoffMs = Some(cutoffMs), status = Manifest.Expired)))
    victims
  }

  /** Physical retention sweep: delete batch directories tombstoned by
    * [[expireBatches]] (two-phase, ≙ Iceberg `expire_snapshots` then
    * `remove_orphan_files`) and record the deletion. Idempotent; refuses
    * paths outside `outRoot` (a corrupted manifest must never become an
    * arbitrary recursive delete).
    */
  def vacuumTier(outRoot: String, tier: String): Seq[String] = {
    val rootAbs = Paths.get(outRoot).toAbsolutePath.normalize
    val deleted = Manifest.expiredLivePaths(entries(outRoot, tier)).flatMap { path =>
      val dir = Paths.get(path).toAbsolutePath.normalize
      require(dir.startsWith(rootAbs),
        s"vacuum: $path escapes tier root $outRoot — refusing")
      if (Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(dir)
        try s.sorted(java.util.Comparator.reverseOrder())
          .iterator.asScala.foreach(Files.delete)
        finally s.close()
        Some(path)
      } else Some(path) // dir already gone (crashed vacuum) — just record
    }
    append(outRoot, tier, deleted.map(path => ManifestEntry(s"vacuum-$tier",
      tier, -1, -1L, path, "-", status = Manifest.Vacuumed)))
    deleted
  }

  /** Compact a tier's committed batch dirs into ONE consolidated batch ≙
    * Iceberg `rewrite_data_files` (bin-packing compaction). The small-file
    * problem is the operational failure mode of long-lived windowed ingest:
    * at 10^12 turns a per-window commit cadence leaves thousands of small
    * batch dirs per tier and tier scans become file-open bound. The rewrite
    * reads only manifest-committed live batches of the snapshot, writes one
    * new batch dir, and swaps the manifest in a SINGLE append — replayed
    * `committed` lines (one per source (bucket, window), now pointing at
    * the consolidated path) plus one `compacted` tombstone per source path,
    * the miniature of Iceberg's atomic manifest-list pointer swap: readers
    * see the old set or the new set, never both, and the resume diff keeps
    * seeing every (bucket, window) as done. [[vacuumTier]] physically
    * removes the replaced dirs exactly like retention tombstones.
    *
    * The consolidated lines carry the batch's GLOBAL [minTs,maxTs], so
    * retention keeps its whole-batch-only delete invariant: a compacted
    * batch expires only when ALL of it is past the cutoff (compaction
    * deliberately coarsens retention granularity — compact tiers whose
    * retention horizon is far away, the same guidance Iceberg gives).
    *
    * Idempotent/crash-safe: the consolidated dir name is deterministic; a
    * crash before the manifest append leaves it invisible and the re-run
    * overwrites it; a re-run after the append sees it live and no-ops.
    * Returns the consolidated path, or None when ≤1 live batch (nothing to
    * merge).
    */
  def compactTier(spark: SparkSession, outRoot: String, tier: String,
      snapshotId: Long): Option[String] =
    compactTier(spark, outRoot, tier, snapshotId, () => ())

  /** Test seam: `midSwap` runs after the consolidated dir is written but
    * BEFORE the single manifest append (the swap point) — the window in
    * which a concurrent ingest can commit a new batch. The swap replays
    * only the (bucket, window) lines captured at planning time and
    * tombstones only the planned source paths, so a batch committed inside
    * the window stays live and un-tombstoned (RetentionSpec proves it).
    */
  private[graft] def compactTier(spark: SparkSession, outRoot: String,
      tier: String, snapshotId: Long, midSwap: () => Unit): Option[String] = {
    val es = entries(outRoot, tier)
    val live = Manifest.committedPaths(es, snapshotId)
    if (live.size <= 1) return None // nothing to merge (incl. fresh post-compact)
    // GENERATIONAL target name: batches committed after a compaction (a
    // live stream keeps appending) must be compactable again, so each pass
    // gets the next generation number derived from the manifest — a crash
    // before the manifest append recomputes the same name and overwrites
    // (idempotent); after the append the merged result is the single live
    // path and the next call no-ops until new batches arrive.
    val genPrefix = s"$outRoot/$tier/compact_${snapshotId}_g"
    val target = genPrefix + Manifest.nextGeneration(es, genPrefix)
    val t0 = System.nanoTime()
    // the (bucket, window) commits being replayed onto the consolidated path
    val commits = Manifest.liveEntries(es, snapshotId)
      .map(e => (e.bucket, e.window)).distinct
    // EXACT (path, bucket) read, not a raw union of the live dirs: a dir
    // adopted by patchTier/eraseConvs may physically carry superseded rows
    // for buckets this snapshot committed elsewhere — an unfiltered union
    // would both double-count those buckets and keep erased bytes alive.
    // The bucket-filtered rewrite is what makes compaction the PHYSICAL
    // completer of an erasure (Iceberg's rewrite_data_files role).
    val src = readExact(spark, Manifest.committedPathBuckets(es, snapshotId))
    val observed = writeObserved(src, s"compact-$tier", target)
    val rows = observed("out")
    val wallMs = (System.nanoTime() - t0) / 1000000
    // ONE append = the atomic swap: replayed commits + source tombstones
    val jobId = s"compact-$tier-$snapshotId"
    val swap = commits.flatMap { case (b, w) =>
      commitEntries(jobId, tier, snapshotId, Seq(b), target, rowsIn = rows,
        rowsOut = rows, wallMs = wallMs, window = Some(w),
        minTs = observed("mnt"), maxTs = observed("mxt"))
    } ++ live.map(path => ManifestEntry(jobId, tier, -1, snapshotId, path,
      "-", status = Manifest.Compacted))
    midSwap()
    append(outRoot, tier, swap)
    Some(target)
  }

  /** Write `df` to `dir`, observing ON the write job (no second scan) its
    * row count `out`, time range `mnt`/`mxt` (epoch ms) and any `extra`
    * aggregates. Returns them by name; -1 for null (zero rows) or no range.
    */
  private def writeObserved(df: DataFrame, name: String, dir: String,
      extra: Column*): String => Long = {
    val timeCol = Seq("bucket_ts", "start_ts").find(df.columns.contains)
    val (mntAgg, mxtAgg) = timeCol match {
      case Some(tc) => (min(unix_millis(col(tc))), max(unix_millis(col(tc))))
      case None     => (min(lit(-1L)), max(lit(-1L)))
    }
    val obs = org.apache.spark.sql.Observation(name)
    df.observe(obs, count(lit(1)).as("out"),
        mntAgg.as("mnt") +: mxtAgg.as("mxt") +: extra: _*)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    k => Option(obs.get(k)).map(_.asInstanceOf[Long]).getOrElse(-1L)
  }

  /** The tier's file_info relation ≙ the reference's per-cube `file_info`
    * tibble (api_file_info.R:67-85 — the queryable table of data files):
    * one row per committed manifest entry for the snapshot, with lineage
    * stats (bucket, path, rows in/out, wall ms). The manifest IS the
    * catalog: it lists exactly the live entries readers of the snapshot
    * read ([[Manifest.liveEntries]]).
    */
  def fileInfo(spark: SparkSession, outRoot: String, tier: String,
      snapshotId: Long): DataFrame = {
    val p = manifestPath(outRoot, tier)
    require(Files.exists(p), s"tier $tier has no manifest at $p")
    spark.createDataFrame(Manifest.liveEntries(entries(outRoot, tier), snapshotId))
  }

  /** Read a tier as of a snapshot: exactly what the manifest commits. Each
    * live batch dir contributes only the buckets the snapshot commits it
    * for. A dir adopted from an earlier snapshot by [[patchTier]] may still
    * hold superseded rows of buckets this snapshot committed elsewhere;
    * those rows stay out.
    *
    * Every tier read passes its schema, so planning it runs no Spark job:
    * the schema is the Spark row schema its writer stored in each part
    * file's footer, read on the driver from one committed batch dir
    * ([[footerSchema]]). All batches of a tier come from one writer, so one
    * footer stands for the tier, as it does in Spark's own inference.
    */
  def readTier(spark: SparkSession, outRoot: String, tier: String,
      snapshotId: Long): DataFrame = {
    val pb = committedPathBuckets(outRoot, tier, snapshotId)
    require(pb.nonEmpty, s"tier $tier has no committed batches for snapshot $snapshotId")
    readExact(spark, pb)
  }

  /** [[readTier]], under the name that says it is exact. */
  def readTierExact(spark: SparkSession, outRoot: String, tier: String,
      snapshotId: Long): DataFrame = readTier(spark, outRoot, tier, snapshotId)

  /** The Spark row schema written into the footer of every part file of
    * the batch dir `dir`, read from one of them through the session's
    * Hadoop configuration. A dir without a part file fails.
    */
  private def footerSchema(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(dir)
    val part = p.getFileSystem(conf).listStatus(p).find { f =>
      val n = f.getPath.getName
      n.startsWith("part-") && n.endsWith(".parquet")
    }
    require(part.nonEmpty, s"committed batch $dir holds no parquet file")
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(part.get, conf))
    val json = try reader.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    require(json != null, s"${part.get.getPath} carries no Spark row schema")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** The batch dirs of `pb`, each restricted to the buckets it is committed
    * for: one relation per distinct bucket set, read with the footer
    * schema and a pushed-down int filter on `bucket` (no job, no shuffle).
    * A tier without a `bucket` column reads whole.
    */
  private def readExact(spark: SparkSession,
      pb: Map[String, Set[Int]]): DataFrame = {
    val schema = footerSchema(spark, pb.keys.min)
    pb.groupBy(_._2).toSeq.map { case (bs, g) => (g.keys.toSeq.sorted, bs) }
      .sortBy(_._1.head).map { case (paths, bs) =>
        val df = spark.read.schema(schema).parquet(paths: _*)
        if (schema.fieldNames.contains("bucket"))
          df.filter(col("bucket").isin(bs.toSeq.sorted: _*))
        else df
      }.reduce(_ unionByName _)
  }

  /** Live (path → committed buckets) map of a snapshot — the row-level
    * table of contents [[readTier]] and bucket adoption work from.
    */
  def committedPathBuckets(outRoot: String, tier: String,
      snapshotId: Long): Map[String, Set[Int]] =
    Manifest.committedPathBuckets(entries(outRoot, tier), snapshotId)

  /** Late-data invalidation patch — the continuous-aggregate hard case
    * the realtime router's watermark rule cannot cover (rows arriving
    * BEHIND the seal). Instead of recomputing the tier, commit a NEW
    * snapshot that (a) ADOPTS every clean bucket's existing batch dirs by
    * manifest reference — zero data movement, exactly Iceberg's
    * snapshot-to-snapshot file reuse — and (b) rewrites only the dirty
    * buckets from `freshState`. Both land in ONE [[commitBatch]]: the
    * rewrite is written first, then a single manifest append commits the
    * adopt lines and the rewritten buckets together, so a failed rewrite
    * leaves the new snapshot uncommitted rather than partly adopted. At
    * 10^12-turn scale a late trickle touching 0.1% of conversations
    * re-aggregates 0.1% of the store; the other 99.9% is metadata.
    * [[readTier]] of the new snapshot skips the superseded rows adopted
    * dirs still hold for the rewritten buckets; the OLD snapshot remains
    * fully readable — time travel is free.
    *
    * GC contract (the standard Iceberg caveat): adopted paths are shared
    * between snapshots, and [[vacuumTier]] ENFORCES it — a tombstoned path
    * stays on disk while any snapshot still holds a live committed line
    * for it (see [[Manifest.expiredLivePaths]]); it is physically removed
    * only once every referencing snapshot has expired it.
    */
  def patchTier(spark: SparkSession, outRoot: String, tier: String,
      snapOld: Long, snapNew: Long, nBuckets: Int,
      dirtyBuckets: Set[Int], freshState: DataFrame): TierRun = {
    require(snapNew != snapOld, "patch needs a distinct new snapshot id")
    val es = entries(outRoot, tier)
    requireComplete("patchTier", tier, snapOld,
      Manifest.committedBuckets(es, snapOld, None), nBuckets)
    // adopt clean buckets: one manifest line per (old path, kept bucket),
    // carrying the source lines' [minTs,maxTs] forward so retention under
    // the NEW snapshot keeps its whole-batch expiry power over adopted dirs
    val already = Manifest.committedBuckets(es, snapNew, None)
    val ranges = Manifest.committedRanges(es, snapOld)
    val adopt = Manifest.committedPathBuckets(es, snapOld).toSeq.sortBy(_._1)
      .flatMap { case (pa, bs) =>
        val (mn, mx) = ranges.getOrElse(pa, (-1L, -1L))
        commitEntries(s"adopt-$tier-$snapNew", tier, snapNew,
          (bs -- dirtyBuckets -- already).toSeq.sorted, pa, rowsIn = -1L,
          rowsOut = -1L, wallMs = 0L, minTs = mn, maxTs = mx)
      }
    // the resume diff counts every adopted bucket as done, so only the
    // dirty buckets of freshState are written
    commitBatch(outRoot, tier, snapNew, nBuckets, None, None, adopt)(
      inBuckets(freshState))
  }

  /** Conversation erasure (right-to-be-forgotten) propagated through a
    * tier with [[patchTier]]'s minimal-rewrite semantics: only the buckets
    * that HOLD an erased conversation are re-aggregated (from `stateAll`
    * with the victims filtered out — erasure is by construction, the
    * deleted ids never reach the write path); every clean bucket is
    * adopted into the new snapshot by manifest reference. At 10^12 turns
    * an erasure request touching k conversations rewrites ≤k of the
    * nBuckets hash buckets — a metadata commit plus a sliver re-aggregate,
    * never a store rebuild. `stateAll` is the SAME state relation the tier
    * was originally built from (it may still contain the victims).
    *
    * Logical erasure is immediate (readers of `snapNew` see no victim
    * rows); PHYSICAL erasure completes when [[retireSuperseded]] +
    * [[vacuumTier]] remove the replaced dirty-bucket dirs — the same
    * two-phase contract GDPR deletes have on Iceberg (rewrite data files,
    * then expire the old snapshot and remove orphans).
    */
  def eraseConvs(spark: SparkSession, outRoot: String, tier: String,
      snapOld: Long, snapNew: Long, nBuckets: Int,
      convIds: Seq[String], stateAll: DataFrame): TierRun = {
    require(convIds.nonEmpty, "eraseConvs: empty victim list")
    val dirty = convBuckets(spark, convIds, nBuckets)
    val fresh = stateAll.filter(!col("conv_id").isin(convIds: _*))
    patchTier(spark, outRoot, tier, snapOld, snapNew, nBuckets, dirty, fresh)
  }

  /** The values of a one-int-column frame (a bucket set), collected and
    * deduplicated on the driver: over a local relation the projection
    * folds on the driver and no job runs.
    */
  private def collectBuckets(df: DataFrame): Set[Int] =
    df.collect().map(_.getInt(0)).toSet

  /** Conv-hash buckets of `convIds` via [[bucketCol]] itself — never
    * re-derived arithmetic that could drift from it.
    */
  private def convBuckets(spark: SparkSession, convIds: Seq[String],
      nBuckets: Int): Set[Int] = {
    import spark.implicits._
    collectBuckets(convIds.toDF("conv_id").select(bucketCol(nBuckets).as("b")))
  }

  /** Tombstone (under `snapOld`) every batch dir committed for `snapOld`
    * that `snapNew` did NOT adopt — the targeted, path-based retirement
    * that completes an erasure/patch: adopted dirs stay live (the new
    * snapshot references them), only the superseded dirty-bucket dirs
    * become vacuumable. Unlike [[expireBatches]] this is snapshot-diff
    * driven, not time-cutoff driven, so it works mid-retention-horizon.
    * Time travel to `snapOld` ends for the retired dirs once
    * [[vacuumTier]] runs — that is the point (the victims' bytes go away).
    */
  def retireSuperseded(outRoot: String, tier: String, snapOld: Long,
      snapNew: Long): Seq[String] = {
    val es = entries(outRoot, tier)
    val keep = Manifest.committedPaths(es, snapNew).toSet
    val victims = Manifest.committedPaths(es, snapOld).filterNot(keep).sorted
    append(outRoot, tier, victims.map(path =>
      ManifestEntry(s"retire-$tier-$snapOld-$snapNew", tier, -1, snapOld,
        path, "-", supersededBy = Some(snapNew), status = Manifest.Expired)))
    victims
  }

  /** A tier of the upper cascade: `from` rolled up to `period`, the
    * conversation key merged away when `mergesConv`, bucketed by `bucketKey`.
    */
  private final case class CascadeStep(tier: String, from: String,
      period: Tier, mergesConv: Boolean, bucketKey: Int => Column)

  /** The upper cascade, never fed from raw, as chains that read no tier
    * of another chain: 1d then 1mo (calendar month ≙ the reference's P1M
    * period) per conversation, and the GLOBAL hourly gh-state (the corpus
    * dashboard) — 1h with the conv dimension merged away (hour-truncating
    * hour buckets is the identity), bucketed by TIME hash since a global
    * row has no conv to bucket on. Concatenated: [[upperCascade]].
    */
  private val upperChains = Seq(
    Seq(CascadeStep("1d-state", "1h-state", Tier.D1, mergesConv = false, bucketCol),
      CascadeStep("1mo-state", "1d-state", Tier.Mo1, mergesConv = false, bucketCol)),
    Seq(CascadeStep("gh-state", "1h-state", Tier.H1, mergesConv = true,
      n => pmod(hash(col("bucket_ts")), lit(n)))))

  /** The upper cascade in commit order. */
  private val upperCascade = upperChains.flatten

  /** Run every [[upperChains]] chain at once, each step by `step`; the runs
    * come back in cascade order.
    */
  private def forkChains(spark: SparkSession)(
      step: CascadeStep => TierRun): Seq[TierRun] =
    fork(spark, upperChains.map(c => () => c.map(step))).flatten

  /** Daemon threads the independent commits of one operation run on. */
  private lazy val forkPool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "tier-fork")
    t.setDaemon(true)
    t
  }

  /** Run `branches` at once and return their results in order. The commits
    * of a maintenance round are small and latency-bound, so commits with no
    * data dependency on each other overlap their fixed cost; on a build's
    * larger commits perfbench measured no gain from the 1m ‖ 1h fork
    * (NOTES: span-sum ratio 1.03). Each branch runs under the caller's
    * Spark local properties (job group included) and active session.
    * Every branch is waited for before the first failure is rethrown, so
    * no commit is still writing when the caller sees it.
    */
  private def fork[T](spark: SparkSession, branches: Seq[() => T]): Seq[T] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val rs = branches
      .map(b => SQLExecution.withThreadLocalCaptured(session, forkPool)(b()))
      .map(f => Try(f.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
    rs.collectFirst { case Failure(e) => throw e }
    rs.map(_.get)
  }

  /** The rows of `step` derived from rows of its source tier. */
  private def derive(step: CascadeStep, lower: DataFrame,
      nBuckets: Int): DataFrame = {
    val keyed = lower.drop("bucket")
    Rollup.cascadeHist(if (step.mergesConv) keyed.drop("conv_id") else keyed,
        step.period)
      .withColumn("bucket", step.bucketKey(nBuckets))
  }

  /** [[patchTier]] one step into `snapNew`, re-deriving its `dirty`
    * buckets from the committed `snapNew` source. A per-conv step shares its
    * source's buckets (a plain int filter on the stored `bucket`); the
    * global step needs every source row whose hour lands in a dirty bucket.
    */
  private def patchStep(spark: SparkSession, outRoot: String, nBuckets: Int,
      snapOld: Long, snapNew: Long, step: CascadeStep,
      dirty: Set[Int]): TierRun = {
    val key = if (step.mergesConv) step.bucketKey(nBuckets) else col("bucket")
    val fresh =
      if (dirty.isEmpty) spark.emptyDataFrame.withColumn("bucket", lit(0))
      else derive(step, readTier(spark, outRoot, step.from, snapNew)
        .filter(key.isin(dirty.toSeq: _*)), nBuckets)
    patchTier(spark, outRoot, step.tier, snapOld, snapNew, nBuckets, dirty,
      fresh)
  }

  /** Conversation erasure propagated through EVERY tier of a committed
    * [[runAll]] cascade — without a single raw scan. Per-conv tiers
    * (1m-chunks, 1h/1d/1mo state) are separable by conversation, so the
    * erased bucket's fresh content is the stored bucket with the victims'
    * rows filtered out: the rewrite reads ≤|dirty buckets| of each tier's
    * own (ratio-smaller) store, never the 10^12-turn raw table. The global
    * gh-state tier DOES merge victims into shared hour rows, so the hours
    * the victims participated in (taken from the OLD 1h state — that set
    * also covers hours that exist only because of a victim and must
    * disappear) are re-merged from the already-erased 1h state. Everything
    * clean is adopted by manifest reference ([[patchTier]] semantics);
    * physical erasure then follows the standard two-phase close:
    * [[compactTier]] under `snapNew` (its (path,bucket)-exact read drops
    * dead adopted rows), [[retireSuperseded]], [[vacuumTier]].
    */
  def eraseCascade(spark: SparkSession, outRoot: String, nBuckets: Int,
      snapOld: Long, snapNew: Long, convIds: Seq[String],
      extraPerConvTiers: Seq[String] = Nil): Seq[TierRun] = {
    require(convIds.nonEmpty, "eraseCascade: empty victim list")
    val victim = col("conv_id").isin(convIds: _*)
    val (merged, perConvSteps) = upperCascade.partition(_.mergesConv)
    // any conv-hash-bucketed tier erases through eraseConvs — the m4-1h
    // downsample tier rides along via extraPerConvTiers; each reads only
    // its own snapOld rows, so all commit at once
    val perConv = fork(spark,
      (Seq("1m-chunks", "1h-state") ++ perConvSteps.map(_.tier) ++
          extraPerConvTiers).map { tier => () =>
        eraseConvs(spark, outRoot, tier, snapOld, snapNew, nBuckets, convIds,
          readTier(spark, outRoot, tier, snapOld))
      })
    // the global step re-merges from the erased 1h state committed above
    perConv ++ merged.map { step =>
      val dirtyHours = collectBuckets(readTier(spark, outRoot, step.from,
        snapOld).filter(victim).select(step.bucketKey(nBuckets).as("b")))
      patchStep(spark, outRoot, nBuckets, snapOld, snapNew, step, dirtyHours)
    }
  }

  /** Late-data invalidation through the WHOLE cascade — the multi-tier
    * composition of [[patchTier]]: rows arriving behind the seal for
    * `convIds` re-aggregate only the conv-hash buckets those conversations
    * live in, at every tier. The raw scan is predicate-pruned to the dirty
    * buckets (`transcripts` is the NEW full input; at cluster scale the
    * raw table is bucketed by the same conv hash, so this prunes to
    * |dirty|/nBuckets of the files); 1d/1mo re-cascade from the freshly
    * committed 1h/1d state of `snapNew` restricted to the same buckets;
    * the global tier re-merges exactly the hour buckets whose content
    * changed (hours of the dirty conv buckets under EITHER snapshot).
    * Equality with a from-scratch [[runAll]] over the new input is the
    * test contract (Round5uSpec, BandShapeSpec).
    *
    * A banded store is patched in every band it holds under `snapOld`,
    * read from its 1m-chunk tier; `metrics` names the band only for a
    * single-band store, which records no band name.
    */
  def patchCascade(spark: SparkSession, transcripts: DataFrame,
      inputPath: String, outRoot: String, nBuckets: Int, snapOld: Long,
      convIds: Seq[String],
      metrics: Seq[String] = Seq("text_len")): Seq[TierRun] = {
    require(convIds.nonEmpty, "patchCascade: empty late-conversation list")
    require(metrics.nonEmpty, "no metrics")
    val snapNew = snapshotId(inputPath)
    require(snapNew != snapOld,
      "patchCascade: input snapshot unchanged — nothing arrived late")
    val dirty = convBuckets(spark, convIds, nBuckets)
    val inDirty = col("bucket").isin(dirty.toSeq: _*)
    val banded = isBanded(outRoot, snapOld)
    val bands =
      if (!banded) metrics
      else readTier(spark, outRoot, "1m-chunks", snapOld)
        .select("metric").distinct().collect().map(_.getString(0)).sorted.toSeq

    // fresh raw-derived state for the dirty buckets only: the bucket is a
    // pure function of conv_id, so filtering the raw scan by it yields
    // exactly the conversations whose buckets get rewritten (every conv in
    // a dirty bucket, not just the late ones — runTier commits whole
    // buckets). Same one-scan-serves-all-bands shape as runAll.
    val lower = lowerTiers(spark,
      transcripts.filter(bucketCol(nBuckets).isin(dirty.toSeq: _*)), bands,
      banded, nBuckets)
    val lowerRuns = forkLower(spark, lower)(
      patchTier(spark, outRoot, _, snapOld, snapNew, nBuckets, dirty, _))
    lowerRuns ++ forkChains(spark) { step =>
      val stepDirty =
        if (!step.mergesConv) dirty
        else {
          def keysOf(snap: Long) = readTier(spark, outRoot, step.from, snap)
            .filter(inDirty).select(step.bucketKey(nBuckets).as("b"))
          collectBuckets(keysOf(snapOld) unionByName keysOf(snapNew))
        }
      patchStep(spark, outRoot, nBuckets, snapOld, snapNew, step, stepDirty)
    }
  }

  /** Materialize a committed tier into a new root ≙ `sits_cube_copy`
    * (sits_cube_copy.R:89: copy a cube's assets to a local dir and return a
    * re-rooted cube) / CTAS: the snapshot's [[readTier]] committed under the
    * destination by [[runTier]] — so the copy is itself resumable/readable
    * through the same catalog contract.
    */
  def copyTier(spark: SparkSession, srcRoot: String, tier: String,
      snapshotId: Long, dstRoot: String, nBuckets: Int): TierRun = {
    // a partially-committed source would let the copy claim buckets it
    // never saw rows for — refuse, like the cascade's full-lower-tier gate
    requireComplete("copyTier", tier, snapshotId,
      committedBuckets(srcRoot, tier, snapshotId), nBuckets)
    runTier(spark, dstRoot, tier, snapshotId, nBuckets,
      readTier(spark, srcRoot, tier, snapshotId))
  }

  /** Merge a committed tier's batch dirs into ONE final sorted artifact ≙
    * `sits_mosaic` (R/sits_mosaic.R:85: gdalwarp the per-tile classified
    * rasters into a single mosaic file). The verb's contract IS a single
    * artifact, so the terminal coalesce(1) is the point, not an accident:
    * the heavy work (scan + global range sort) stays distributed, and only
    * the final merge-write is one task — orderBy's range partitions are
    * concatenated in partition-index order, which preserves the global
    * sort. Refuses partially-committed sources (same gate as [[copyTier]])
    * and commits the mosaic as the one bucket of the tier `<tier>-mosaic`
    * under `dstRoot`, so a re-run is a no-op and a resumed run's mosaic is
    * byte-identical to an uninterrupted one (ResumeSpec). Returns the
    * mosaic's batch dir.
    */
  def mosaicTier(spark: SparkSession, srcRoot: String, tier: String,
      snapshotId: Long, dstRoot: String, nBuckets: Int): String = {
    requireComplete("mosaicTier", tier, snapshotId,
      committedBuckets(srcRoot, tier, snapshotId), nBuckets)
    val mosaic = s"$tier-mosaic"
    commitBatch(dstRoot, mosaic, snapshotId, 1, None, None, Nil) { _ =>
      val src = readTier(spark, srcRoot, tier, snapshotId).drop("bucket")
      val timeCol = Seq("bucket_ts", "start_ts").find(src.columns.contains)
      src.orderBy((col("conv_id") +: timeCol.map(col).toSeq): _*).coalesce(1)
    }
    committedPaths(dstRoot, mosaic, snapshotId).head
  }

  /** Deterministic input-snapshot identity (Iceberg snapshot-id stand-in):
    * a SHA-256 digest over the input files' (relative path, size, mtime)
    * triples in path order, folded to a non-negative long. Order-sensitive,
    * unlike a sum: two inputs whose files swap sizes get different ids.
    * 0 when the input does not exist.
    */
  def snapshotId(inputPath: String): Long = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(inputPath)
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    val files = try s.iterator.asScala.filter(p => Files.isRegularFile(p)).toVector
      finally s.close()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(p => (root.relativize(p).toString, p)).sortBy(_._1).foreach {
      case (rel, p) =>
        val mtime = Files.getLastModifiedTime(p).toMillis
        md.update(s"$rel\t${Files.size(p)}\t$mtime\n".getBytes(UTF_8))
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong & Long.MaxValue
  }

  /** Whether the committed store at `outRoot` carries the banded schema (a
    * `metric` dimension column): the footer schema of its 1m-chunk tier
    * under `snapshotId` has `metric` — no Spark job. [[runAll]] picks a
    * fresh store's shape; every later operation follows the store's.
    */
  private[graft] def isBanded(outRoot: String, snapshotId: Long): Boolean = {
    val dirs = committedPaths(outRoot, "1m-chunks", snapshotId)
    require(dirs.nonEmpty,
      s"store at $outRoot has no committed 1m-chunks for snapshot $snapshotId")
    footerSchema(SparkSession.active, dirs.head).fieldNames.contains("metric")
  }

  /** Run one tier: commit the rows of `df` (which must carry a `bucket`
    * column) for its buckets not yet committed, at most `limitBuckets` of
    * them, through [[commitBatch]]. Returns what ran vs was skipped.
    */
  def runTier(spark: SparkSession, outRoot: String, tier: String,
      snapshot: Long, nBuckets: Int, df: DataFrame,
      limitBuckets: Option[Int] = None,
      window: Option[String] = None): TierRun =
    commitBatch(outRoot, tier, snapshot, nBuckets, limitBuckets, window,
      Nil)(inBuckets(df))

  /** The rows of `df` in the buckets `bs`. */
  private def inBuckets(df: DataFrame)(bs: Seq[Int]): DataFrame =
    df.filter(col("bucket").isin(bs: _*))

  /** The one batch write-and-commit. Resume diff: buckets committed for
    * `snapshot` and `window`, or by `adopt`, are done; at most
    * `limitBuckets` of the rest are to do. `rows(todo)` goes to ONE batch
    * dir through [[writeObserved]], then ONE manifest append lands `adopt`
    * and a line per written bucket. A failure before it commits nothing.
    */
  private def commitBatch(outRoot: String, tier: String, snapshot: Long,
      nBuckets: Int, limitBuckets: Option[Int], window: Option[String],
      adopt: Seq[ManifestEntry])(rows: Seq[Int] => DataFrame): TierRun = {
    window.foreach(w => require(w.matches("[A-Za-z0-9_-]+"),
      s"runTier: window tag '$w' must be [A-Za-z0-9_-]+ (it names a dir " +
        "and a manifest field)"))
    val done = committedBuckets(outRoot, tier, snapshot, window) ++
      adopt.map(_.bucket)
    val wanted = (0 until nBuckets).filterNot(done.contains)
    val todo = limitBuckets.map(wanted.take).getOrElse(wanted)
    val (rowsIn, rowsOut, written) = if (todo.isEmpty) (0L, 0L, Nil) else {
      val t0 = System.nanoTime()
      // plain parquet with `bucket` an ordinary column, NOT partitionBy:
      // Spark's dynamic-partitioned write sorts every task's rows by
      // partition key and opens tasks×buckets tiny files — measured 2.5× the
      // plain write and it got WORSE with more cores
      val wTag = window.map(w => s"w${w}_").getOrElse("")
      val batchDir = s"$outRoot/$tier/b_${snapshot}_$wTag${todo.min}_${todo.size}"
      // row + time-range metrics ride ON the write job; the batch's
      // [minTs,maxTs] feeds the retention sweep
      val df = rows(todo)
      val observed = writeObserved(df, s"tier-$tier", batchDir,
        (if (df.columns.contains("n")) sum(col("n")) else max(lit(-1L))).as("in"))
      val wallMs = (System.nanoTime() - t0) / 1000000
      (observed("in"), observed("out"), commitEntries(s"job-$tier-$snapshot",
        tier, snapshot, todo, batchDir, rowsIn = observed("in"),
        rowsOut = observed("out"), wallMs = wallMs, window = window,
        minTs = observed("mnt"), maxTs = observed("mxt")))
    }
    append(outRoot, tier, adopt ++ written)
    TierRun(tier, todo, done.toSeq.sorted, rowsIn, rowsOut)
  }

  /** Full cascade raw→1m(fill+chunks)→1h(state)→1d(state), resumable at
    * bucket granularity per tier. `limitBuckets` caps how many missing
    * buckets each tier processes this run (used to exercise resume).
    */
  def runAll(spark: SparkSession, transcripts: DataFrame, inputPath: String,
      outRoot: String, nBuckets: Int = 8,
      limitBuckets: Option[Int] = None,
      metrics: Seq[String] = Seq("text_len"),
      asBands: Boolean = false): Seq[TierRun] = {
    require(metrics.nonEmpty, "no metrics")
    // asBands forces the banded schema (metric dimension column) even for
    // a one-band run — the store shape [[addMetricBand]] can extend later
    buildCascade(spark, transcripts, snapshotId(inputPath), outRoot,
      nBuckets, limitBuckets, metrics, banded = metrics.size > 1 || asBands,
      window = None, upperRows = identity)
  }

  /** The raw-derived 1m-chunk and 1h-state frames of `metrics`: one raw
    * scan+shuffle aggregates every metric (≙ the reference's
    * one-read-serves-all-bands job, api_gdalcubes.R:506-513), one
    * conversation shuffle fills and encodes every band, and that chunk
    * relation is materialized here (≙ the regular cube the reference writes
    * to disk between stages; [[forkLower]] releases it). The 1h state is
    * rolled up from it, so each (conv, band) grid is filled once. Rows are
    * keyed by a `metric` column; a single-band store drops it.
    */
  private final case class LowerTiers(chunks: DataFrame, state1h: DataFrame)

  private def lowerTiers(spark: SparkSession, raw: DataFrame,
      metrics: Seq[String], banded: Boolean, nBuckets: Int): LowerTiers = {
    require(banded || metrics.size == 1,
      s"a single-band store holds one metric, not ${metrics.mkString(", ")}")
    val chunks = ChunkStore.encodeFilledBands(spark,
      Regularize.firstValidAll(raw, Tier.M1, metrics), metrics, Tier.M1)
      // materialize before forking the two tier jobs; unlike persist, the
      // checkpoint keeps AQE's coalesced partitions (one file per partition)
      .localCheckpoint(true)
    // quantile-bearing state: the ≤64-cell log2 histogram rides in the
    // same kernel pass, so p50/p90/p99 stay answerable at 1h/1d/1mo after
    // raw and 1m-chunks are expired (SURVEY §7.4); cascadeHist and
    // histQuantiles auto-include a `metric` column in their keys
    val state1h = SeriesRollup.chunkState(chunks, Tier.M1, Tier.H1)
    val b = bucketCol(nBuckets)
    LowerTiers(storeShape(chunks, banded).withColumn("bucket", b),
      storeShape(state1h, banded).withColumn("bucket", b))
  }

  /** Commit the 1m-chunk and 1h-state tiers of `lower` together, each by
    * `commit(tier, rows)` (both read only the materialized chunks), then
    * release those.
    */
  private def forkLower(spark: SparkSession, lower: LowerTiers)(
      commit: (String, DataFrame) => TierRun): Seq[TierRun] =
    try fork(spark, Seq("1m-chunks" -> lower.chunks, "1h-state" -> lower.state1h)
        .map { case (tier, rows) => () => commit(tier, rows) })
    finally lower.chunks.queryExecution.logical.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd.unpersist(blocking = false) }

  /** A band-keyed frame in a store's shape: a single-band store holds the
    * banded rows with `metric` dropped.
    */
  private def storeShape(df: DataFrame, banded: Boolean): DataFrame =
    if (banded) df else df.drop("metric")

  /** Build or resume every tier of `metrics`, each commit tagged `window`:
    * the raw-derived tiers, then each [[upperCascade]] step from the
    * `upperRows` of its source — gated on the source being FULLY committed,
    * else a bucket would aggregate an incomplete lower tier and be marked
    * done (the stage dependency the reference's per-stage job diff enforces).
    * When both raw-derived tiers are complete the raw input is not read.
    */
  private def buildCascade(spark: SparkSession, raw: DataFrame, snap: Long,
      outRoot: String, nBuckets: Int, limitBuckets: Option[Int],
      metrics: Seq[String], banded: Boolean, window: Option[String],
      upperRows: DataFrame => DataFrame): Seq[TierRun] = {
    // an unreadable manifest counts as incomplete: its commit below raises
    // it, after the other tier's commit has finished ([[fork]])
    val lowerDone = Seq("1m-chunks", "1h-state").map(t => t ->
      Try(committedBuckets(outRoot, t, snap, window)).getOrElse(Set.empty[Int]))
    // 1m ‖ 1h, then 1d→1mo ‖ gh: small commits are latency-bound ([[fork]])
    val lowerRuns =
      if (lowerDone.forall { case (_, done) => complete(done, nBuckets) })
        lowerDone.map { case (t, done) =>
          TierRun(t, Nil, done.toSeq.sorted, 0, 0) }
      else forkLower(spark, lowerTiers(spark, raw, metrics, banded, nBuckets))(
        runTier(spark, outRoot, _, snap, nBuckets, _, limitBuckets, window))
    lowerRuns ++ forkChains(spark) { step =>
      if (!complete(committedBuckets(outRoot, step.from, snap, window), nBuckets))
        TierRun(step.tier, Nil, Nil, 0, 0)
      else runTier(spark, outRoot, step.tier, snap, nBuckets,
        derive(step, upperRows(readTier(spark, outRoot, step.from, snap)),
          nBuckets), limitBuckets, window)
    }
  }

  /** Committed DOWNSAMPLE tier — the render store of the north rule's
    * "rollup + downsample + retention" triad, materialized with the same
    * manifest/resume machinery as the aggregate tiers. Per (conv, hour)
    * the M4 quad (min/max/first/last + count, Jugel et al. VLDB'14 — the
    * four points a pixel column of any line chart needs for error-free
    * rendering) is computed FROM THE COMMITTED 1m-chunk store, never from
    * raw: a dashboard backfill decodes the ratio-smaller chunk tier, and
    * the downsample survives raw-input expiry by construction. Each band
    * decodes through the same typed codec path and keeps its `metric` key;
    * a single-band store reads as band `metrics.head` and is written in its
    * own shape ([[isBanded]]).
    * Resumable at bucket granularity (`limitBuckets`), conv-hash
    * bucketed — so [[eraseConvs]] applies to it directly, and
    * [[eraseCascade]] covers it via `extraPerConvTiers`.
    */
  def downsampleTier(spark: SparkSession, outRoot: String, snap: Long,
      nBuckets: Int, limitBuckets: Option[Int] = None,
      metrics: Seq[String] = Seq("text_len")): TierRun = {
    require(metrics.nonEmpty, "no metrics")
    import spark.implicits._
    if (!complete(committedBuckets(outRoot, "1m-chunks", snap), nBuckets))
      return TierRun("m4-1h", Nil, Nil, 0, 0)
    val banded = isBanded(outRoot, snap)
    val stored = readTier(spark, outRoot, "1m-chunks", snap)
    val bands = if (banded) stored else stored.withColumn("metric", lit(metrics.head))
    val out = metrics.map { m =>
      val dec = ChunkStore.decode(spark, bands.filter(col("metric") === m)
          .select(ChunkStore.chunkCols.map(col): _*).as[ChunkStruct])
        .filter(col("value").isNotNull)
        .select(col("conv_id"), col("bucket_ts").as("ts"), col("value"))
      // grid timestamps are unique within (conv, hour) → ts is total
      Downsample.m4(dec, date_trunc("hour", col("ts"))).withColumn("metric", lit(m))
    }.reduce(_ unionByName _)
    runTier(spark, outRoot, "m4-1h", snap, nBuckets,
      storeShape(out, banded).withColumn("bucket", bucketCol(nBuckets)),
      limitBuckets)
  }

  /** Band BACKFILL — add one metric band to an already-committed banded
    * store without touching the existing bands (the tier store's
    * ALTER TABLE ADD COLUMN): every tier's new-band rows are committed as
    * window-tagged batch dirs (`band-<metric>`), so the resume diff,
    * retention, and readers treat them exactly like any other windowed
    * append — the base run's dirs are never rewritten, and re-running the
    * backfill resumes at bucket granularity per tier. One raw scan total
    * for the new band (the 1h state is rolled up from the materialized 1m
    * chunks, like [[runAll]]); 1d/1mo/gh-state cascade from
    * the committed 1h rows of the new band only. Requires the store to
    * carry the banded schema ([[runAll]] with several metrics or
    * `asBands = true`).
    */
  def addMetricBand(spark: SparkSession, transcripts: DataFrame,
      inputPath: String, outRoot: String, nBuckets: Int, metric: String,
      limitBuckets: Option[Int] = None): Seq[TierRun] = {
    val snap = snapshotId(inputPath)
    require(isBanded(outRoot, snap),
      s"addMetricBand: store at $outRoot is not banded (runAll with " +
        "several metrics or asBands = true)")
    buildCascade(spark, transcripts, snap, outRoot, nBuckets, limitBuckets,
      Seq(metric), banded = true, window = Some(s"band-$metric"),
      upperRows = _.filter(col("metric") === metric))
  }
}
