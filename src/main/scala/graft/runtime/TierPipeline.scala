package graft.runtime

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ChunkStruct, ManifestEntry, Tier}
import graft.operators.{ChunkStore, Downsample, Regularize, Rollup, SeriesRollup}

/** Resumable tier-rollup pipeline with per-partition lineage manifests —
  * the north-rule runtime, mirroring the reference's missing-jobs recovery
  * (/root/reference/R/api_gdalcubes.R:506-513,713-768: re-scan produced
  * outputs, diff against wanted (tile×band×time), re-enqueue only the
  * missing) and resume-from-existing-files convention
  * (R/api_regularize.R:134-145).
  *
  * Work unit = (tier, conv-hash bucket). Each bucket is written as one
  * partition directory (`bucket=<n>`) via dynamic partition overwrite — the
  * sandbox stand-in for an Iceberg partition-level commit: re-running a
  * bucket atomically replaces exactly that partition, so retries are
  * idempotent. After each bucket set commits, one manifest line per bucket
  * is appended to `<tier>.manifest.jsonl` recording (job, tier, bucket,
  * input snapshot id, rows in/out, wall ms, status); [[Manifest]] defines
  * the line format and the views every operation here reads it through.
  *
  * Resume = diff wanted buckets against committed manifest lines (the
  * manifest is the only truth — reference precedent: re-derive, don't trust
  * in-flight state) and process only the missing ones. A crash between data
  * commit and manifest append re-runs that bucket; the dynamic overwrite
  * makes that safe.
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
    guardTier.foreach { g =>
      val done = committedBuckets(outRoot, g, snapshotId)
      require((0 until nBuckets).forall(done.contains),
        s"retention: guard tier $g is not fully committed for snapshot " +
          s"$snapshotId (${done.size}/$nBuckets buckets) — refusing to " +
          "expire un-rolled-up data")
    }
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
    val pb = Manifest.committedPathBuckets(es, snapshotId)
    val src = live.map { pa =>
      val df = spark.read.parquet(pa)
      pb.get(pa) match {
        case Some(bs) if df.columns.contains("bucket") =>
          df.filter(col("bucket").isin(bs.toSeq: _*))
        case _ => df
      }
    }.reduce(_ unionByName _)
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

  /** Read a tier as of a snapshot: only manifest-committed batches. */
  def readTier(spark: SparkSession, outRoot: String, tier: String,
      snapshotId: Long): DataFrame = {
    val paths = committedPaths(outRoot, tier, snapshotId)
    require(paths.nonEmpty, s"tier $tier has no committed batches for snapshot $snapshotId")
    spark.read.parquet(paths: _*)
  }

  /** Live (path → committed buckets) map of a snapshot — the row-level
    * table of contents [[readTierExact]] and bucket adoption work from.
    */
  def committedPathBuckets(outRoot: String, tier: String,
      snapshotId: Long): Map[String, Set[Int]] =
    Manifest.committedPathBuckets(entries(outRoot, tier), snapshotId)

  /** [[readTier]] with EXACT (path, bucket) semantics: each batch dir
    * contributes only the buckets the manifest commits it for under this
    * snapshot. For batches written by [[runTier]] this is identical to
    * [[readTier]] (a batch dir contains exactly its committed bucket set);
    * it differs only for batches ADOPTED from an earlier snapshot by
    * [[patchTier]], where a dir may carry stale rows for re-written
    * buckets that this snapshot committed elsewhere. The bucket predicate
    * is a plain int filter — parquet row-group stats prune it, no shuffle.
    */
  def readTierExact(spark: SparkSession, outRoot: String, tier: String,
      snapshotId: Long): DataFrame = {
    val pb = committedPathBuckets(outRoot, tier, snapshotId)
    require(pb.nonEmpty, s"tier $tier has no committed batches for snapshot $snapshotId")
    pb.toSeq.sortBy(_._1).map { case (pa, bs) =>
      spark.read.parquet(pa).filter(col("bucket").isin(bs.toSeq: _*))
    }.reduce(_ unionByName _)
  }

  /** Late-data invalidation patch — the continuous-aggregate hard case
    * the realtime router's watermark rule cannot cover (rows arriving
    * BEHIND the seal). Instead of recomputing the tier, commit a NEW
    * snapshot that (a) ADOPTS every clean bucket's existing batch dirs by
    * manifest reference — zero data movement, exactly Iceberg's
    * snapshot-to-snapshot file reuse — and (b) rewrites only the dirty
    * buckets from `freshState` via the ordinary [[runTier]] commit. At
    * 10^12-turn scale a late trickle touching 0.1% of conversations
    * re-aggregates 0.1% of the store; the other 99.9% is a metadata
    * append. Readers of the new snapshot must use [[readTierExact]]
    * (adopted dirs may carry superseded rows for the rewritten buckets);
    * the OLD snapshot remains fully readable — time travel is free.
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
    val oldDone = Manifest.committedBuckets(es, snapOld, None)
    require((0 until nBuckets).forall(oldDone.contains),
      s"patchTier: old snapshot $snapOld is not fully committed")
    // adopt clean buckets: one manifest line per (old path, kept bucket),
    // carrying the source lines' [minTs,maxTs] forward so retention under
    // the NEW snapshot keeps its whole-batch expiry power over adopted dirs
    val already = Manifest.committedBuckets(es, snapNew, None)
    val ranges = Manifest.committedRanges(es, snapOld)
    append(outRoot, tier,
      Manifest.committedPathBuckets(es, snapOld).toSeq.sortBy(_._1)
        .flatMap { case (pa, bs) =>
          val (mn, mx) = ranges.getOrElse(pa, (-1L, -1L))
          commitEntries(s"adopt-$tier-$snapNew", tier, snapNew,
            (bs -- dirtyBuckets -- already).toSeq.sorted, pa, rowsIn = -1L,
            rowsOut = -1L, wallMs = 0L, minTs = mn, maxTs = mx)
        })
    // rewrite the dirty buckets only (runTier's resume diff now sees every
    // clean bucket as committed and filters freshState to the dirty set)
    runTier(spark, outRoot, tier, snapNew, nBuckets, freshState)
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

  /** Distinct values of a one-int-column frame (a bucket set), collected. */
  private def collectBuckets(df: DataFrame): Set[Int] =
    df.distinct().collect().map(_.getInt(0)).toSet

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

  /** The upper cascade in commit order, never fed from raw: 1d and 1mo
    * (calendar month ≙ the reference's P1M period) per conversation, and
    * the GLOBAL hourly gh-state (the corpus dashboard) — 1h with the conv
    * dimension merged away (hour-truncating hour buckets is the identity),
    * bucketed by TIME hash since a global row has no conv to bucket on.
    */
  private val upperCascade = Seq(
    CascadeStep("1d-state", "1h-state", Tier.D1, mergesConv = false, bucketCol),
    CascadeStep("1mo-state", "1d-state", Tier.Mo1, mergesConv = false, bucketCol),
    CascadeStep("gh-state", "1h-state", Tier.H1, mergesConv = true,
      n => pmod(hash(col("bucket_ts")), lit(n))))

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
      else derive(step, readTierExact(spark, outRoot, step.from, snapNew)
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
    val dirty = convBuckets(spark, convIds, nBuckets)
    val victim = col("conv_id").isin(convIds: _*)
    val (merged, perConvSteps) = upperCascade.partition(_.mergesConv)
    // any conv-hash-bucketed tier erases by the same filter-and-patch
    // shape — the m4-1h downsample tier rides along via extraPerConvTiers
    val perConv =
      (Seq("1m-chunks", "1h-state") ++ perConvSteps.map(_.tier) ++
          extraPerConvTiers).map { tier =>
        val fresh = readTierExact(spark, outRoot, tier, snapOld)
          .filter(col("bucket").isin(dirty.toSeq: _*) && !victim)
        patchTier(spark, outRoot, tier, snapOld, snapNew, nBuckets, dirty,
          fresh)
      }
    perConv ++ merged.map { step =>
      val dirtyHours = collectBuckets(readTierExact(spark, outRoot, step.from,
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
    * test contract (Round5uSpec).
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

    // fresh raw-derived state for the dirty buckets only: the bucket is a
    // pure function of conv_id, so filtering the raw scan by it yields
    // exactly the conversations whose buckets get rewritten (every conv in
    // a dirty bucket, not just the late ones — runTier commits whole
    // buckets). Same one-scan-serves-all-bands shape as runAll.
    val lower = lowerTiers(spark,
      transcripts.filter(bucketCol(nBuckets).isin(dirty.toSeq: _*)), metrics,
      banded = metrics.size > 1, nBuckets)
    val r1 = patchTier(spark, outRoot, "1m-chunks", snapOld, snapNew,
      nBuckets, dirty, lower.chunks)
    val r2 = patchTier(spark, outRoot, "1h-state", snapOld, snapNew,
      nBuckets, dirty, lower.state1h)
    lower.fv.unpersist()

    Seq(r1, r2) ++ upperCascade.map { step =>
      val stepDirty =
        if (!step.mergesConv) dirty
        else {
          def keysOf(snap: Long) = readTierExact(spark, outRoot, step.from, snap)
            .filter(inDirty).select(step.bucketKey(nBuckets).as("b"))
          collectBuckets(keysOf(snapOld) unionByName keysOf(snapNew))
        }
      patchStep(spark, outRoot, nBuckets, snapOld, snapNew, step, stepDirty)
    }
  }

  /** Materialize a committed tier into a new root ≙ `sits_cube_copy`
    * (sits_cube_copy.R:89: copy a cube's assets to a local dir and return a
    * re-rooted cube) / CTAS: reads ONLY manifest-committed batches of the
    * snapshot, writes them as one batch under the destination, and commits
    * a manifest there — so the copy is itself resumable/readable through
    * the same catalog contract.
    */
  def copyTier(spark: SparkSession, srcRoot: String, tier: String,
      snapshotId: Long, dstRoot: String, nBuckets: Int): TierRun = {
    // a partially-committed source would let the copy claim buckets it
    // never saw rows for — refuse, like the cascade's full-lower-tier gate
    val srcDone = committedBuckets(srcRoot, tier, snapshotId)
    require((0 until nBuckets).forall(srcDone.contains),
      s"copyTier: source tier $tier is not fully committed for snapshot " +
        s"$snapshotId (${srcDone.size}/$nBuckets buckets)")
    val done = committedBuckets(dstRoot, tier, snapshotId)
    val wanted = (0 until nBuckets).filterNot(done.contains)
    if (wanted.isEmpty) return TierRun(tier, Nil, done.toSeq.sorted, 0, 0)
    val t0 = System.nanoTime()
    val src = readTier(spark, srcRoot, tier, snapshotId)
    val batchDir = s"$dstRoot/$tier/copy_${snapshotId}_${wanted.min}_${wanted.size}"
    val obs = org.apache.spark.sql.Observation(s"copy-$tier")
    src.filter(col("bucket").isin(wanted: _*))
      .observe(obs, count(lit(1)).as("out"))
      .write.mode(SaveMode.Overwrite).parquet(batchDir)
    val rows = obs.get("out").asInstanceOf[Long]
    append(dstRoot, tier, commitEntries(s"copy-$tier-$snapshotId",
      tier, snapshotId, wanted, batchDir, rowsIn = rows, rowsOut = rows,
      wallMs = (System.nanoTime() - t0) / 1000000))
    TierRun(tier, wanted, done.toSeq.sorted, rows, rows)
  }

  /** Merge a committed tier's batch dirs into ONE final sorted artifact ≙
    * `sits_mosaic` (/root/reference/R/sits_mosaic.R:85: gdalwarp the
    * per-tile classified rasters into a single mosaic file). The verb's
    * contract IS a single artifact, so the terminal coalesce(1) is the
    * point, not an accident: the heavy work (scan + global range sort)
    * stays distributed, and only the final merge-write is one task —
    * orderBy's range partitions are concatenated in partition-index order,
    * which preserves the global sort. Refuses partially-committed sources
    * (same gate as [[copyTier]]) and commits the mosaic through its own
    * manifest, so a resumed run's mosaic is byte-identical to an
    * uninterrupted one (ResumeSpec).
    */
  def mosaicTier(spark: SparkSession, srcRoot: String, tier: String,
      snapshotId: Long, dstRoot: String, nBuckets: Int): String = {
    val srcDone = committedBuckets(srcRoot, tier, snapshotId)
    require((0 until nBuckets).forall(srcDone.contains),
      s"mosaicTier: source tier $tier is not fully committed for snapshot " +
        s"$snapshotId (${srcDone.size}/$nBuckets buckets)")
    val mosaicDir = s"$dstRoot/$tier/mosaic_$snapshotId"
    val already = committedPaths(dstRoot, s"$tier-mosaic", snapshotId)
    if (already.nonEmpty) return already.head // idempotent re-run
    val t0 = System.nanoTime()
    val src = readTier(spark, srcRoot, tier, snapshotId).drop("bucket")
    val timeCol = Seq("bucket_ts", "start_ts").find(src.columns.contains)
    val keys = col("conv_id") +: timeCol.map(col).toSeq
    val obs = org.apache.spark.sql.Observation(s"mosaic-$tier")
    src.orderBy(keys: _*).coalesce(1)
      .observe(obs, count(lit(1)).as("out"))
      .write.mode(SaveMode.Overwrite).parquet(mosaicDir)
    val rows = obs.get("out").asInstanceOf[Long]
    append(dstRoot, s"$tier-mosaic", commitEntries(
      s"mosaic-$tier-$snapshotId", s"$tier-mosaic", snapshotId, Seq(0),
      mosaicDir, rowsIn = rows, rowsOut = rows,
      wallMs = (System.nanoTime() - t0) / 1000000))
    mosaicDir
  }

  /** Deterministic input-snapshot identity (Iceberg snapshot-id stand-in):
    * sum of (size, mtime) over the input files.
    */
  def snapshotId(inputPath: String): Long = {
    val root = Paths.get(inputPath)
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    try {
      s.filter(p => Files.isRegularFile(p)).mapToLong(p =>
        Files.size(p) + Files.getLastModifiedTime(p).toMillis).sum()
    } finally s.close()
  }

  /** Run one tier: compute `df` (which must carry a `bucket` column)
    * restricted to non-committed buckets, commit those partitions, append
    * manifests. Returns what ran vs was skipped.
    */
  def runTier(spark: SparkSession, outRoot: String, tier: String,
      snapshot: Long, nBuckets: Int, df: DataFrame,
      limitBuckets: Option[Int] = None,
      window: Option[String] = None): TierRun = {
    window.foreach(w => require(w.matches("[A-Za-z0-9_-]+"),
      s"runTier: window tag '$w' must be [A-Za-z0-9_-]+ (it names a dir " +
        "and a manifest field)"))
    val done = committedBuckets(outRoot, tier, snapshot, window)
    val wanted = (0 until nBuckets).filterNot(done.contains)
    val todo = limitBuckets.map(wanted.take).getOrElse(wanted)
    if (todo.isEmpty) return TierRun(tier, Nil, done.toSeq.sorted, 0, 0)
    val t0 = System.nanoTime()
    // one BATCH DIRECTORY per (snapshot, window, bucket-set) commit, plain
    // parquet with `bucket` as an ordinary column. NOT partitionBy(bucket):
    // Spark's dynamic-partitioned write sorts every task's rows by partition
    // key and opens tasks×buckets tiny files — measured 2.5× the plain write
    // and it got WORSE with more cores. The deterministic dir name makes
    // retries idempotent (a re-run of the same bucket set overwrites the
    // same dir); readers only see batches listed in the manifest.
    val wTag = window.map(w => s"w${w}_").getOrElse("")
    val batchDir = s"$outRoot/$tier/b_${snapshot}_$wTag${todo.min}_${todo.size}"
    // row + time-range metrics ride ON the write job; the batch's
    // [minTs,maxTs] feeds the retention sweep
    val observed = writeObserved(df.filter(col("bucket").isin(todo: _*)),
      s"tier-$tier", batchDir,
      (if (df.columns.contains("n")) sum(col("n")) else max(lit(-1L))).as("in"))
    val rowsOut = observed("out")
    val rowsIn = observed("in")
    val wallMs = (System.nanoTime() - t0) / 1000000
    append(outRoot, tier, commitEntries(s"job-$tier-$snapshot", tier,
      snapshot, todo, batchDir, rowsIn = rowsIn, rowsOut = rowsOut,
      wallMs = wallMs, window = window, minTs = observed("mnt"),
      maxTs = observed("mxt")))
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

  /** The raw-derived 1m-chunk and 1h-state frames of `metrics`, both from
    * `fv`, the first-valid 1m relation, persisted here (≙ the regular cube
    * the reference writes to disk between stages; the caller unpersists).
    * A banded store aggregates EVERY metric in this one raw scan+shuffle
    * (≙ the reference's one-read-serves-all-bands job,
    * api_gdalcubes.R:506-513) and carries a `metric` dimension column.
    */
  private final case class LowerTiers(fv: DataFrame, chunks: DataFrame,
      state1h: DataFrame)

  private def lowerTiers(spark: SparkSession, raw: DataFrame,
      metrics: Seq[String], banded: Boolean, nBuckets: Int): LowerTiers = {
    val fv = (if (banded) Regularize.firstValidAll(raw, Tier.M1, metrics)
              else Regularize.firstValid(raw, Tier.M1, metrics.head))
      .persist()
    fv.count() // materialize before forking the two independent tier jobs
    val chunks =
      if (!banded) ChunkStore.encodeFilled(spark, fv, Tier.M1).toDF()
      else metrics.map { m =>
        ChunkStore.encodeFilled(spark,
          fv.select(col("conv_id"), col("bucket_ts"), col(m).as("value")),
          Tier.M1).toDF().withColumn("metric", lit(m))
      }.reduce(_ unionByName _)
    // quantile-bearing state: the ≤64-cell log2 histogram rides in the
    // same kernel pass, so p50/p90/p99 stay answerable at 1h/1d/1mo after
    // raw and 1m-chunks are expired (SURVEY §7.4); cascadeHist and
    // histQuantiles auto-include a `metric` column in their keys
    val state1h =
      if (!banded) SeriesRollup.stateDenseHist(spark, fv, Tier.M1, Tier.H1)
      else SeriesRollup.stateDenseHistMulti(spark, fv, Tier.M1, Tier.H1,
        metrics)
    val b = bucketCol(nBuckets)
    LowerTiers(fv, chunks.withColumn("bucket", b), state1h.withColumn("bucket", b))
  }

  /** Build or resume every tier of `metrics`, each commit tagged `window`:
    * the raw-derived tiers, then each [[upperCascade]] step from the
    * `upperRows` of its source — gated on the source being FULLY committed,
    * else a bucket would aggregate an incomplete lower tier and be marked
    * done (the stage dependency the reference's per-stage job diff enforces).
    */
  private def buildCascade(spark: SparkSession, raw: DataFrame, snap: Long,
      outRoot: String, nBuckets: Int, limitBuckets: Option[Int],
      metrics: Seq[String], banded: Boolean, window: Option[String],
      upperRows: DataFrame => DataFrame): Seq[TierRun] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val lower = lowerTiers(spark, raw, metrics, banded, nBuckets)
    // tiers 1m and 1h are independent given fv → submit CONCURRENTLY; the
    // scheduler interleaves their tasks, filling each other's stage-tail
    // idle slots (straggling hot-conv kernels no longer idle the cluster)
    val f1 = Future(runTier(spark, outRoot, "1m-chunks", snap, nBuckets,
      lower.chunks, limitBuckets, window))
    val f2 = Future(runTier(spark, outRoot, "1h-state", snap, nBuckets,
      lower.state1h, limitBuckets, window))
    val r1 = Await.result(f1, Duration.Inf)
    val r2 = Await.result(f2, Duration.Inf)
    lower.fv.unpersist()
    Seq(r1, r2) ++ upperCascade.map { step =>
      if (committedBuckets(outRoot, step.from, snap, window).size < nBuckets)
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
    * the downsample survives raw-input expiry by construction. Multi-band
    * chunk stores carry a `metric` column; each band decodes through the
    * same typed codec path and keeps its `metric` key in the output.
    * Resumable at bucket granularity (`limitBuckets`), conv-hash
    * bucketed — so [[eraseConvs]] applies to it directly, and
    * [[eraseCascade]] covers it via `extraPerConvTiers`.
    */
  def downsampleTier(spark: SparkSession, outRoot: String, snap: Long,
      nBuckets: Int, limitBuckets: Option[Int] = None,
      metrics: Seq[String] = Seq("text_len")): TierRun = {
    require(metrics.nonEmpty, "no metrics")
    import spark.implicits._
    if (committedBuckets(outRoot, "1m-chunks", snap).size < nBuckets)
      return TierRun("m4-1h", Nil, Nil, 0, 0)
    val stored = readTier(spark, outRoot, "1m-chunks", snap)
    val single = !stored.columns.contains("metric")
    val chunkCols = Seq("conv_id", "tier", "start_ts", "n", "codec",
      "ts_payload", "value_payload")
    def m4Of(chunksDf: DataFrame): DataFrame = {
      val dec = ChunkStore.decode(spark,
        chunksDf.select(chunkCols.map(col): _*).as[ChunkStruct])
        .filter(col("value").isNotNull)
        .select(col("conv_id"), col("bucket_ts").as("ts"), col("value"))
      // grid timestamps are unique within (conv, hour) → ts is total
      Downsample.m4(dec, date_trunc("hour", col("ts")))
    }
    val out =
      if (single) m4Of(stored)
      else metrics.map { m =>
        m4Of(stored.filter(col("metric") === m)).withColumn("metric", lit(m))
      }.reduce(_ unionByName _)
    runTier(spark, outRoot, "m4-1h", snap, nBuckets,
      out.withColumn("bucket", bucketCol(nBuckets)), limitBuckets)
  }

  /** Band BACKFILL — add one metric band to an already-committed banded
    * store without touching the existing bands (the tier store's
    * ALTER TABLE ADD COLUMN): every tier's new-band rows are committed as
    * window-tagged batch dirs (`band-<metric>`), so the resume diff,
    * retention, and readers treat them exactly like any other windowed
    * append — the base run's dirs are never rewritten, and re-running the
    * backfill resumes at bucket granularity per tier. One raw scan total
    * for the new band (1m chunks + 1h state share the persisted
    * first-valid relation, like [[runAll]]); 1d/1mo/gh-state cascade from
    * the committed 1h rows of the new band only. Requires the store to
    * carry the banded schema ([[runAll]] with several metrics or
    * `asBands = true`).
    */
  def addMetricBand(spark: SparkSession, transcripts: DataFrame,
      inputPath: String, outRoot: String, nBuckets: Int, metric: String,
      limitBuckets: Option[Int] = None): Seq[TierRun] = {
    val snap = snapshotId(inputPath)
    require(readTier(spark, outRoot, "1m-chunks", snap).columns
        .contains("metric"),
      s"addMetricBand: store at $outRoot is not banded (runAll with " +
        "several metrics or asBands = true)")
    buildCascade(spark, transcripts, snap, outRoot, nBuckets, limitBuckets,
      Seq(metric), banded = true, window = Some(s"band-$metric"),
      upperRows = _.filter(col("metric") === metric))
  }
}
