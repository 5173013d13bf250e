package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.ManifestEntry
import graft.runtime.{Manifest, TierPipeline}

/** The lineage-manifest codec and its views, without Spark: the on-disk
  * line shapes, escaping, the torn-tail rule, loud failure on corrupt
  * lines, and the per-snapshot views resume, readers, retention, vacuum
  * and compaction derive from a manifest.
  */
class ManifestSpec extends AnyFunSuite {

  private val root = "/data/out"
  private val p1 = s"$root/1h-state/b_42_0_8"
  private val p2 = s"$root/1h-state/b_43_0_1"

  private def commit(snap: Long, bucket: Int, path: String,
      maxTs: Long = 1704150000000L, window: String = "-") =
    ManifestEntry("job", "1h-state", bucket, snap, path, window,
      Some(1704067200000L), Some(maxTs), Some(10L), Some(4L), Some(7L),
      status = Manifest.Committed)

  private def mark(snap: Long, path: String, status: String) =
    ManifestEntry("job", "1h-state", -1, snap, path, "-", status = status)

  private def tempManifest(dirName: String = "manifest"): Path =
    Files.createTempDirectory(dirName).resolve("1h-state.manifest.jsonl")

  private def write(p: Path, text: String): Unit =
    Files.write(p, text.getBytes(UTF_8), StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)

  // one line of every shape the writers emit, byte for byte as written
  // before the codec existed (string-built JSON templates)
  private val golden = Seq(
    s"""{"jobId":"job-1h-state-42","tier":"1h-state","bucket":3,"snapshotId":42,"path":"$p1","window":"-","minTs":1704067200000,"maxTs":1704150000000,"rowsIn":120,"rowsOut":48,"wallMs":311,"status":"committed"}""",
    s"""{"jobId":"adopt-1h-state-43","tier":"1h-state","bucket":5,"snapshotId":43,"path":"$p1","window":"d1","minTs":-1,"maxTs":-1,"rowsIn":-1,"rowsOut":-1,"wallMs":0,"status":"committed"}""",
    s"""{"jobId":"retention-1h-state-42","tier":"1h-state","bucket":-1,"snapshotId":42,"path":"$p1","window":"-","cutoffMs":1704153600000,"status":"expired"}""",
    s"""{"jobId":"retire-1h-state-42-43","tier":"1h-state","bucket":-1,"snapshotId":42,"path":"$p1","window":"-","supersededBy":43,"status":"expired"}""",
    s"""{"jobId":"compact-1h-state-42","tier":"1h-state","bucket":-1,"snapshotId":42,"path":"$p1","window":"-","status":"compacted"}""",
    s"""{"jobId":"vacuum-1h-state","tier":"1h-state","bucket":-1,"snapshotId":-1,"path":"$p1","window":"-","status":"vacuumed"}""")

  test("golden lines of every shape decode and re-encode byte-identically") {
    golden.zipWithIndex.foreach { case (line, i) =>
      assert(Manifest.encode(Manifest.decode(line, s"golden:$i")) == line)
    }
    val retention = Manifest.decode(golden(2), "golden:2")
    assert(retention.cutoffMs.contains(1704153600000L) &&
      retention.maxTs.isEmpty && retention.bucket == -1)
    assert(Manifest.decode(golden(3), "golden:3").supersededBy.contains(43L))
  }

  test("an outRoot holding a quote or a backslash round-trips through the file") {
    val p = tempManifest("""odd"dir\""")
    val outRoot = p.getParent.toString
    val path = s"$outRoot/1h-state/b_9_0_4"
    Manifest.append(p, Seq(commit(9L, 0, path), commit(9L, 1, path)))
    assert(Manifest.read(p).map(_.path) == Seq(path, path))
    assert(TierPipeline.committedPaths(outRoot, "1h-state", 9L) == Seq(path))
    assert(TierPipeline.committedBuckets(outRoot, "1h-state", 9L) == Set(0, 1))
  }

  test("a torn last line is ignored by readers and cut off before the next append") {
    val p = tempManifest()
    Manifest.append(p, Seq(commit(1L, 0, p1)))
    val good = new String(Files.readAllBytes(p), UTF_8)
    write(p, golden(0).take(40))
    assert(Manifest.read(p) == Seq(commit(1L, 0, p1)))
    // a whole object without its newline is still torn
    Files.write(p, (good + golden(0)).getBytes(UTF_8))
    assert(Manifest.read(p).size == 1)
    Manifest.append(p, Seq(commit(1L, 1, p1)))
    assert(new String(Files.readAllBytes(p), UTF_8) ==
      good + Manifest.encode(commit(1L, 1, p1)) + "\n")
    assert(Manifest.read(p).map(_.bucket) == Seq(0, 1))
  }

  test("an unknown status or a malformed inner line fails naming file and line") {
    val p = tempManifest()
    Manifest.append(p, Seq(commit(1L, 0, p1)))
    write(p, golden(4).replace("compacted", "archived") + "\n")
    val e1 = intercept[IllegalStateException](Manifest.read(p))
    assert(e1.getMessage.contains(s"$p:2") &&
      e1.getMessage.contains("unknown status 'archived'"), e1.getMessage)

    val q = tempManifest()
    write(q, golden(0).take(40) + "\n" + golden(0) + "\n")
    val e2 = intercept[IllegalStateException](Manifest.read(q))
    assert(e2.getMessage.contains(s"$q:1") && e2.getMessage.contains("malformed"),
      e2.getMessage)

    Seq(golden(0).replace("\"bucket\":3", "\"bucket\":\"3\""),
        golden(0).replace("\"path\":\"" + p1 + "\",", ""))
      .foreach(l => intercept[IllegalStateException](Manifest.decode(l, "x:1")))
  }

  test("tombstones are per snapshot; resume keeps tombstoned buckets") {
    // p1 committed under 42, adopted by 43, then expired under 42 only
    val es = Seq(commit(42L, 0, p1), commit(42L, 1, p2),
      commit(43L, 0, p1), mark(42L, p1, Manifest.Expired))
    assert(Manifest.committedPaths(es, 42L) == Seq(p2))
    assert(Manifest.committedPaths(es, 43L) == Seq(p1))
    assert(Manifest.committedBuckets(es, 42L, None) == Set(0, 1))
    assert(Manifest.liveEntries(es, 43L) == Seq(commit(43L, 0, p1)))
    assert(Manifest.committedPathBuckets(es, 42L) == Map(p2 -> Set(1)))
    assert(Manifest.committedBuckets(es, 42L, Some("d1")).isEmpty)
  }

  test("a dir shared across snapshots is vacuumable only once every snapshot tombstoned it") {
    val shared = Seq(commit(42L, 0, p1), commit(43L, 0, p1),
      mark(42L, p1, Manifest.Expired))
    assert(Manifest.expiredLivePaths(shared).isEmpty)
    val both = shared :+ mark(43L, p1, Manifest.Compacted)
    assert(Manifest.expiredLivePaths(both) == Seq(p1))
    assert(Manifest.expiredLivePaths(both :+ mark(-1L, p1, Manifest.Vacuumed)).isEmpty)
  }

  test("retention victims, adopted ranges, high-water mark and compaction generation") {
    val es = Seq(commit(42L, 0, p1, maxTs = 100L), commit(42L, 1, p2, maxTs = 500L),
      commit(42L, 2, p2, maxTs = -1L))
    assert(Manifest.expiryVictims(es, 42L, cutoffMs = 200L) == Seq(p1))
    assert(Manifest.expiryVictims(es :+ mark(42L, p1, Manifest.Compacted), 42L,
      cutoffMs = 200L).isEmpty)
    assert(Manifest.latestCommittedMaxTs(es, 42L) == 500L)
    assert(Manifest.latestCommittedMaxTs(es, 7L) == -1L)
    assert(Manifest.committedRanges(es, 42L)(p2) == (1704067200000L, 500L))

    val prefix = s"$root/1h-state/compact_42_g"
    assert(Manifest.nextGeneration(es, prefix) == 1)
    val gens = Seq(commit(42L, 0, prefix + "1"), mark(42L, prefix + "3", Manifest.Compacted),
      commit(42L, 0, s"$root/1h-state/compact_421_g9"), commit(42L, 0, prefix + "x"))
    assert(Manifest.nextGeneration(es ++ gens, prefix) == 4)
  }
}
