package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.TierPipeline

/** [[TierPipeline.snapshotId]] names an input by its files' (relative
  * path, size, mtime), in order: a sum of sizes and mtimes could not tell
  * two inputs apart whose files swap sizes.
  */
class SnapshotIdSpec extends AnyFunSuite {
  private val mtime = FileTime.fromMillis(1700000000000L)

  private def input(sizes: (String, Int)*): Path = {
    val dir = Files.createTempDirectory("snap_in")
    sizes.foreach { case (name, n) =>
      val f = dir.resolve(name)
      Files.write(f, Array.fill[Byte](n)(1))
      Files.setLastModifiedTime(f, mtime)
    }
    dir
  }

  test("snapshotId: order-sensitive over (path, size, mtime), non-negative, pinned, 0 when missing") {
    val a = TierPipeline.snapshotId(input("a" -> 10, "b" -> 20).toString)
    val b = TierPipeline.snapshotId(input("a" -> 20, "b" -> 10).toString)
    assert(a != b, "swapped sizes must give different ids")
    assert(a >= 0 && b >= 0)
    // same files in a fresh directory: the id depends on the listing, not
    // on where the input lives
    assert(TierPipeline.snapshotId(input("a" -> 10, "b" -> 20).toString) == a)
    // SHA-256 of "a\t10\t<mtime>\nb\t20\t<mtime>\n", first 8 bytes big-endian,
    // sign bit cleared: fixed text, so the same id on every JVM
    assert(a == 8008827476498019040L)
    assert(b == 907748923684720076L)
    assert(TierPipeline.snapshotId(
      Files.createTempDirectory("snap_in").resolve("missing").toString) == 0L)
  }
}
