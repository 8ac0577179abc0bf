package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.VersionedTable

/** Versioned snapshot tables must deliver their claims on reader-visible
  * state: atomic publish, time travel, vacuum, and old-or-new (never
  * partial) under a crashing or committing writer. */
class LayoutSpec extends SparkSpec {

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("versioned table: atomic publish, time travel, vacuum") {
    val root = tmpDir("vtab") + "/t"
    val v1 = VersionedTable.write(Tables(spark, sfDir, "region"), root)
    assert(v1 === 1L)
    assert(VersionedTable.read(spark, root).count() === 5)

    val v2 = VersionedTable.write(
      Tables(spark, sfDir, "region").filter(col("r_regionkey") < 2), root)
    assert(v2 === 2L)
    assert(VersionedTable.currentVersion(spark, root) === Some(2L))
    assert(VersionedTable.read(spark, root).count() === 2)
    // Old snapshot still consistent for a reader that resolved it earlier.
    assert(VersionedTable.readVersion(spark, root, 1).count() === 5)

    // A crashed write (directory without _SUCCESS) is invisible...
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v=3"))
    assert(VersionedTable.currentVersion(spark, root) === Some(2L))
    // ...and its number is never reused.
    val v4 = VersionedTable.write(Tables(spark, sfDir, "nation"), root)
    assert(v4 === 4L)

    // vacuum(keep=1): v1, v2 (superseded committed) and v3 (stale crash
    // leftover) go; v4 stays.
    assert(VersionedTable.vacuum(spark, root, keep = 1) === Seq(1L, 2L, 3L))
    assert(VersionedTable.listVersions(spark, root) === Seq(4L))
    assert(VersionedTable.read(spark, root).count() === 25)
  }

  test("versioned table fault injection: a reader interleaved with a " +
      "crashing or committing writer sees old or new, never partial " +
      "(VERDICT r10 #3)") {
    val root = tmpDir("vtab_crash") + "/t"
    val v1Data = Tables(spark, sfDir, "region")
    VersionedTable.write(v1Data, root)

    // --- crash DURING a write: real data files present, no _SUCCESS ---
    // (exactly what a writer killed between its last part file and the
    // commit marker leaves behind). The reference's delete+insert has
    // this window with the OLD data already destroyed; here the old
    // snapshot must remain the resolved version, bit-complete.
    Tables(spark, sfDir, "nation").write.parquet(s"$root/v=2")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/v=2/_SUCCESS"), false)
    assert(VersionedTable.currentVersion(spark, root) === Some(1L),
      "a reader resolved the uncommitted generation")
    assert(VersionedTable.read(spark, root).count() === 5,
      "reader did not get the complete old snapshot")

    // --- reader pinned across a commit: snapshot isolation ---
    val pinned = VersionedTable.read(spark, root) // resolves v=1 NOW
    val v3 = VersionedTable.write(Tables(spark, sfDir, "nation"), root)
    assert(v3 === 3L, "crash leftover's number must not be reused")
    // new readers see the new generation...
    assert(VersionedTable.read(spark, root).count() === 25)
    // ...while the pinned reader's already-resolved plan still scans the
    // immutable v=1 directory — old data, complete, unchanged
    assert(pinned.count() === 5, "pinned snapshot mutated under the reader")

    // --- vacuum with the grace window: the pinned snapshot survives
    // keep=2 (v1 + v3 retained, the crash leftover v2 reclaimed) ---
    assert(VersionedTable.vacuum(spark, root, keep = 2) === Seq(2L))
    assert(pinned.count() === 5, "grace window violated for the pinned reader")
    // once the retention window moves past it, the snapshot goes — the
    // documented contract: readers outliving `keep` versions must re-pin
    VersionedTable.write(Tables(spark, sfDir, "region"), root)
    assert(VersionedTable.vacuum(spark, root, keep = 2).contains(1L))
  }
}
