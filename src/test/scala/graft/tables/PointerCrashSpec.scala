package graft.tables

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Mid-flip crash recovery on the plain SnapshotTable (the bucketed
  * table's rule, now shared): the pointer flip is delete(_current) →
  * rename(tmp, _current); a writer dying between the two must not make
  * the table read as empty — the committed version is adopted from the
  * orphaned `_current.tmp.v` and the rename self-heals. Without this, the
  * next writer's claimVersionDir would reclaim (DELETE) live version
  * dirs. */
class PointerCrashSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  test("pointer lost mid-flip: version adopted from tmp, rename healed, appends continue") {
    val root = s"${java.nio.file.Files.createTempDirectory("ptrcrash")}/t"
    val t = new SnapshotTable(root)
    t.write(spark, Seq((1L, "a")).toDF("id", "v"))
    t.append(spark, Seq((2L, "b")).toDF("id", "v"))
    assert(t.currentVersion(spark).contains(2))

    // simulate the crash window: pointer deleted, tmp for v2 left behind
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new Path(root, "_current.tmp.2"), true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    f.delete(new Path(root, "_current"), false)

    // adoption: reads as v2 (NOT empty), heals the pointer file
    assert(t.currentVersion(spark).contains(2))
    assert(f.exists(new Path(root, "_current")))
    assert(t.read(spark).count() == 2)

    // the healed table keeps its history intact through the next commit
    t.append(spark, Seq((3L, "c")).toDF("id", "v"))
    assert(t.currentVersion(spark).contains(3))
    assert(t.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.readVersion(spark, 2).count() == 2) // time travel unharmed
  }

  test("bucketed flip: a reader mid-flip does not fail the landed commit") {
    val root = s"${java.nio.file.Files.createTempDirectory("ptrflip")}/t"
    val t = new BucketedSnapshotTable(root, numBuckets = 2, keys = Seq("k"))
    t.scd1Merge(spark, Seq((1L, 1L, "a")).toDF("k", "seq", "v"), "seq")
    val v0 = t.currentVersion(spark).get
    // a lock-free reader lands in the delete→rename window; the commit
    // must still land once, and report success
    TestHooks.onStep(t, s => if (s == "mid_flip") t.currentVersion(spark))
    try t.scd1Merge(spark, Seq((1L, 2L, "b"), (2L, 1L, "c")).toDF("k", "seq", "v"), "seq")
    finally TestHooks.onStep(t, _ => ())
    assert(t.currentVersion(spark).contains(v0 + 1))
    assert(t.read(spark).select("k", "seq", "v").as[(Long, Long, String)].collect().toSet ==
      Set((1L, 2L, "b"), (2L, 1L, "c")))
  }
}
