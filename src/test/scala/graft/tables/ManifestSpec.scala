package graft.tables

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The one-manifest rules: legacy plain roots are refused by name, and
  * VACUUM's floor makes every older version raise the same error on both
  * formats while the ledger search still finds a pinned version. */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String) =
    s"${java.nio.file.Files.createTempDirectory(name)}/t"

  test("a legacy plain root (pointer, data dir, file list, no manifest) is refused by name") {
    val root = tmp("legacy")
    Seq((1L, "a")).toDF("k", "x").write.parquet(s"$root/_v1")
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    MetaIO.replace(f, new Path(root, "_current"), "1")
    MetaIO.replace(f, new Path(root, "_files_v1"), s"$root/_v1/part-00000.parquet")
    val e = intercept[IllegalStateException](new SnapshotTable(root).read(spark))
    assert(e.getMessage.contains("LEGACY_TABLE_ROOT"), e.getMessage)
    val r = intercept[IllegalStateException](BucketedSnapshotTable.layoutOf(spark, root))
    assert(r.getMessage.contains("LEGACY_TABLE_ROOT"), r.getMessage)
  }

  /** After `vacuum`, version 1 raises the vacuumed error; the ledger
    * search still pins it, and reading the pin raises too. */
  private def belowFloor(t: VersionedTable, vacuum: => Unit): Unit = {
    vacuum
    val e = intercept[IllegalArgumentException](t.readVersion(spark, 1))
    assert(e.getMessage.contains("version 1 was vacuumed"), e.getMessage)
    assert(t.versionWithTxnAtMost(spark, "q", 1L).contains(1))
    intercept[IllegalArgumentException](
      t.readVersion(spark, t.versionWithTxnAtMost(spark, "q", 1L).get))
    assert(t.read(spark).count() == 3)
  }

  test("plain VACUUM KEEP 1: older versions raise the vacuumed error; a pinned version is still found") {
    val t = new SnapshotTable(tmp("pfloor"))
    (1L to 3L).foreach(b => t.appendTxn(spark, Seq((b, "a")).toDF("k", "x"), Some(("q", b))))
    belowFloor(t, t.vacuum(spark, keep = 1))
    assert(new java.io.File(t.root).list().count(_.matches("_v\\d+")) == 3,
      "the live version still reads every append's dir")
  }

  test("bucketed VACUUM KEEP 1: older versions raise the vacuumed error; a pinned version is still found") {
    val t = new BucketedSnapshotTable(tmp("bfloor"), numBuckets = 2, keys = Seq("k"))
    (1L to 3L).foreach(b => t.scd1Merge(spark, Seq((b, 1L)).toDF("k", "seq"), "seq",
      txn = Some(("q", b))))
    belowFloor(t, t.vacuum(spark, keepVersions = 1))
  }
}
