package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Z-order clustering: after OPTIMIZE … ZORDER BY, range predicates on
  * EVERY clustering dimension must prune files — the property the
  * lexicographic CLUSTER BY cannot give the trailing columns. */
class ZorderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def sql(q: String): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)

  test("zvalue: interleaved code is monotone per dimension, nulls to bucket 0") {
    val df = Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0))
      .toDF("x", "y")
    // a 2-bit 2-dim z-value of the corners: (0,0) < any mixed < (max,max)
    val grid = (0 until 16).flatMap(i => (0 until 16).map(j => (i.toDouble, j.toDouble)))
      .toDF("x", "y")
    val z = grid.withColumn("z", Zorder.zvalueRanked(grid, Seq("x", "y"), bits = 4))
      .as[(Double, Double, Long)].collect()
    val zmap = z.map { case (x, y, zv) => (x, y) -> zv }.toMap
    // monotone (non-strict — approx-quantile boundary ties can merge
    // adjacent values into one bucket) along each axis, and the extremes
    // strictly separate
    for (k <- 0 until 16; i <- 1 until 16) {
      assert(zmap((i.toDouble, k.toDouble)) >= zmap(((i - 1).toDouble, k.toDouble)))
      assert(zmap((k.toDouble, i.toDouble)) >= zmap((k.toDouble, (i - 1).toDouble)))
    }
    assert(zmap((15.0, 0.0)) > zmap((0.0, 0.0)))
    assert(zmap((0.0, 15.0)) > zmap((0.0, 0.0)))
    assert(zmap((15.0, 15.0)) > zmap((15.0, 0.0)))
    // null sorts lowest
    val withNull = Seq((Some(5.0), 1.0), (None, 1.0)).toDF("x", "y")
    val zs = withNull.withColumn("z", Zorder.zvalueRanked(withNull, Seq("x", "y")))
      .select("z").as[Long].collect()
    assert(zs(1) <= zs(0))
    // strings rejected with a named error
    val sdf = Seq(("a", 1.0)).toDF("s", "y")
    val e = intercept[IllegalArgumentException](Zorder.zvalueRanked(sdf, Seq("s")))
    assert(e.getMessage.contains("unsupported type"))
  }

  test("zorderRewrite: BOTH dimensions prune files; lexicographic only prunes the first") {
    val root = tmp("zord")
    val t = new SnapshotTable(root)
    // a 64×64 uniform grid, first clustered lexicographically by x
    val grid = (0 until 64).flatMap(i => (0 until 64).map(j =>
      (i.toLong * 64 + j, i.toLong, j.toLong))).toDF("id", "x", "y")
    t.writeIndexed(spark, grid, statsCols = Seq("x", "y"),
      clusterBy = Seq("x"), clusterPartitions = 16)
    val total = t.read(spark).inputFiles.length
    // contrast pin: y-ranges span the domain in every x-slab file
    val (yBefore, allB) = t.pruneStats(spark, $"y" >= 56)
    assert(yBefore * 2 > allB,
      s"lexicographic layout should NOT prune y: $yBefore of $allB")

    sql(s"OPTIMIZE '$root' TARGET 2048 ZORDER BY (x, y)")
    val totalZ = t.read(spark).inputFiles.length
    assert(totalZ >= 8, s"need a multi-file z layout, got $totalZ")
    val (kx, all) = t.pruneStats(spark, $"x" >= 56)
    assert(kx > 0 && kx * 2 <= all, s"x must prune after zorder: $kx of $all")
    val (ky, _) = t.pruneStats(spark, $"y" >= 56)
    assert(ky > 0 && ky * 2 <= all, s"y must prune after zorder: $ky of $all")
    val (kb, _) = t.pruneStats(spark, $"x" >= 56 && $"y" >= 56)
    assert(kb > 0 && kb * 4 <= all, s"x∧y must prune harder: $kb of $all")
    // rewrite is content-preserving (incl. through the pruned SQL read)
    assert(sql(s"SNAPSHOT '$root' WHERE x >= 56 AND y >= 56").count() == 64)
    assert(t.read(spark).count() == 64 * 64)
    // time travel keeps the pre-zorder layout readable
    assert(t.readVersion(spark, 1).count() == 64 * 64)
  }

  test("zorderRewrite preserves key tombstones and SCD state rows") {
    val root = tmp("zord2")
    val t = new SnapshotTable(root)
    t.write(spark, (1 to 256).map(i => (i.toLong, i.toLong % 16, i.toLong / 16))
      .toDF("id", "x", "y"))
    t.deleteKeysVersioned(spark, Seq(7L).toDF("id"))
    t.zorderRewrite(spark, Seq("x", "y"), targetBytes = 4096)
    // the deleted key stays invisible after the rewrite (the rewrite
    // recommitted VISIBLE rows — the tombstone is materialized now)
    assert(t.read(spark).filter($"id" === 7).count() == 0)
    assert(t.read(spark).count() == 255)
  }
}
