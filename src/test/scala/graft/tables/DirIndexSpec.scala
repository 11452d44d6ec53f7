package graft.tables

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The one index-sidecar layout ([[DirIndex]]) on the plain table: each
  * data dir carries its own `_stats`/`_bloom`, built in staging before the
  * commit lock, so no commit writes index files after its pointer flip and
  * files kept by reference keep their index. Also pins that a row delete
  * is always a committed version, so it cannot race a concurrent commit's
  * tombstone carry. */
class DirIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private final class Boom extends RuntimeException("injected crash")

  /** 800 rows in 8 files clustered by `d`; `id` is a point-probe column. */
  private def rows = (1 to 800).map(i => (i.toLong, i.toLong, s"v$i")).toDF("id", "d", "v")

  test("a delete racing an append's carry commits after it; the key stays hidden") {
    val t = new SnapshotTable(tmp("race"))
    t.write(spark, (1 to 20).map(i => (i, s"v$i")).toDF("k", "v"))
    var deleter: Thread = null
    var failure: Option[Throwable] = None
    // the append holds the commit lock and has just carried the live
    // version's tombstones forward when the delete starts
    TestHooks.onStep(t) { step =>
      if (step == "carried" && deleter == null) {
        deleter = new Thread(() =>
          try t.deleteKeysVersioned(spark, Seq(7).toDF("k"))
          catch { case e: Throwable => failure = Some(e) })
        deleter.start()
        // let a delete that does not wait for the commit lock land now,
        // between this carry and the flip; one that waits times out here
        deleter.join(5000)
      }
    }
    val appended =
      try t.append(spark, Seq((21, "v21")).toDF("k", "v"))
      finally TestHooks.onStep(t)(_ => ())
    deleter.join()
    failure.foreach(e => throw e)
    assert(t.currentVersion(spark).contains(appended + 1), "the delete commits after the append")
    val live = t.read(spark).select("k").as[Int].collect().toSet
    assert(!live.contains(7), s"deleted key visible in the live version: $live")
    assert(live == (1 to 21).toSet - 7)
    assert(t.readVersion(spark, appended).filter($"k" === 7).count() == 1,
      "the version before the delete keeps the row")
  }

  test("writeIndexed killed after its flip keeps its index; the next append indexes its increment") {
    val t = new SnapshotTable(tmp("killidx"))
    TestHooks.onStep(t)(s => if (s == "committed") throw new Boom)
    intercept[Boom] {
      t.writeIndexed(spark, rows, statsCols = Seq("d"), bloomCols = Seq("id"),
        clusterBy = Seq("d"), clusterPartitions = 8)
    }
    TestHooks.onStep(t)(_ => ())
    assert(t.currentVersion(spark).contains(1), "the kill came after the commit point")
    t.append(spark, Seq((801L, 801L, "v801")).toDF("id", "d", "v").coalesce(1))
    val (kRange, total) = t.pruneStats(spark, $"d".between(100, 120))
    assert(total >= 9 && kRange < total, s"range probe must prune: $kRange of $total")
    val (kPoint, _) = t.pruneStats(spark, $"id" === 801L)
    assert(kPoint < total, s"point probe must prune: $kPoint of $total")
    assert(t.readIndexed(spark).filter($"id" === 801L).select("v").as[String]
      .collect().toSeq == Seq("v801"))
  }

  test("a plain writeIndexed point probe reads the dir's Bloom manifest and blob once") {
    val t = new SnapshotTable(tmp("plainprobe"))
    t.writeIndexed(spark, rows, bloomCols = Seq("id"), clusterBy = Seq("d"),
      clusterPartitions = 8)
    BloomIndex.probeReads.set(0)
    val (kept, total) = t.pruneStats(spark, $"id" === 400L)
    assert(BloomIndex.probeReads.get == 2,
      s"one consolidated dir: manifest + blob, got ${BloomIndex.probeReads.get}")
    assert(kept < total, s"point probe must prune: $kept of $total")
  }

  test("after optimizeCompact a Bloom point probe still skips the big files it kept") {
    val t = new SnapshotTable(tmp("compactbloom"))
    // two big files (a hash payload defeats parquet encoding) Bloom-indexed
    // on k, then four small appends that the compaction packs
    val big = spark.range(20000).toDF("k").withColumn("x", sha2($"k".cast("string"), 256))
    t.writeIndexed(spark, big, bloomCols = Seq("k"), clusterBy = Seq("k"), clusterPartitions = 2)
    (0 until 4).foreach { i =>
      t.append(spark, spark.range(30000 + i * 10, 30010 + i * 10).toDF("k")
        .withColumn("x", sha2($"k".cast("string"), 256)).coalesce(1))
    }
    val v = t.currentVersion(spark).get
    assert(t.optimizeCompact(spark, targetBytes = 100000) == v + 1)
    val (kept, total) = t.pruneStats(spark, $"k" === 30015L)
    assert(total == 3, s"2 kept big files + 1 packed: $total")
    assert(kept < total, s"the kept big files must stay Bloom-indexed: $kept of $total")
    assert(t.readIndexed(spark).filter($"k" === 30015L).count() == 1)
  }

  test("an empty append leaves later commits indexing the table's columns; " +
      "DESCRIBE DETAIL reports them") {
    val root = tmp("emptyappend")
    val t = new SnapshotTable(root)
    t.writeIndexed(spark, rows, statsCols = Seq("d"), bloomCols = Seq("id"),
      clusterBy = Seq("d"), clusterPartitions = 8)
    t.append(spark, rows.limit(0))
    t.append(spark, Seq((801L, 801L, "v801")).toDF("id", "d", "v").coalesce(1))
    assert(t.indexColumns(spark) == (Seq("d"), Seq("id")))
    val (kept, total) = t.pruneStats(spark, $"d".between(790, 801))
    assert(kept < total, s"range probe must prune: $kept of $total")
    val detail = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, s"DESCRIBE DETAIL '$root'")
      .select("stats_cols", "bloom_cols").as[(String, String)].collect().toSeq
    assert(detail == Seq(("d", "id")))
  }

  test("legacy per-version index files: reads stay correct unpruned, vacuum removes them, " +
      "ANALYZE re-indexes") {
    val root = tmp("legacy")
    val t = new SnapshotTable(root)
    t.write(spark, rows, clusterBy = Seq("d"), clusterPartitions = 8)
    t.append(spark, Seq((801L, 801L, "v801")).toDF("id", "d", "v").coalesce(1))
    // the old layout: one whole-version stats manifest and Bloom sidecar
    // per version beside the data dirs
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1, 2).foreach { v =>
      val snap = t.readVersion(spark, v)
      StatsManifest.write(snap, Seq("d"), f, new Path(root, s"_stats_v$v"))
      BloomIndex.write(snap, Seq("id"), 0.03, f, new Path(root, s"_bloom_v$v"))
    }
    val (kept, total) = t.pruneStats(spark, $"d".between(100, 120))
    assert(kept == total, "legacy index files are not read")
    assert(t.readIndexed(spark).filter($"d".between(100, 120)).count() == 21)
    assert(t.readIndexed(spark).filter($"id" === 801L).count() == 1)
    t.vacuum(spark, keep = 2)
    val left = new java.io.File(root).list().filter(n =>
      n.startsWith("_stats_v") || n.startsWith("_bloom_v"))
    assert(left.isEmpty, s"vacuum must remove legacy index files: ${left.toSeq}")
    t.analyze(spark, Seq("d"), Seq("id"))
    assert(t.indexColumns(spark) == (Seq("d"), Seq("id")))
    val (kRange, _) = t.pruneStats(spark, $"d".between(100, 120))
    val (kPoint, _) = t.pruneStats(spark, $"id" === 801L)
    assert(kRange < total && kPoint < total, s"ANALYZE must re-index: $kRange, $kPoint of $total")
    // INCREMENTAL: covered dirs are left alone
    val stats = new java.io.File(s"$root/_v1/_stats")
    val stamp = stats.lastModified
    Thread.sleep(1100)
    t.analyze(spark, Seq("d"), Seq("id"), onlyMissing = true)
    assert(stats.lastModified == stamp, "re-ANALYZE INCREMENTAL rewrote a covered dir")
    assert(t.readIndexed(spark).filter($"d".between(100, 120)).count() == 21)
  }
}
