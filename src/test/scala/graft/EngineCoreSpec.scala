package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ScannedFiles.scannedFiles
import graft.cdc.ScdMerge
import graft.ingest.{IncrementalIngest, TableSpec, WatermarkStore}
import graft.ops.{Expectation, Expectations}
import graft.tables.SnapshotTable

/** Core-engine semantics: snapshot commits, watermarks, incremental
  * ingestion, and the SCD merge algebra (replay idempotency, out-of-order,
  * batch-split equivalence). */
class EngineCoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("ignoreCorruptFiles: a torn parquet file is skipped, good rows survive") {
    val work = tmp("corrupt")
    Seq(1, 2, 3).toDF("id").coalesce(1).write.parquet(s"$work/d")
    Files.write(java.nio.file.Paths.get(s"$work/d/part-99-torn.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(spark.read.parquet(s"$work/d").count() == 3)
    finally spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
  }

  // ── SnapshotTable ─────────────────────────────────────────────────────

  test("SnapshotTable: versioned commits, atomic pointer, vacuum") {
    val t = new SnapshotTable(tmp("snap"))
    assert(t.currentVersion(spark).isEmpty && t.readOption(spark).isEmpty)
    assert(t.write(spark, Seq(1, 2, 3).toDF("x")) == 1)
    assert(t.read(spark).count() == 3)
    assert(t.write(spark, Seq(4).toDF("x")) == 2)
    assert(t.read(spark).as[Int].collect().toSet == Set(4))
    t.vacuum(spark, keep = 1)
    assert(t.read(spark).count() == 1) // live version untouched
  }

  test("SnapshotTable.deleteKeys: tombstones delete without rewrite; compact materializes") {
    val t = new SnapshotTable(tmp("tomb"))
    t.write(spark, Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v"))
    val snapBytes = new java.io.File(s"${t.root}/_v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    t.deleteKeysVersioned(spark, Seq(2).toDF("k"))
    t.deleteKeysVersioned(spark, Seq(4).toDF("k"))
    t.deleteKeysVersioned(spark, Seq(4).toDF("k")) // idempotent re-delete
    assert(t.read(spark).select("k").as[Int].collect().toSet == Set(1, 3))
    // the snapshot files themselves were never rewritten (O(deleted) delete)
    val after = new java.io.File(s"${t.root}/_v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == snapBytes)

    // compact materializes: next version reads the same minus deletes, no tombstone dir
    val v2 = t.compact(spark)
    assert(t.read(spark).select("k").as[Int].collect().toSet == Set(1, 3))
    assert(!new java.io.File(s"${t.root}/_tomb_v$v2").exists())
    // time travel still sees v4 *with its own tombstones applied*
    assert(t.readVersion(spark, 4).select("k").as[Int].collect().toSet == Set(1, 3))
    // vacuum drops the old version's tombstone sidecar too
    t.vacuum(spark, keep = 1)
    assert(!new java.io.File(s"${t.root}/_tomb_v4").exists())
  }

  test("SnapshotTable.deleteKeys: composes with stats-pruned reads") {
    val t = new SnapshotTable(tmp("tombstats"))
    t.writeWithStats(spark, (1 to 100).map(i => (i, i * 10)).toDF("k", "v"),
      statsCols = Seq("k"), clusterBy = Seq("k"), clusterPartitions = 4)
    t.deleteKeysVersioned(spark, Seq(10, 15).toDF("k"))
    val pruned = t.readIndexed(spark)
    assert(pruned.filter($"k" between (1, 25)).select("k").as[Int].collect().toSet ==
      ((1 to 25).toSet -- Set(10, 15)))
  }

  test("bloomSemiJoin: exact semi-join result; bloom screen rejects most non-members") {
    import graft.ops.Relational
    val probe = (1L to 10000L).toDF("pk")
    val build = Seq(3L, 7L, 9999L, 123L).toDF("bk")
    val got = Relational.bloomSemiJoin(probe, build, "pk", "bk", expectedItems = 10)
      .as[Long].collect().toSet
    assert(got == Set(3L, 7L, 9999L, 123L))
    // the screen alone (before the exact confirm) already kills ~99% at fpp=0.01
    val bf = build.stat.bloomFilter("bk", 10, 0.01)
    val survivors = (1L to 10000L).count(bf.mightContainLong)
    assert(survivors < 500, s"bloom screen left $survivors of 10000")
  }

  test("heavyHitters: exact ≡ group-by-having; empty when nothing qualifies") {
    import graft.ops.Relational
    val df = (Seq.fill(60)("a") ++ Seq.fill(45)("b") ++ (1 to 200).map(i => s"tail$i"))
      .toDF("w")
    val got = Relational.heavyHitters(df, "w", minCount = 45)
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 60L), ("b", 45L)))
    assert(Relational.heavyHitters(df, "w", minCount = 100).count() == 0)
  }

  test("Graph.pageRank: fixed point of a 2-cycle is 1.0; star center accumulates; deep iters run") {
    import graft.ops.Graph
    // symmetric 2-cycle: r=1 is the exact fixed point, every iteration
    val cyc = Graph.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("s", "d"), "s", "d", iters = 5)
      .as[(Long, Double)].collect().toMap
    assert(cyc == Map(1L -> 1.0, 2L -> 1.0))

    // star 1..4 -> 9: after iter1 center = 0.15 + 0.85*4 = 3.55; leaves 0.15;
    // iter2 center = 0.15 + 0.85*(4*0.15) = 0.66
    val star = Graph.pageRank(
      (1L to 4L).map(i => (i, 9L)).toDF("s", "d"), "s", "d", iters = 2)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(star(9L) - 0.66) < 1e-9 && star(1L) == 0.15)

    // 10 iterations: lineage stays bounded (localCheckpoint) and completes fast
    val deep = Graph.pageRank(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d"),
      "s", "d", iters = 10).as[(Long, Double)].collect()
    assert(deep.length == 3 && deep.forall(r => math.abs(r._2 - 1.0) < 0.05))
  }

  test("globalRowNumbers: ≡ single-partition window, but no SinglePartition exchange") {
    import graft.ops.Relational
    val df = spark.range(1000).select((col("id") * 37 % 1000).as("k"))
      .repartition(13) // scrambled input
    val got = Relational.globalRowNumbers(df, Seq("k"), numPartitions = 7)
    val expected = df.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("k"))).cast("long"))
    assert(got.orderBy("rn").collect().toSeq == expected.orderBy("rn").collect().toSeq)
    assert(!got.queryExecution.executedPlan.toString.contains("SinglePartition"),
      "global numbering must not plan a 1-task exchange")
    assert(expected.queryExecution.executedPlan.toString.contains("SinglePartition"),
      "sanity: the window form does plan one")
  }

  test("integrity checks: PK multiplicity, FK orphans skip null child keys") {
    import graft.ops.Expectations
    val t = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")).toDF("k", "v")
    val pk = Expectations.primaryKeyViolations(t, Seq("k"))
      .as[(Int, Long)].collect().toSet
    assert(pk == Set((1, 2L), (3, 3L)))

    val parent = Seq(1, 2).toDF("pk")
    val child = Seq(Some(1), Some(2), Some(9), None).toDF("fk")
    val orphans = Expectations.foreignKeyOrphans(child, Seq("fk"), parent, Seq("pk"))
      .as[Option[Int]].collect().toSet
    assert(orphans == Set(Some(9))) // null FK is not an orphan
  }

  test("pointInTimeJoin: version valid at fact ts; pre-history facts null-extend") {
    import graft.cdc.ScdMerge
    val dim = ScdMerge.scd2Merge(None,
      Seq((1, 10, "v1"), (1, 20, "v2"), (2, 15, "x1")).toDF("k", "seq", "attr"),
      Seq("k"), "seq")
    val facts = Seq((100, 1, 5), (101, 1, 10), (102, 1, 19), (103, 1, 20),
      (104, 1, 99), (105, 2, 14), (106, 2, 16)).toDF("fid", "k", "seq")
    val got = ScdMerge.pointInTimeJoin(facts, dim, Seq("k"), "seq")
      .select(col("fid"), col("attr")).as[(Int, Option[String])].collect().toMap
    assert(got == Map(
      100 -> None,         // before first version
      101 -> Some("v1"),   // inclusive start
      102 -> Some("v1"), 103 -> Some("v2"), // exclusive end
      104 -> Some("v2"),   // open current version
      105 -> None, 106 -> Some("x1")))
  }

  test("Observation: pipeline metrics ride the action — no second scan") {
    val obs = org.apache.spark.sql.Observation("ecs_obs")
    val out = Seq(1, 2, 3, 4).toDF("x")
      .observe(obs, count(lit(1)).as("n"), sum(col("x")).as("s"))
      .filter(col("x") > 1)
    assert(out.count() == 3)
    // metrics reflect the observed node (pre-filter), collected in-flight
    assert(obs.get("n") == 4L && obs.get("s") == 10L)
  }

  test("ScdMerge: schema evolution — a batch adding a column null-fills history") {
    val t0 = ScdMerge.scd1Upsert(None,
      Seq((1, 10, "a"), (2, 10, "b")).toDF("k", "seq", "v"), Seq("k"), "seq")
    // next batch carries a NEW column `extra`
    val t1 = ScdMerge.scd1Upsert(Some(t0),
      Seq((1, 20, "a2", "x")).toDF("k", "seq", "v", "extra"), Seq("k"), "seq")
    assert(t1.columns.toSet == Set("k", "seq", "v", "extra"))
    val rows = t1.select("k", "v", "extra").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows == Set((1, "a2", Some("x")), (2, "b", None)))

    // SCD2: evolved batch opens a new version; older versions carry null
    val v0 = ScdMerge.scd2Merge(None,
      Seq((1, 10, "a")).toDF("k", "seq", "v"), Seq("k"), "seq")
    val v1 = ScdMerge.scd2Merge(Some(v0),
      Seq((1, 20, "a2", "x")).toDF("k", "seq", "v", "extra"), Seq("k"), "seq")
    assert(v1.count() == 2)
    val cur = ScdMerge.current(v1).select("v", "extra").head()
    assert(cur.getString(0) == "a2" && cur.getString(1) == "x")
    assert(ScdMerge.history(v1).select("extra").head().isNullAt(0))
  }

  test("scd2Merge trackHistoryExcept: excluded-column change updates in place") {
    // v tracked; w excluded. seq 20 changes only w → same version; seq 30
    // changes v → new version; seq 40 reverts v to "a" → REOPENS a version
    // (runs, not distinct values).
    val evs = Seq((1, 10, "a", 1), (1, 20, "a", 2), (1, 30, "b", 3), (1, 40, "a", 4))
      .toDF("k", "seq", "v", "w")
    val t0 = ScdMerge.scd2Merge(None, evs, Seq("k"), "seq",
      trackHistoryExcept = Seq("w"))
    def chain(df: org.apache.spark.sql.DataFrame) = df
      .select(col("__START_AT"), col("__END_AT"), col("v"), col("w"), col("seq"))
      .collect().map(r => (r.getInt(0), Option(r.get(1)), r.getString(2),
        r.getInt(3), r.getInt(4))).sortBy(_._1).toSeq
    assert(chain(t0) == Seq(
      (10, Some(30), "a", 2, 20),  // w updated in place, start kept
      (30, Some(40), "b", 3, 30),
      (40, None,     "a", 4, 40)))

    // A late arrival landing inside an existing run merges in place too:
    // seq=15 (v=a, w=9) joins the 10..30 run but seq 20's w still wins.
    val t1 = ScdMerge.scd2Merge(Some(t0),
      Seq((1, 15, "a", 9)).toDF("k", "seq", "v", "w"), Seq("k"), "seq",
      trackHistoryExcept = Seq("w"))
    assert(chain(t1) == Seq(
      (10, Some(30), "a", 2, 20),
      (30, Some(40), "b", 3, 30),
      (40, None,     "a", 4, 40)))

    // Late TRACKED change inside a collapsed run: batch1 {10(a),30(a)}
    // collapses to one version (seq 30); late b@20 must SPLIT it and the
    // run's state must be resurrected at seq 30 — current stays v=a.
    val s0 = ScdMerge.scd2Merge(None,
      Seq((2, 10, "a", 1), (2, 30, "a", 3)).toDF("k", "seq", "v", "w"),
      Seq("k"), "seq", trackHistoryExcept = Seq("w"))
    val s1 = ScdMerge.scd2Merge(Some(s0),
      Seq((2, 20, "b", 2)).toDF("k", "seq", "v", "w"),
      Seq("k"), "seq", trackHistoryExcept = Seq("w"))
    assert(chain(s1) == Seq(
      (10, Some(20), "a", 3, 30), // truncated segment; untracked w approximated by run's latest
      (20, Some(30), "b", 2, 20),
      (30, None,     "a", 3, 30)))
  }

  test("SnapshotTable: stats manifest prunes files for range reads; results exact") {
    val t = new SnapshotTable(tmp("skip"))
    // clusterBy x ⇒ disjoint per-file x-ranges ⇒ selective min/max pruning
    t.writeWithStats(spark, spark.range(1000).toDF("x").withColumn("y", col("x") * 2),
      statsCols = Seq("x"), clusterBy = Seq("x"), clusterPartitions = 10)
    val full = t.read(spark)
    val pruned = t.readIndexed(spark).filter(col("x").between(100, 199))
    val kept = scannedFiles(pruned)
    assert(kept < full.inputFiles.length,
      s"expected pruning: $kept vs ${full.inputFiles.length}")
    // superset guarantee + exactness after row filter
    val exact = full.filter(col("x").between(100, 199)).as[(Long, Long)].collect().toSet
    val got = pruned.as[(Long, Long)].collect().toSet
    assert(got == exact)
    // disjoint range ⇒ no file scanned, schema preserved
    val none = t.readIndexed(spark).filter(col("x").between(5000, 6000))
    assert(none.count() == 0)
    assert(scannedFiles(none) == 0)
    assert(none.columns.toSeq == Seq("x", "y"))
  }

  test("append + optimizeCompact: O(increment) commits, only small files rewritten, stats carried") {
    def uris(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(p => new org.apache.hadoop.fs.Path(p).toUri.toString).toSet
    val t = new SnapshotTable(tmp("optim"))
    // v1: two big clustered files (sha2 payload defeats parquet encoding so
    // the files are genuinely large vs the threshold below)
    val big = spark.range(20000).toDF("k")
      .withColumn("x", sha2(col("k").cast("string"), 256))
    t.writeWithStats(spark, big, Seq("k"), clusterBy = Seq("k"), clusterPartitions = 2)
    val v1Files = uris(t.read(spark))
    assert(v1Files.size == 2)

    // v2..v5: 10-row appends — each commit writes ONLY the increment and
    // re-references every prior file in place
    (0 until 4).foreach { i =>
      val inc = spark.range(20000 + i * 10, 20010 + i * 10).toDF("k")
        .withColumn("x", sha2(col("k").cast("string"), 256)).coalesce(1)
      t.append(spark, inc)
      assert(v1Files.subsetOf(uris(t.read(spark))), "append must not rewrite prior files")
    }
    val v = t.currentVersion(spark).get
    assert(v == 5)
    val before = uris(t.read(spark))
    assert(before.size == 6)
    val rowsBefore = t.read(spark).count()
    assert(rowsBefore == 20040)
    // appended files are stats-covered too: a probe into appended key space
    // touches only small files
    val appendProbe = t.readIndexed(spark).filter(col("k").between(20000, 20040))
    assert(scannedFiles(appendProbe) <= 4)

    // compaction: the 4 small files pack into 1; the 2 big ones survive in place
    val next = t.optimizeCompact(spark, targetBytes = 100000)
    assert(next == v + 1)
    val after = uris(t.read(spark))
    assert(t.read(spark).count() == rowsBefore)
    assert(after.size == 3, s"expected 2 kept + 1 packed, got ${after.size}")
    assert(v1Files.subsetOf(after), "big files must survive untouched")
    assert((after -- before).forall(_.contains(s"_v$next/")), "new files live in the new version dir")

    // stats manifest carried: range probe still prunes and is exact
    val pruned = t.readIndexed(spark).filter(col("k").between(0, 999))
    assert(scannedFiles(pruned) == 1)
    assert(pruned.count() == 1000)

    // time travel: pre-compaction version intact
    assert(t.readVersion(spark, v).count() == rowsBefore)

    // tombstones: pending deletes survive both append and compaction,
    // without disturbing older versions' time-travel reads
    t.deleteKeysVersioned(spark, Seq(0L, 1L).toDF("k"))
    t.append(spark, Seq((90000L, "z")).toDF("k", "x"))
    t.append(spark, Seq((90001L, "z")).toDF("k", "x"))
    val packed = t.optimizeCompact(spark, targetBytes = 100000)
    assert(packed > next)
    assert(t.read(spark).count() == rowsBefore - 2 + 2)
    assert(t.read(spark).filter(col("k") < 2).count() == 0)
    assert(t.readVersion(spark, packed - 1).filter(col("k") < 2).count() == 0)

    // vacuum: dirs referenced by the live manifest survive, but their
    // version identity is gone; unreferenced old dirs are reclaimed
    t.vacuum(spark, keep = 1)
    assert(t.read(spark).count() == rowsBefore)
    intercept[IllegalArgumentException](t.readVersion(spark, 1))
    val hist = t.history(spark).select("version").as[Int].collect()
    assert(hist.toSet == Set(t.currentVersion(spark).get))
  }

  test("optimizeCompact(clusterBy): packed files carry disjoint ranges, probes stay selective") {
    val t = new SnapshotTable(tmp("optclu"))
    t.writeWithStats(spark,
      spark.range(20000).toDF("k").withColumn("x", sha2($"k".cast("string"), 256)),
      Seq("k"), clusterBy = Seq("k"), clusterPartitions = 2)
    // six scattered small appends
    Seq(30000L, 40000L, 50000L, 60000L, 70000L, 80000L).foreach { lo =>
      t.append(spark, spark.range(lo, lo + 10).toDF("k")
        .withColumn("x", sha2($"k".cast("string"), 256)).coalesce(1))
    }
    // target sized so the smalls pack into 2 range-partitioned files
    val smallBytes = 6L * 2048
    val v = t.optimizeCompact(spark, targetBytes = smallBytes / 2 + 1, clusterBy = Seq("k"))
    assert(v == t.currentVersion(spark).get)
    val packed = t.read(spark).inputFiles.filter(_.contains(s"_v$v/"))
    assert(packed.length >= 2, s"expected >=2 range-packed files, got ${packed.length}")
    // a probe into one appended range touches exactly one packed file
    val probe = t.readIndexed(spark).filter($"k".between(30000, 30009))
    val probeFiles = scannedFiles(probe)
    assert(probeFiles == 1, s"probe should hit 1 file, got $probeFiles")
    assert(probe.count() == 10)
  }

  test("appendTxn: per-app batch watermark makes replays no-ops; apps are independent") {
    val t = new SnapshotTable(tmp("txn"))
    assert(t.appendTxn(spark, Seq(1).toDF("x"), Some(("ingest", 0L))) == 1) // bootstrap
    assert(t.appendTxn(spark, Seq(99).toDF("x"), Some(("ingest", 0L))) == 1) // replay → no-op
    assert(t.read(spark).as[Int].collect().toSeq == Seq(1))
    assert(t.appendTxn(spark, Seq(2).toDF("x"), Some(("ingest", 1L))) == 2)
    assert(t.appendTxn(spark, Seq(99).toDF("x"), Some(("ingest", 0L))) == 2) // old batch → no-op
    assert(t.lastTxn(spark, "ingest").contains(1L))
    // a different logical stream has its own watermark
    assert(t.appendTxn(spark, Seq(3).toDF("x"), Some(("backfill", 0L))) == 3)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(t.lastTxn(spark, "ingest").contains(1L))
  }

  test("appendTxn: CONCURRENT duplicate batches commit exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = new SnapshotTable(tmp("txnrace"))
    t.write(spark, Seq(0).toDF("x"))
    // 4 replicas of the same (app, batch) race — speculative retries of one
    // micro-batch. The lock serializes the commits; all but the first see
    // the recorded watermark and no-op. Exactly one copy may land.
    val fs = (1 to 4).map(_ =>
      Future(t.appendTxn(spark, Seq(7).toDF("x"), Some(("app", 1L)))))
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(0, 7))
    assert(t.lastTxn(spark, "app").contains(1L))
    assert(t.currentVersion(spark).contains(2))
  }

  test("concurrent writers: blind commits serialize losslessly; writeIf detects conflicts") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = new SnapshotTable(tmp("race"))
    t.write(spark, Seq(0).toDF("x"))
    // 6 concurrent blind writers: all must commit, linear history, no losses
    val fs = (1 to 6).map(i => Future(t.write(spark, Seq(i).toDF("x"))))
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.sorted == (2 to 7))
    assert(t.currentVersion(spark).contains(7))
    (2 to 7).foreach(v => assert(t.readVersion(spark, v).count() == 1))
    // no staging debris
    val leftovers = new java.io.File(t.root).list().count(_.startsWith("_staging_"))
    assert(leftovers == 0, "staged dirs must be renamed or cleaned")

    // optimistic read-modify-write: second committer on the same base loses
    val base = t.currentVersion(spark).get
    t.writeIf(spark, Seq(100).toDF("x"), Some(base))
    val ex = intercept[java.util.ConcurrentModificationException](
      t.writeIf(spark, Seq(200).toDF("x"), Some(base)))
    assert(ex.getMessage.contains("another writer committed first"))
    assert(t.read(spark).as[Int].collect().toSeq == Seq(100))
  }

  test("Zorder: range probes on BOTH interleaved columns prune files; linear clusterBy cannot") {
    // two independent uniform columns — the adversarial case for linear
    // clustering and the home turf of Z-order
    val df = spark.range(4096).toDF("id")
      .withColumn("a", pmod(col("id") * 2654435761L, lit(4096)))
      .withColumn("b", pmod(col("id") * 40503L, lit(4096)))

    val z = new SnapshotTable(tmp("zord"))
    graft.tables.Zorder.writeZordered(z, spark, df, Seq("a", "b"), clusterPartitions = 16)
    def lowRange(t: SnapshotTable, c: String) =
      t.readIndexed(spark).filter(col(c).between(0, 255))
    val zAll = z.read(spark).inputFiles.length
    val zByA = scannedFiles(lowRange(z, "a"))
    val zByB = scannedFiles(lowRange(z, "b"))
    assert(zByA < zAll, s"z-order should prune on a: $zByA vs $zAll")
    assert(zByB < zAll, s"z-order should prune on b: $zByB vs $zAll")

    // linear clustering on a: selective on a, but b-probes read everything
    val lin = new SnapshotTable(tmp("linord"))
    lin.writeWithStats(spark, df, Seq("a", "b"),
      clusterBy = Seq("a"), clusterPartitions = 16)
    assert(scannedFiles(lowRange(lin, "b")) == lin.read(spark).inputFiles.length)

    // superset guarantee: pruned + row filter ≡ full filter, both axes
    val wantA = df.filter(col("a") <= 255).select("id").as[Long].collect().toSet
    val gotA = lowRange(z, "a").select("id").as[Long].collect().toSet
    assert(gotA == wantA)
    val wantB = df.filter(col("b") <= 255).select("id").as[Long].collect().toSet
    val gotB = lowRange(z, "b").select("id").as[Long].collect().toSet
    assert(gotB == wantB)
  }

  test("SnapshotTable: string stats prune point and range reads; truncation stays a superset") {
    val t = new SnapshotTable(tmp("strskip"))
    // keys k000..k999 cluster into disjoint lexicographic file ranges; the
    // long column exceeds the 32-char stats prefix, exercising truncation
    val df = spark.range(1000).toDF("id")
      .withColumn("k", format_string("k%03d", col("id")))
      .withColumn("longk", concat(format_string("p%03d", (col("id") / 100).cast("int")), lit("x" * 40)))
    t.writeWithStats(spark, df, statsCols = Seq("k", "longk"),
      clusterBy = Seq("k"), clusterPartitions = 10)
    val total = t.read(spark).inputFiles.length

    val eq = t.readIndexed(spark).filter(col("k") === "k500")
    val eqFiles = scannedFiles(eq)
    assert(eqFiles < total, s"expected pruning: $eqFiles vs $total")
    assert(eq.count() == 1)

    val rng = t.readIndexed(spark).filter(col("k").between("k100", "k199"))
    assert(scannedFiles(rng) < total)
    assert(rng.count() == 100)

    // truncated column: stored max prefix is p0..x*28 (< full value), so the
    // prefix-successor bound must still admit every real match (superset)
    val tr = t.readIndexed(spark).filter(col("longk").between("p005", "p005" + "x" * 40))
    assert(tr.filter(col("longk") === "p005" + "x" * 40).count() == 100)

    // out-of-range point ⇒ no file scanned, schema preserved
    val none = t.readIndexed(spark).filter(col("k") === "zzz")
    assert(none.count() == 0)
    assert(scannedFiles(none) == 0)
    assert(none.columns.toSeq == Seq("id", "k", "longk"))
  }

  test("SnapshotTable.restore: forward-history rollback; history reports every version") {
    val t = new SnapshotTable(tmp("restore"))
    t.write(spark, Seq(1, 2, 3, 4).toDF("x"))
    t.write(spark, Seq(1).toDF("x")) // bad deploy
    assert(t.restore(spark, 1) == 3)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    // the bad version is still inspectable (forward history)
    assert(t.readVersion(spark, 2).count() == 1)
    val h = t.history(spark).orderBy(col("version"))
      .select("version", "n_rows", "is_live")
      .as[(Int, Long, Boolean)].collect().toSeq
    assert(h == Seq((1, 4L, false), (2, 1L, false), (3, 4L, true)))
  }

  test("SnapshotTable.writeChecked: violations abort before any commit; clean data commits") {
    val t = new SnapshotTable(tmp("checked"))
    val bad = Seq((1, -5.0), (2, 3.0)).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      t.writeChecked(spark, bad, Seq(
        "v_non_negative" -> (col("v") >= 0),
        "k_not_null" -> col("k").isNotNull))
    }
    assert(e.getMessage.contains("v_non_negative") && e.getMessage.contains("1 rows"))
    assert(t.currentVersion(spark).isEmpty) // nothing committed
    assert(t.writeChecked(spark, bad.filter(col("v") >= 0), Seq(
      "v_non_negative" -> (col("v") >= 0))) == 1)
    assert(t.read(spark).count() == 1)
  }

  test("MaterializedJoin: chained insert-only refreshes ≡ from-scratch rebuild") {
    import graft.tables.MaterializedJoin
    val mv = new MaterializedJoin(new SnapshotTable(tmp("mv")), Seq("k"))
    def a(r: Range) = r.map(i => (i % 10, s"a$i")).toDF("k", "av")
    def b(r: Range) = r.map(i => (i % 10, s"b$i")).toDF("k", "bv")
    mv.initialize(spark, a(0 until 40), b(0 until 20))
    // two consecutive delta batches
    mv.refresh(spark, a(0 until 40), a(40 until 60), b(0 until 20), b(20 until 30))
    mv.refresh(spark, a(0 until 60), a(60 until 70), b(0 until 30), b(30 until 45))
    val got = mv.read(spark).as[(Int, String, String)].collect().sorted.toSeq
    val want = a(0 until 70).join(b(0 until 45), Seq("k"))
      .as[(Int, String, String)].collect().sorted.toSeq
    assert(got == want)
    // time travel still sees the pre-refresh view
    assert(mv.view.readVersion(spark, 1).count() ==
      a(0 until 40).join(b(0 until 20), Seq("k")).count())
  }

  test("SnapshotTable: per-file Bloom index prunes point lookups off the clustering order") {
    val t = new SnapshotTable(tmp("bloom"))
    // clustered by x — so min/max stats CANNOT skip on k (every file's
    // k-range spans the domain); the bloom index must do the work
    val df = spark.range(2000).toDF("x")
      .withColumn("k", pmod(col("x") * 1103515245L % 2000000011L, lit(100000)))
      .withColumn("s", format_string("u%05d", pmod(col("x") * 48271L, lit(100000))))
    t.writeIndexed(spark, df, bloomCols = Seq("k", "s"), bloomFpp = 0.01,
      clusterBy = Seq("x"), clusterPartitions = 16)
    val full = t.read(spark)
    val nFiles = full.inputFiles.length
    assert(nFiles >= 8)

    // present long key: exact rows, fewer files scheduled
    val probe = full.orderBy(col("x")).select("k").as[Long].head()
    def byK(v: Long) = t.readIndexed(spark).filter(col("k") === v)
    val prunedL = byK(probe)
    val keptL = scannedFiles(prunedL)
    assert(keptL < nFiles, s"expected bloom pruning: $keptL vs $nFiles")
    assert(prunedL.collect().toSet == full.filter(col("k") === probe).collect().toSet)

    // present string key
    val sProbe = full.orderBy(col("x")).select("s").as[String].head()
    val prunedS = t.readIndexed(spark).filter(col("s") === sProbe)
    assert(scannedFiles(prunedS) < nFiles)
    assert(prunedS.collect().toSet == full.filter(col("s") === sProbe).collect().toSet)

    // absent keys: across many probes, false positives stay near fpp
    val absentHits = (1 to 25).map(i => scannedFiles(byK(7000000L + i))).sum
    assert(absentHits <= 0.2 * 25 * nFiles, s"fpp blowout: $absentHits files kept")

    // superset guarantee over every key of one file's domain slice
    val keys = full.filter(col("x") < 20).select("k").as[Long].collect()
    keys.foreach { kk =>
      assert(byK(kk).count() == full.filter(col("k") === kk).count())
    }
  }

  test("mortonCode: known interleavings; Z-clustered stats prune on either dimension") {
    import graft.ops.Relational
    // morton(2,3): a bit1→pos2 (4), b bits0,1→pos1,3 (2+8) = 14
    val codes = Seq((0, 0), (1, 0), (0, 1), (1, 1), (2, 3)).toDF("a", "b")
      .select(Relational.mortonCode(col("a"), col("b"), 4).as("z"))
      .as[Long].collect().toSeq
    assert(codes == Seq(0L, 1L, 2L, 3L, 14L))

    val t = new SnapshotTable(tmp("zordspec"))
    val grid = spark.range(64 * 64)
      .select((col("id") % 64).as("x"), (col("id") / 64).as("y"))
      .withColumn("z", Relational.mortonCode(col("x"), col("y"), 6))
    t.writeWithStats(spark, grid, statsCols = Seq("x", "y"),
      clusterBy = Seq("z"), clusterPartitions = 16)
    val full = t.read(spark).inputFiles.length
    val xRange = t.readIndexed(spark).filter(col("x").between(0, 7))
    val px = scannedFiles(xRange)
    val py = scannedFiles(t.readIndexed(spark).filter(col("y").between(0, 7)))
    assert(px < full, s"x-range did not prune ($px of $full)")
    assert(py < full, s"y-range did not prune ($py of $full)")
    // superset guarantee + exactness after the row filter
    assert(xRange.count() == 8L * 64)
  }

  test("SnapshotTable.changes: keyed diff classifies insert/update/delete, skips unchanged") {
    val t = new SnapshotTable(tmp("cdf"))
    t.write(spark, Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "v", "x"))
    t.write(spark, Seq((1, "a", 10), (2, "B", 20), (4, "d", 40)).toDF("k", "v", "x"))
    val ch = t.changes(spark, Seq("k"), 1, 2)
      .select("k", "v", "x", "_change_type").as[(Int, String, Int, String)]
      .collect().toSet
    assert(ch == Set(
      (2, "B", 20, "update"), // carries NEW values
      (3, "c", 30, "delete"), // carries OLD values
      (4, "d", 40, "insert")))
    // unchanged key 1 emits nothing; a self-diff is empty
    assert(t.changes(spark, Seq("k"), 2, 2).count() == 0)
  }

  test("SnapshotTable.changes withPreimage: updates split into retractable pre+post rows") {
    val t = new SnapshotTable(tmp("cdfpre"))
    t.write(spark, Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "v", "x"))
    t.write(spark, Seq((1, "a", 10), (2, "B", 21), (4, "d", 40)).toDF("k", "v", "x"))
    val ch = t.changes(spark, Seq("k"), 1, 2,
        withChangedColumns = false, withPreimage = true)
      .select("k", "v", "x", "_change_type").as[(Int, String, Int, String)]
      .collect().toSet
    assert(ch == Set(
      (2, "b", 20, "update_preimage"),  // OLD values — the retraction row
      (2, "B", 21, "update_postimage"), // NEW values
      (3, "c", 30, "delete"),
      (4, "d", 40, "insert")))
    // attribution composes: both update rows name the changed columns
    val attr = t.changes(spark, Seq("k"), 1, 2,
        withChangedColumns = true, withPreimage = true)
      .select("k", "_change_type", "_changed_columns")
      .as[(Int, String, String)].collect().toSet
    assert(attr.filter(_._1 == 2).map(_._3) == Set("v,x"))
    assert(attr.filter(_._1 == 4).map(_._3) == Set(""))
    // SQL form over a plain root
    val viaSql = org.apache.spark.sql.GraftColumnBridge.graftSql(spark,
      s"CHANGES '${t.root}' FROM 1 TO 2 ON KEYS (k) WITH PREIMAGE")
      .select("k", "v", "x", "_change_type").as[(Int, String, Int, String)]
      .collect().toSet
    assert(viaSql == ch)
  }

  test("SnapshotTable.changes: append windows diff only the files unique to each side") {
    val t = new SnapshotTable(tmp("cdfappend"))
    t.write(spark, (1 to 64).map(i => (i, s"v$i")).toDF("k", "v"))   // v1
    t.append(spark, Seq((1001, "n1"), (1002, "n2")).toDF("k", "v"))  // v2 = v1 files + appended
    val ch = t.changes(spark, Seq("k"), 1, 2)
    // correctness: exactly the appended keys, as inserts
    assert(ch.select("k", "_change_type").as[(Int, String)].collect().toSet ==
      Set((1001, "insert"), (1002, "insert")))
    // pruning pin: files shared between the versions are immutable bytes —
    // an append-window diff must scan ONLY the appended files, making the
    // mirror window O(appended data) on an append-mostly dim
    assert(ch.inputFiles.nonEmpty && ch.inputFiles.forall(f => !f.contains("/_v1/")),
      s"shared v1 files must not be scanned: ${ch.inputFiles.mkString(",")}")
    // a second append's window likewise skips everything before it
    t.append(spark, Seq((1003, "n3")).toDF("k", "v"))                // v3
    val ch23 = t.changes(spark, Seq("k"), 2, 3)
    assert(ch23.select("k", "_change_type").as[(Int, String)].collect().toSet ==
      Set((1003, "insert")))
    assert(ch23.inputFiles.forall(f => !f.contains("/_v1/") && !f.contains("/_v2/")))
    // an EVOLVING append (new column) stays file-pruned and reports the
    // same feed a full diff would: appended rows insert with the new
    // column, shared-file rows null-fill it on BOTH sides (no change)
    val t2 = new SnapshotTable(tmp("cdfappendev"))
    t2.write(spark, (1 to 32).map(i => (i, s"v$i")).toDF("k", "v"))
    t2.appendEvolving(spark, Seq((2001, "e1", 7.5)).toDF("k", "v", "w"))
    val chE = t2.changes(spark, Seq("k"), 1, 2)
    assert(chE.inputFiles.forall(f => !f.contains("/_v1/")))
    assert(chE.select("k", "v", "w", "_change_type")
      .as[(Int, String, Option[Double], String)].collect().toSet ==
      Set((2001, "e1", Some(7.5), "insert")))

    // a DELETE lands inside the window: tombstone files only GREW, so the
    // diff takes the TOMBSTONE-DELTA path (r10) — unique files plus ONE
    // broadcast semi-join over the shared files for exactly the keys the
    // new tombstones hid; no full two-snapshot diff, and the delete row
    // carries its true old values
    t.deleteKeysVersioned(spark, Seq(Tuple1(5)).toDF("k"))           // v4
    val del = t.changes(spark, Seq("k"), 1, 4)
    assert(graft.tables.SnapshotTable.lastDiffMode.get == "tombstone-delta",
      s"delete-then-append window took ${graft.tables.SnapshotTable.lastDiffMode.get}")
    assert(del.select("k", "v", "_change_type").as[(Int, String, String)]
      .collect().toSet ==
      Set((1001, "n1", "insert"), (1002, "n2", "insert"),
        (1003, "n3", "insert"), (5, "v5", "delete")))
    // append COPIES tombstones forward: a window whose tombstone dirs hold
    // the same files stays file-pruned, with the (identical) visibility
    // filter applied on both sides — the tombstoned key never reappears
    t.append(spark, Seq((1004, "n4")).toDF("k", "v"))                // v5
    val ch34 = t.changes(spark, Seq("k"), 4, 5)
    assert(ch34.inputFiles.filter(_.contains("/_v")).forall(f =>
      !f.contains("/_v1/") && !f.contains("/_v2/") && !f.contains("/_v3/")),
      s"tombstone-identical append window must stay pruned: ${ch34.inputFiles.mkString(",")}")
    assert(graft.tables.SnapshotTable.lastDiffMode.get == "pruned")
    assert(ch34.select("k", "_change_type").as[(Int, String)].collect().toSet ==
      Set((1004, "insert")))

    // a SHRUNK/replaced tombstone set (maintenance materialized the
    // deletes into a clean rewrite) still falls back to the honest full
    // diff — and stays correct
    t.compact(spark)                                                 // v6: clean
    val post = t.changes(spark, Seq("k"), 5, 6)
    assert(graft.tables.SnapshotTable.lastDiffMode.get == "full")
    assert(post.count() == 0, "compaction is content-preserving on visible rows")
  }

  test("SnapshotTable: a reader opened before a commit still reads its snapshot") {
    // snapshot immutability: version dirs are never rewritten, so a plan
    // bound to _vN keeps working while writers commit _v(N+1) — the
    // reader-isolation property object-store tables need
    val t = new SnapshotTable(tmp("iso"))
    t.write(spark, Seq(1, 2).toDF("x"))
    val reader = t.read(spark) // binds to _v1's files
    t.write(spark, Seq(9).toDF("x"))
    assert(reader.as[Int].collect().toSet == Set(1, 2)) // old snapshot intact
    assert(t.read(spark).as[Int].collect().toSet == Set(9)) // new pointer live
  }

  test("SnapshotTable: a torn write (snapshot dir, no pointer flip) is invisible and recoverable") {
    val t = new SnapshotTable(tmp("torn"))
    t.write(spark, Seq(1, 2).toDF("x"))
    // simulate a writer that crashed after writing files but before the
    // atomic pointer flip: orphan _v2 exists, pointer still says 1
    Seq(99).toDF("x").write.parquet(s"${t.root}/_v2")
    assert(t.currentVersion(spark).contains(1))
    assert(t.read(spark).as[Int].collect().toSet == Set(1, 2))
    // the next commit targets _v2 again, overwrites the orphan, and flips
    assert(t.write(spark, Seq(7).toDF("x")) == 2)
    assert(t.read(spark).as[Int].collect().toSet == Set(7))
  }

  test("SnapshotTable: readVersion time travel sees pre-update states") {
    val t = new SnapshotTable(tmp("travel"))
    t.write(spark, Seq(1, 2).toDF("x"))
    t.write(spark, Seq(3).toDF("x"))
    assert(t.readVersion(spark, 1).as[Int].collect().toSet == Set(1, 2))
    assert(t.readVersion(spark, 2).as[Int].collect().toSet == Set(3))
    assert(t.read(spark).as[Int].collect().toSet == Set(3)) // pointer untouched
    intercept[IllegalArgumentException](t.readVersion(spark, 9))
  }

  test("SnapshotTable: compact rewrites the live snapshot into fewer files") {
    val t = new SnapshotTable(tmp("compact"))
    (1 to 4).foreach(i => t.write(spark,
      spark.range(100).toDF("x"), partitionByCols = Nil))
    val before = t.read(spark).inputFiles.length
    t.compact(spark, targetFiles = 1)
    assert(t.read(spark).inputFiles.length == 1)
    assert(t.read(spark).count() == 100)
    assert(before >= 1) // previous layout still reachable for time travel
  }

  test("SnapshotTable: clusterBy writes range-clustered files (stat-skippable)") {
    val t = new SnapshotTable(tmp("cluster"))
    import org.apache.spark.sql.functions.col
    t.write(spark, spark.range(10000).toDF("x")
      .withColumn("x", col("x") * 7 % 10000), clusterBy = Seq("x"), clusterPartitions = 4)
    val df = t.read(spark)
    assert(df.count() == 10000)
    // each file covers a disjoint range → per-file min/max are narrow
    val files = df.inputFiles
    assert(files.length > 1)
    val ranges = files.map { f =>
      val part = spark.read.parquet(f)
      val r = part.agg(org.apache.spark.sql.functions.min("x"),
        org.apache.spark.sql.functions.max("x")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $hi1 vs $lo2")
      case _ => ()
    }
  }

  test("corrupt JSON records surface via PERMISSIVE mode instead of failing the job") {
    val dir = tmp("corrupt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.json"),
      """{"id": 1, "v": "ok"}
        |not json at all
        |{"id": 2, "v": "also ok"}""".stripMargin)
    // Spark disallows queries touching only _corrupt_record on raw files —
    // materialize first (the documented pattern).
    val rows = spark.read
      .schema("id LONG, v STRING, _corrupt_record STRING")
      .json(dir)
      .collect()
    assert(rows.length == 3)
    assert(rows.count(r => !r.isNullAt(2)) == 1)
    assert(rows.count(r => !r.isNullAt(0)) == 2)
  }

  // ── WatermarkStore ────────────────────────────────────────────────────

  test("WatermarkStore: round-trip + overwrite") {
    val wm = new WatermarkStore(tmp("wm"))
    assert(wm.read(spark, "t").isEmpty)
    wm.write(spark, "t", "2024-01-01 00:00:00.000001")
    assert(wm.read(spark, "t").contains("2024-01-01 00:00:00.000001"))
    wm.write(spark, "t", "2025-01-01 00:00:00.000000")
    assert(wm.read(spark, "t").contains("2025-01-01 00:00:00.000000"))
  }

  test("WatermarkStore: a torn cdc.json fails ingest by name instead of re-reading from 1900") {
    val src = tmp("src"); val bronze = tmp("bronze")
    val wmStore = new WatermarkStore(bronze)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00")))
      .toDF("id", "updated_at").write.parquet(s"$src/t.parquet")
    val spec = TableSpec("dbo", "t", "updated_at")
    IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run1")
    // a torn overwrite: the file holds only a prefix of its JSON
    val p = new org.apache.hadoop.fs.Path(s"$bronze/t_cdc/cdc.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("""{"cdc": "2024-01""".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalStateException] {
      IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run2")
    }
    assert(e.getMessage.contains("cdc.json") &&
      e.getMessage.contains("WatermarkStore.recover"), e.getMessage)
    assert(spark.read.parquet(s"$bronze/t/*").count() == 2, "bronze must not be re-ingested")
    // the named remedy heals it: recover, write back, ingest takes nothing
    wmStore.write(spark, "t", wmStore.recover(spark, "t", "updated_at").get)
    val r = IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run3")
    assert(r.rowsRead == 0)
    // a crash between write's delete and rename leaves only the tmp: adopted
    fs.rename(p, new org.apache.hadoop.fs.Path(s"$bronze/t_cdc/cdc.json.tmp"))
    assert(wmStore.read(spark, "t").contains("2024-01-02 10:00:00.000000"))
    assert(fs.exists(p))
  }

  // ── IncrementalIngest ─────────────────────────────────────────────────

  test("IncrementalIngest: first run takes all, second run takes none, new data flows") {
    val src = tmp("src"); val bronze = tmp("bronze")
    val wmStore = new WatermarkStore(bronze)
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "b")
    ).toDF("id", "updated_at", "v").write.mode("overwrite").parquet(s"$src/t.parquet")

    val spec = TableSpec("dbo", "t", "updated_at")
    val r1 = IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run1")
    assert(r1.rowsRead == 2 && r1.newWatermark.contains("2024-01-02 10:00:00.000000"))

    // replay with no new rows: F4/K5 — nothing written, watermark unchanged
    val r2 = IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run2")
    assert(r2.rowsRead == 0 && r2.newWatermark.isEmpty)

    Seq((3L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), "c"))
      .toDF("id", "updated_at", "v").write.mode("append").parquet(s"$src/t.parquet")
    val r3 = IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run3")
    assert(r3.rowsRead == 1)
    // bronze holds exactly the 3 rows across run folders (no dup, no loss)
    assert(spark.read.parquet(s"$bronze/t/*").count() == 3)
  }

  test("WatermarkStore.recover: lost cdc.json rebuilt from bronze footer stats") {
    val src = tmp("src"); val bronze = tmp("bronze")
    val wmStore = new WatermarkStore(bronze)
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "b")
    ).toDF("id", "updated_at", "v").write.parquet(s"$src/t.parquet")
    val spec = TableSpec("dbo", "t", "updated_at")
    IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run1")
    Seq((3L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), "c"))
      .toDF("id", "updated_at", "v").write.mode("append").parquet(s"$src/t.parquet")
    IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run2")
    val recorded = wmStore.read(spark, "t").get

    // simulate watermark-store loss, then recover from bronze footers
    val p = new org.apache.hadoop.fs.Path(s"$bronze/t_cdc/cdc.json")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    assert(wmStore.read(spark, "t").isEmpty)
    assert(wmStore.recover(spark, "t", "updated_at").contains(recorded))

    // numeric watermarks recover from footer statistics, not data pages
    // (timestamp MAX is outside Spark's parquet aggregate pushdown — the
    // timestamp path above is a column-pruned scan, pinned correct)
    Seq((1L, 100L), (2L, 250L)).toDF("id", "op_seq")
      .write.parquet(s"$bronze/seqtab/seqtab-run1")
    Seq((3L, 900L)).toDF("id", "op_seq")
      .write.parquet(s"$bronze/seqtab/seqtab-run2")
    assert(wmStore.recover(spark, "seqtab", "op_seq").contains("900"))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val plan = s2.read.parquet(s"$bronze/seqtab/*")
      .agg(org.apache.spark.sql.functions.max($"op_seq"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [MAX(op_seq)]"), plan.take(2000))

    // an ingest resumed from the recovered watermark takes nothing new
    wmStore.write(spark, "t", wmStore.recover(spark, "t", "updated_at").get)
    val r = IncrementalIngest.ingestTable(spark, spec, s"$src/t.parquet", bronze, wmStore, "run3")
    assert(r.rowsRead == 0)
    // recover on a table with no bronze at all → None
    assert(wmStore.recover(spark, "absent", "updated_at").isEmpty)
  }

  test("IncrementalIngest: from_date backfill override re-reads history") {
    val src = tmp("src"); val bronze = tmp("bronze")
    val wmStore = new WatermarkStore(bronze)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("id", "updated_at").write.parquet(s"$src/t.parquet")
    IncrementalIngest.ingestTable(spark, TableSpec("dbo", "t", "updated_at"),
      s"$src/t.parquet", bronze, wmStore, "run1")
    val r = IncrementalIngest.ingestTable(
      spark, TableSpec("dbo", "t", "updated_at", fromDate = Some("2023-01-01 00:00:00")),
      s"$src/t.parquet", bronze, wmStore, "run2")
    assert(r.rowsRead == 1) // backfill beats stored watermark (F2)
  }

  // ── ScdMerge: SCD1 ────────────────────────────────────────────────────

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("scd1Upsert: last-write-wins, late rows ignored, replay idempotent") {
    val initial = Seq((1, ts("2024-01-01 00:00:00"), "v1"), (2, ts("2024-01-01 00:00:00"), "w1"))
      .toDF("id", "seq", "v")
    val s0 = ScdMerge.scd1Upsert(None, initial, Seq("id"), "seq")
    assert(s0.count() == 2)

    // newer update wins; stale (late) update for id=2 is ignored
    val batch = Seq((1, ts("2024-02-01 00:00:00"), "v2"), (2, ts("2023-12-01 00:00:00"), "stale"))
      .toDF("id", "seq", "v")
    val s1 = ScdMerge.scd1Upsert(Some(s0), batch, Seq("id"), "seq")
    val m = s1.select("id", "v").as[(Int, String)].collect().toMap
    assert(m == Map(1 -> "v2", 2 -> "w1"))

    // replaying the same batch changes nothing (C5 idempotency)
    val s2 = ScdMerge.scd1Upsert(Some(s1), batch, Seq("id"), "seq")
    assert(s2.count() == 2 &&
      s2.select("id", "v").as[(Int, String)].collect().toMap == m)
  }

  test("scd1Upsert: multiple updates to one key in one batch keep highest seq") {
    val batch = Seq((1, ts("2024-01-01 00:00:00"), "a"),
      (1, ts("2024-01-03 00:00:00"), "c"), (1, ts("2024-01-02 00:00:00"), "b"))
      .toDF("id", "seq", "v")
    val s = ScdMerge.scd1Upsert(None, batch, Seq("id"), "seq")
    assert(s.select("v").as[String].collect().toSeq == Seq("c"))
  }

  // ── ScdMerge: SCD2 ────────────────────────────────────────────────────

  test("scd2Merge: versions chain with __START_AT/__END_AT; current is open") {
    val initial = Seq((1, ts("2024-01-01 00:00:00"), "v1")).toDF("id", "seq", "v")
    val v0 = ScdMerge.scd2Merge(None, initial, Seq("id"), "seq")
    assert(v0.count() == 1 && ScdMerge.current(v0).count() == 1)

    val upd = Seq((1, ts("2024-02-01 00:00:00"), "v2")).toDF("id", "seq", "v")
    val v1 = ScdMerge.scd2Merge(Some(v0), upd, Seq("id"), "seq")
    assert(v1.count() == 2)
    val closed = ScdMerge.history(v1).select("v", "__END_AT")
      .as[(String, java.sql.Timestamp)].collect()
    assert(closed.toSeq == Seq(("v1", ts("2024-02-01 00:00:00"))))
    assert(ScdMerge.current(v1).select("v").as[String].head() == "v2")
  }

  test("scd2Merge: out-of-order arrival becomes a correctly-placed historical version") {
    val v0 = ScdMerge.scd2Merge(None,
      Seq((1, ts("2024-01-01 00:00:00"), "v1"), (1, ts("2024-03-01 00:00:00"), "v3"))
        .toDF("id", "seq", "v"), Seq("id"), "seq")
    // late event lands between the two existing versions (C7)
    val late = Seq((1, ts("2024-02-01 00:00:00"), "v2")).toDF("id", "seq", "v")
    val v1 = ScdMerge.scd2Merge(Some(v0), late, Seq("id"), "seq")
    val chain = v1.orderBy("__START_AT")
      .select("v", "__END_AT").as[(String, Option[java.sql.Timestamp])].collect().toSeq
    assert(chain == Seq(
      ("v1", Some(ts("2024-02-01 00:00:00"))),
      ("v2", Some(ts("2024-03-01 00:00:00"))),
      ("v3", None)))
  }

  test("scd2Merge: replay idempotent + untouched keys preserved byte-for-byte") {
    val v0 = ScdMerge.scd2Merge(None,
      Seq((1, ts("2024-01-01 00:00:00"), "a1"), (2, ts("2024-01-01 00:00:00"), "b1"))
        .toDF("id", "seq", "v"), Seq("id"), "seq")
    val batch = Seq((1, ts("2024-02-01 00:00:00"), "a2")).toDF("id", "seq", "v")
    val v1 = ScdMerge.scd2Merge(Some(v0), batch, Seq("id"), "seq")
    val v2 = ScdMerge.scd2Merge(Some(v1), batch, Seq("id"), "seq")
    assert(v1.count() == 3 && v2.count() == 3)
    assert(v2.filter($"id" === 2).count() == 1) // untouched key intact
  }

  test("scd2Merge: one big batch ≡ two split batches (merge associativity)") {
    val all = Seq(
      (1, ts("2024-01-01 00:00:00"), "a1"), (1, ts("2024-02-01 00:00:00"), "a2"),
      (2, ts("2024-01-15 00:00:00"), "b1"), (1, ts("2024-03-01 00:00:00"), "a3"))
      .toDF("id", "seq", "v")
    val oneShot = ScdMerge.scd2Merge(None, all, Seq("id"), "seq")
    val split = ScdMerge.scd2Merge(
      Some(ScdMerge.scd2Merge(None, all.filter($"seq" < ts("2024-02-15 00:00:00")), Seq("id"), "seq")),
      all.filter($"seq" >= ts("2024-02-15 00:00:00")), Seq("id"), "seq")
    val canon = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("id", "__START_AT").select("id", "v", "__START_AT", "__END_AT")
        .collect().toSeq
    assert(canon(oneShot) == canon(split))
  }

  // ── Expectations ──────────────────────────────────────────────────────

  test("expectAllOrDrop: drops violations incl. NULLs, keeps the rest") {
    val df = Seq((Some(1), "a"), (None, "b"), (Some(3), null))
      .toDF("id", "v")
    val out = Expectations.expectAllOrDrop(df,
      Seq(Expectation("id not null", "id IS NOT NULL"), Expectation("v not null", "v IS NOT NULL")))
    assert(out.select("id").as[Int].collect().toSeq == Seq(1))
  }

  test("quarantine: first violated rule tags the row; good+bad partition the input") {
    val df = Seq((Some(1), "a"), (None, "b"), (Some(3), null), (None, null))
      .toDF("id", "v")
    val rules = Seq(
      Expectation("id_rule", "id IS NOT NULL"), Expectation("v_rule", "v IS NOT NULL"))
    val (good, bad) = Expectations.quarantine(df, rules)
    assert(good.count() == 1 && bad.count() == 3)
    assert(good.columns.toSeq == df.columns.toSeq) // tag column stripped
    val tags = bad.groupBy($"__rejected_by").count()
      .as[(String, Long)].collect().toMap
    // first-listed rule wins for the doubly-bad row
    assert(tags == Map("id_rule" -> 2L, "v_rule" -> 1L))
  }

  test("JdbcIncremental: DB-side watermark delta, partitioned read ≡ single-query read") {
    import java.sql.Timestamp
    val work = java.nio.file.Files.createTempDirectory("jdbcinc").toString
    System.setProperty("derby.system.home", work)
    val url = s"jdbc:derby:$work/db;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-10 00:00:00"), "old"),
      (2L, Timestamp.valueOf("2024-01-15 00:00:00"), "boundary"), // == watermark: excluded (strict >)
      (3L, Timestamp.valueOf("2024-01-16 12:00:00"), "new1"),
      (4L, Timestamp.valueOf("2024-02-01 08:30:00"), "new2"))
      .toDF("id", "ts", "v")
    rows.coalesce(1).write.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "t_inc").mode("overwrite").save()

    def delta(part: Option[graft.ingest.JdbcIncremental.Partitioning]) =
      graft.ingest.JdbcIncremental.read(spark, url, driver, "t_inc",
        "ts", "2024-01-15 00:00:00", graft.ingest.JdbcIncremental.derbyTs, part)

    val single = delta(None).select($"id", $"v").as[(Long, String)].collect().toSet
    // strictly-after rows only — the boundary row stays behind, DB-side
    assert(single == Set((3L, "new1"), (4L, "new2")))
    // range-partitioned parallel drain returns the same delta
    val parted = delta(Some(graft.ingest.JdbcIncremental.Partitioning("id", 1L, 4L, 3)))
      .select($"id", $"v").as[(Long, String)].collect().toSet
    assert(parted == single)
  }

  test("JdbcPublish: blue-green swap replaces the whole table, converges after a torn load") {
    val work = java.nio.file.Files.createTempDirectory("jdbcpub").toString
    System.setProperty("derby.system.home", work)
    val url = s"jdbc:derby:$work/db;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "DIM").load()
      .select(col("k"), col("v")).as[(Long, String)].collect().toSet

    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    assert(graft.gold.JdbcPublish.publish(v1, url, driver, "dim", 2) == 3L)
    assert(readBack() == Set((1L, "a"), (2L, "b"), (3L, "c")))

    // a torn load: staging exists with garbage, live table untouched
    Seq((99L, "junk")).toDF("k", "v").write.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "DIM_STG").mode("overwrite").save()
    assert(readBack() == Set((1L, "a"), (2L, "b"), (3L, "c")), "torn load must not leak")

    // the next publish rebuilds staging from scratch and swaps atomically
    val v2 = Seq((1L, "a2"), (4L, "d")).toDF("k", "v")
    assert(graft.gold.JdbcPublish.publish(v2, url, driver, "dim", 1) == 2L)
    assert(readBack() == Set((1L, "a2"), (4L, "d")), "old rows must be fully replaced")

    // staging is consumed by the rename — no debris table
    intercept[Exception](spark.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "DIM_STG").load().collect())
  }

  // ── Hive-partitioned snapshot tables through the manifest paths ────────

  test("hive-partitioned table: append and optimizeCompact keep partition values") {
    val t = new SnapshotTable(tmp("hivepart"))
    t.write(spark, Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)).toDF("k", "p", "x"),
      partitionByCols = Seq("p"))
    // increment into an existing and a brand-new partition: values must
    // survive the manifest read (they live only in k=v dir names)
    t.append(spark, Seq((4L, "b", 40), (5L, "c", 50)).toDF("k", "p", "x"))
    val got = t.read(spark).select($"k", $"p", $"x").as[(Long, String, Int)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30), (4L, "b", 40), (5L, "c", 50)))
    // the increment is written with the SAME hive layout as the base
    assert(t.read(spark).inputFiles.filter(_.contains("_v2/")).forall(_.contains("p=")))
    // second append, then compaction (materializes partition values into
    // flat packed files): still no nulls, values exact
    t.append(spark, Seq((6L, "a", 60)).toDF("k", "p", "x"))
    t.optimizeCompact(spark, targetBytes = 1L << 20)
    val after = t.read(spark)
    assert(after.count() == 6 && after.filter($"p".isNull).count() == 0)
    assert(after.filter($"p" === "a").select($"k").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 6L))
    assert(after.filter($"p" === "c").select($"x").as[Int].collect().toSeq == Seq(50))
  }

  // ── appendTxn crash-window semantics (watermark is part of the commit) ─

  test("appendTxn crash windows: pre-flip marker invisible; claimed version purges orphans") {
    val t = new SnapshotTable(tmp("txncrash"))
    t.appendTxn(spark, Seq(1).toDF("x"), Some(("app", 0L))) // v1 committed
    val f = new org.apache.hadoop.fs.Path(t.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what a writer leaves when it dies after writing version `v`'s
    // manifest, its ledger carrying `app -> batch`, and before the flip
    def plant(v: Int, app: String, batch: Long): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(t.root, s"_manifest_v$v"), true)
      try out.write(s"format=plain\ntxn:$app=$batch\ndir\t_v1".getBytes("UTF-8"))
      finally out.close()
    }
    // a writer that crashed AFTER recording its marker for v2 but BEFORE
    // the pointer flip: the marker rides an uncommitted version → invisible
    plant(2, "app", 1L)
    assert(t.lastTxn(spark, "app").contains(0L), "uncommitted marker must not count")
    // so the retry of batch 1 lands instead of skipping — exactly-once
    assert(t.appendTxn(spark, Seq(2).toDF("x"), Some(("app", 1L))) == 2)
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(t.lastTxn(spark, "app").contains(1L))
    // a DIFFERENT app's orphan marker for the next version must be purged
    // when some other writer claims that version — not spring to life
    plant(3, "other", 9L)
    t.append(spark, Seq(3).toDF("x")) // commits v3
    assert(t.lastTxn(spark, "other").isEmpty, "foreign orphan marker must be purged")
    assert(t.appendTxn(spark, Seq(4).toDF("x"), Some(("other", 9L))) == 4) // lands
    assert(t.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("appendTxn crash window: a versioned delete's claim purges the crashed marker; the retry lands") {
    val t = new SnapshotTable(tmp("txndel"))
    t.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "x")) // v1
    val f = new org.apache.hadoop.fs.Path(t.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what appendTxn leaves when it dies after recording its marker for v2
    // and before the pointer flip
    graft.tables.MetaIO.replace(f, new org.apache.hadoop.fs.Path(t.root, "_manifest_v2"),
      "format=plain\ntxn:app=7\ndir\t_v1")
    assert(t.deleteKeysVersioned(spark, Seq(1L).toDF("k")) == 2)
    assert(t.lastTxn(spark, "app").isEmpty,
      "the crashed append's marker must not come into force with the delete's commit")
    // so the retried batch lands instead of being skipped as applied
    assert(t.appendTxn(spark, Seq((3L, "c")).toDF("k", "x"), Some(("app", 7L))) == 3)
    assert(t.read(spark).as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "b"), (3L, "c")))
    assert(t.lastTxn(spark, "app").contains(7L))
  }
}
