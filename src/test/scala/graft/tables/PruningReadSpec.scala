package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ScannedFiles.scannedFiles
import graft.SparkTestSession

/** Read-side data skipping through the pruning file index: any predicate
  * pushed into a SNAPSHOT relation's scan must shrink the EXECUTED plan's
  * file list via the stats/Bloom sidecars, on both table formats, without
  * changing results. */
class PruningReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def sql(q: String): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)

  test("bucketed SNAPSHOT: WHERE prunes files via stats AND bloom; results exact") {
    val root = tmp("bpread")
    val t = new BucketedSnapshotTable(root, numBuckets = 16, keys = Seq("k"),
      statsCols = Seq("d"), bloomCols = Seq("oid"))
    t.scd1Merge(spark, (1 to 160).map(i => (i, 1L, i.toLong, i * 1000L))
      .toDF("k", "seq", "d", "oid"), "seq")
    t.scd1Merge(spark, Seq((3, 2L, 500L, 999999L), (4, 2L, 501L, 888888L))
      .toDF("k", "seq", "d", "oid"), "seq")
    val total = t.read(spark).inputFiles.length

    // range predicate on the stats column — SQL WHERE form
    val range = sql(s"SNAPSHOT '$root' WHERE d >= 400")
    assert(range.as[(Int, Long, Long, Long)].collect().map(_._1).toSet == Set(3, 4))
    val rangeFiles = scannedFiles(sql(s"SNAPSHOT '$root' WHERE d >= 400"))
    assert(rangeFiles * 4 <= total,
      s"stats skipping must prune the range scan: $rangeFiles of $total files")

    // point predicate on the bloom column, pushed through a plain .filter
    // on the relation (the file index prunes at planning time)
    val snap = sql(s"SNAPSHOT '$root'")
    val point = snap.filter($"oid" === 999999L)
    assert(point.select("k").as[Int].collect().toSeq == Seq(3))
    assert(scannedFiles(snap.filter($"oid" === 999999L)) * 4 <= total,
      "bloom skipping must prune the point scan")

    // metadata pin used by the gate query
    val (kept, all) = t.pruneStats(spark, $"oid" === 999999L)
    assert(all == total && kept * 4 <= all, s"pruneStats: $kept of $all")
    // no constraints → no pruning, full scan is a full scan
    assert(scannedFiles(snap) == total)
    // unsatisfiable range → zero files, schema preserved, zero rows
    assert(sql(s"SNAPSHOT '$root' WHERE d > 100000").count() == 0)
  }

  test("bucketed SNAPSHOT: SCD tombstones filtered; time travel prunes too") {
    val root = tmp("bpread2")
    val t = new BucketedSnapshotTable(root, numBuckets = 8, keys = Seq("k"),
      statsCols = Seq("d"))
    t.scd1Merge(spark, (1 to 80).map(i => (i, 1L, i.toLong)).toDF("k", "seq", "d"), "seq")
    t.scd1Merge(spark,
      Seq((5, 2L, 5L)).toDF("k", "seq", "d").withColumn(graft.cdc.ScdMerge.DeletedCol, lit(true)),
      "seq", applyAsDeletes = Some(col(graft.cdc.ScdMerge.DeletedCol)))
    // the tombstoned key is invisible through SNAPSHOT
    assert(sql(s"SNAPSHOT '$root' WHERE d <= 10").select("k").as[Int]
      .collect().toSet == Set(1, 2, 3, 4, 6, 7, 8, 9, 10))
    // version 1 still shows it, read through the same pruned path
    assert(sql(s"SNAPSHOT '$root' VERSION AS OF 1 WHERE d = 5").select("k")
      .as[Int].collect().toSeq == Seq(5))
  }

  test("bucketed fallback: type-evolved dirs take the union-cast read, results stay correct") {
    val root = tmp("bpreadevo")
    val t = new BucketedSnapshotTable(root, numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, Seq((1, 1L, 10), (2, 1L, 20)).toDF("k", "seq", "d"), "seq") // d: int
    t.scd1Merge(spark, Seq((9, 2L, 90L)).toDF("k", "seq", "d"), "seq")             // d: long
    val got = sql(s"SNAPSHOT '$root' WHERE d >= 20").select("k").as[Int].collect().toSet
    assert(got == Set(2, 9), s"evolved table must answer through the fallback: $got")
  }

  test("plain SNAPSHOT: stats + bloom skipping, key tombstones still anti-joined") {
    val root = tmp("ppread")
    val t = new SnapshotTable(root)
    // 8 files clustered by d so the stats ranges are disjoint; bloom on id
    t.writeIndexed(spark, (1 to 800).map(i => (i.toLong, i.toLong, s"v$i"))
      .toDF("id", "d", "v"), statsCols = Seq("d"), bloomCols = Seq("id"),
      clusterBy = Seq("d"), clusterPartitions = 8)
    val total = t.read(spark).inputFiles.length
    assert(total >= 8)

    val range = sql(s"SNAPSHOT '$root' WHERE d BETWEEN 100 AND 120")
    assert(range.count() == 21)
    assert(scannedFiles(sql(s"SNAPSHOT '$root' WHERE d BETWEEN 100 AND 120")) * 2 <= total)

    val point = sql(s"SNAPSHOT '$root' WHERE id = 400")
    assert(point.select("v").as[String].collect().toSeq == Seq("v400"))
    assert(scannedFiles(sql(s"SNAPSHOT '$root' WHERE id = 400")) * 2 <= total)
    val (kept, all) = t.pruneStats(spark, $"id" === 400L)
    assert(all == total && kept * 2 <= all)

    // delete a key via tombstones: the pruned relation must still hide it
    t.deleteKeysVersioned(spark, Seq(400L).toDF("id"))
    assert(sql(s"SNAPSHOT '$root' WHERE id = 400").count() == 0)
    assert(sql(s"SNAPSHOT '$root' WHERE d BETWEEN 100 AND 120").count() == 21)
  }

  test("plain SNAPSHOT: hive partition pruning composes with stats + bloom skipping") {
    val root = tmp("ppart")
    val t = new SnapshotTable(root)
    // 4 hive partitions × 8 range-clustered files each: a partition
    // predicate must drop whole directories, a data predicate must then
    // skip files INSIDE the surviving directory
    t.writeIndexed(spark, (1 to 800).map(i => (i.toLong, i % 4, i.toLong))
      .toDF("id", "p", "d"), statsCols = Seq("d"), bloomCols = Seq("id"),
      clusterBy = Seq("d"), clusterPartitions = 8, partitionByCols = Seq("p"))
    val total = t.read(spark).inputFiles.length
    assert(total >= 16, s"expected a multi-file multi-dir layout, got $total")

    // partition-only predicate: directory pruning alone
    val part = sql(s"SNAPSHOT '$root' WHERE p = 1")
    assert(part.count() == 200)
    assert(scannedFiles(sql(s"SNAPSHOT '$root' WHERE p = 1")) * 2 <= total,
      "partition pruning must drop the other directories")
    val (kPart, all) = t.pruneStats(spark, $"p" === 1)
    assert(all == total && kPart * 2 <= all, s"pruneStats partition: $kPart of $all")

    // partition AND data predicate: both prunings compose
    val both = sql(s"SNAPSHOT '$root' WHERE p = 1 AND d >= 790")
    assert(both.select("id").as[Long].collect().toSet ==
      (790L to 800L).filter(_ % 4 == 1).toSet)
    val bothFiles = scannedFiles(sql(s"SNAPSHOT '$root' WHERE p = 1 AND d >= 790"))
    assert(bothFiles * 8 <= total,
      s"partition+stats must compose: $bothFiles of $total files")
    val (kBoth, _) = t.pruneStats(spark, $"p" === 1 && $"d" >= 790)
    assert(kBoth * 8 <= all, s"pruneStats composed: $kBoth of $all")

    // bloom point INSIDE a partition predicate
    assert(sql(s"SNAPSHOT '$root' WHERE p = 1 AND id = 401").count() == 1)
    assert(scannedFiles(sql(s"SNAPSHOT '$root' WHERE p = 1 AND id = 401")) * 8 <= total)

    // partition values survive the pruned relation (typed like the
    // ordinary read) and tombstones still anti-join on top
    assert(t.readIndexed(spark).schema("p").dataType ==
      t.read(spark).schema("p").dataType)
    t.deleteKeysVersioned(spark, Seq(401L).toDF("id"))
    assert(sql(s"SNAPSHOT '$root' WHERE p = 1 AND id = 401").count() == 0)
    assert(sql(s"SNAPSHOT '$root' WHERE p = 1").count() == 199)
  }

  test("plain SNAPSHOT: mixed partitioned+flat manifest unions both legs, still prunes") {
    val root = tmp("ppartmix")
    val t = new SnapshotTable(root)
    // 4 partitions × several d-clustered files
    t.writeIndexed(spark, (1 to 400).map(i => (i.toLong, i % 4, i.toLong))
      .toDF("id", "p", "d"), statsCols = Seq("d"),
      clusterBy = Seq("d"), clusterPartitions = 4, partitionByCols = Seq("p"))
    val hiveFiles = t.read(spark).inputFiles.length
    // a flat append stores p in file bytes, not dir names — r11: the
    // increment becomes its own pruning relation UNIONED under the
    // partition-grouped one instead of dropping the whole version to the
    // unpruned fallback
    t.append(spark, Seq((1000L, 9, 1000L), (1001L, 1, 1001L)).toDF("id", "p", "d"))
    val total = t.read(spark).inputFiles.length
    val flatFiles = total - hiveFiles
    assert(sql(s"SNAPSHOT '$root'").count() == 402)
    // rows land from both legs, typed consistently
    assert(sql(s"SNAPSHOT '$root' WHERE p = 9").select("id").as[Long]
      .collect().toSeq == Seq(1000L))
    assert(sql(s"SNAPSHOT '$root' WHERE p = 1").count() == 101)
    assert(t.readIndexed(spark).schema("p").dataType ==
      t.read(spark).schema("p").dataType)
    // partition pruning still drops the other hive directories; only the
    // flat increment rides along un-pruned (its p lives in file bytes)
    val scanned = scannedFiles(sql(s"SNAPSHOT '$root' WHERE p = 2"))
    assert(scanned <= hiveFiles / 4 + flatFiles,
      s"hive legs must still prune: $scanned of $total (hive $hiveFiles)")
    val (kept, all) = t.pruneStats(spark, $"p" === 2)
    assert(all == total && kept <= hiveFiles / 4 + flatFiles,
      s"pruneStats mixed: $kept of $all")
    // …and the data predicate prunes BOTH legs via stats
    val scannedD = scannedFiles(sql(s"SNAPSHOT '$root' WHERE d >= 1001"))
    assert(scannedD * 2 <= total, s"stats must prune both legs: $scannedD of $total")
    assert(sql(s"SNAPSHOT '$root' WHERE d >= 1001").count() == 1)
  }

  test("plain SNAPSHOT: string and date partition values type and prune correctly") {
    val root = tmp("ppartty")
    val t = new SnapshotTable(root)
    val df = (1 to 90).map { i =>
      (i.toLong, s"cat ${i % 3}", java.sql.Date.valueOf(f"2024-01-${i % 3 + 1}%02d"))
    }.toDF("id", "c", "dt")
    t.writeIndexed(spark, df, partitionByCols = Seq("c", "dt"))
    val total = t.read(spark).inputFiles.length
    // the escaped space round-trips; both columns type like the fallback
    assert(t.readIndexed(spark).schema("c").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(t.readIndexed(spark).schema("dt").dataType ==
      org.apache.spark.sql.types.DateType)
    val one = sql(s"SNAPSHOT '$root' WHERE c = 'cat 1' AND dt = DATE '2024-01-02'")
    assert(one.count() == 30)
    assert(scannedFiles(
      sql(s"SNAPSHOT '$root' WHERE c = 'cat 1' AND dt = DATE '2024-01-02'")) * 2 <= total)
    val (kept, all) = t.pruneStats(spark,
      $"c" === "cat 1" && $"dt" === java.sql.Date.valueOf("2024-01-02"))
    assert(kept * 2 <= all, s"string+date partition pruneStats: $kept of $all")
  }

  test("double-kind bloom + per-item IN probing: fractional and mixed-type points prune") {
    val root = tmp("bdbl")
    val t = new BucketedSnapshotTable(root, numBuckets = 16, keys = Seq("k"),
      bloomCols = Seq("price", "oid"))
    t.scd1Merge(spark, (1 to 160).map(i => (i, 1L, i + 0.25, i * 10L))
      .toDF("k", "seq", "price", "oid"), "seq")
    val total = t.read(spark).inputFiles.length

    // a double literal probes the canonical-bits "d" filters (pre-r10:
    // doubles could not probe at all)
    val (kD, all) = t.pruneStats(spark, $"price" === 42.25)
    assert(all == total && kD > 0 && kD * 4 <= all, s"double point: $kD of $all")
    assert(spark.sparkContext.hadoopConfiguration != null)
    assert(t.readIndexed(spark).filter($"price" === 42.25).select("k")
      .as[Int].collect().toSeq == Seq(42))
    // an INTEGRAL literal on the double column probes bits((double)l)
    val (kL, _) = t.pruneStats(spark, expr("price = 43"))
    assert(kL * 4 <= all, s"integral-on-double: $kL of $all")
    assert(t.readIndexed(spark).filter(expr("price = 43")).count() == 0)
    // a string rendering probes its parsed value
    val (kS, _) = t.pruneStats(spark, expr("price = '42.25'"))
    assert(kS > 0 && kS * 4 <= all, s"string-on-double: $kS of $all")
    // -0.0 folds to 0.0 bits: no row stores 0.0, but the probe is sound
    assert(t.readIndexed(spark).filter($"price" === -0.0).count() == 0)

    // mixed-type IN on the long column prunes on EVERY item: the integer
    // literal probes directly, the integer-shaped string via its parsed
    // long (pre-r10 the mixed list degraded the probe to keep-all)
    val (kIn, _) = t.pruneStats(spark, expr("oid IN (420, '430')"))
    assert(kIn > 0 && kIn * 4 <= all, s"mixed IN: $kIn of $all")
    assert(t.readIndexed(spark).filter(expr("oid IN (420, '430')"))
      .select("k").as[Int].collect().toSet == Set(42, 43))
    // a NON-numeric string can equal no long (ANSI errors the query at
    // constant folding before any scan; non-ANSI casts to NULL) — the
    // metadata probe claims absence either way without masking anything
    val (kJ, _) = t.pruneStats(spark, $"oid" === "junk")
    assert(kJ == 0, s"non-numeric string on a long column kept $kJ files")
    // a fractional string on the long column KEEPS files: ANSI rejects the
    // query itself ('420.0' is malformed for BIGINT), but a non-ANSI
    // session coerces both sides to double and matches oid=420 — absence
    // may not be claimed, so the probe keeps the candidate files
    val (kFr, _) = t.pruneStats(spark, expr("oid = '420.0'"))
    assert(kFr > 0, "fractional rendering must not claim absence blindly")

    // an unsatisfiable conjunction prunes every indexed file
    val (kU, _) = t.pruneStats(spark, $"oid" === 420L && $"oid" === 430L)
    assert(kU == 0, s"unsatisfiable conjunction must prune all: kept $kU")

    // Spark defines NaN = NaN as TRUE: stored NaNs are probeable, never
    // wrongly pruned (r10 review fix)
    val rootN = tmp("bnan")
    val tN = new BucketedSnapshotTable(rootN, numBuckets = 8, keys = Seq("k"),
      bloomCols = Seq("price"))
    tN.scd1Merge(spark, ((1 to 79).map(i => (i, 1L, i + 0.5)) :+ ((80, 1L, Double.NaN)))
      .toDF("k", "seq", "price"), "seq")
    val (kNaN, allN) = tN.pruneStats(spark, $"price" === Double.NaN)
    assert(kNaN > 0, "the NaN row's file must survive the probe")
    assert(tN.readIndexed(spark).filter($"price" === Double.NaN).select("k")
      .as[Int].collect().toSeq == Seq(80), "Spark NaN-equality row must come back")
    assert(kNaN * 2 <= allN, s"and the probe still prunes the rest: $kNaN of $allN")

    // at |v| >= 2^53 several longs share one double rendering — absence
    // may not be claimed from the rounded probe (r10 review fix)
    val big = (1L << 53) + 1
    val rootB = tmp("bbig")
    val tB = new BucketedSnapshotTable(rootB, numBuckets = 4, keys = Seq("k"),
      bloomCols = Seq("oid"))
    tB.scd1Merge(spark, Seq((1, 1L, big)).toDF("k", "seq", "oid"), "seq")
    val (kBig, _) = tB.pruneStats(spark, $"oid" === big.toDouble)
    assert(kBig > 0, "2^53-boundary double probe must keep the candidate file")

    // provenance (r10 review fix): a numeric-SHAPED string literal on a
    // STRING bloom column still prunes via the string filter
    val rootS = tmp("bstrnum")
    val tS = new BucketedSnapshotTable(rootS, numBuckets = 16, keys = Seq("k"),
      bloomCols = Seq("ref"))
    tS.scd1Merge(spark, (1 to 160).map(i => (i, 1L, f"${i * 7}%06d"))
      .toDF("k", "seq", "ref"), "seq")
    val (kRef, allRef) = tS.pruneStats(spark, $"ref" === "000294") // 42*7
    assert(kRef > 0 && kRef * 4 <= allRef,
      s"numeric-shaped string must prune the string bloom: $kRef of $allRef")
    assert(tS.readIndexed(spark).filter($"ref" === "000294").select("k")
      .as[Int].collect().toSeq == Seq(42))

    // a double IN-list prunes the read through the "d" filters
    val look = t.readIndexed(spark).filter($"price".isin(42.25, 77.25))
    assert(scannedFiles(look) * 4 <= total)
    assert(look.count() == 2)
  }

  test("timestamp and date stats prune the readIndexed scan; rows exact in a non-UTC session") {
    // 400 hourly rows from 2024-01-01T00:00Z, clustered into 8 files of 50
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // stats hold zone-free epoch micros while the literal folds in the
      // session zone: Tokyo 09:00 on Jan 5 is 00:00Z, i.e. rows 96..119
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val t = new SnapshotTable(tmp("tsstats"))
      t.writeWithStats(spark, (0 until 400).toDF("i")
          .withColumn("ts", timestamp_seconds(lit(1704067200L) + $"i" * 3600)),
        statsCols = Seq("ts"), clusterBy = Seq("ts"), clusterPartitions = 8)
      val total = t.read(spark).inputFiles.length
      val day = t.readIndexed(spark)
        .filter($"ts" >= lit("2024-01-05 09:00:00").cast("timestamp") &&
          $"ts" < lit("2024-01-06 09:00:00").cast("timestamp"))
      assert(day.select("i").as[Int].collect().toSet == (96 until 120).toSet)
      val kept = scannedFiles(day)
      assert(kept > 0 && kept < total, s"timestamp stats must prune: $kept of $total")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)

    // one row per day from 2024-01-01: March is rows 60..90 (leap year)
    val d = new SnapshotTable(tmp("datestats"))
    d.writeWithStats(spark, (0 until 400).toDF("i")
        .withColumn("d", date_add(lit("2024-01-01").cast("date"), $"i")),
      statsCols = Seq("d"), clusterBy = Seq("d"), clusterPartitions = 8)
    val total = d.read(spark).inputFiles.length
    val march = d.readIndexed(spark).filter($"d".between("2024-03-01", "2024-03-31"))
    assert(march.select("i").as[Int].collect().toSet == (60 to 90).toSet)
    val kept = scannedFiles(march)
    assert(kept > 0 && kept < total, s"date stats must prune: $kept of $total")
  }

  test("decimal columns take the double bloom kind and prune") {
    val root = tmp("bdec")
    val t = new BucketedSnapshotTable(root, numBuckets = 8, keys = Seq("k"),
      bloomCols = Seq("amt"))
    t.scd1Merge(spark, (1 to 80).map(i => (i, 1L, s"$i.99"))
      .toDF("k", "seq", "amt")
      .withColumn("amt", $"amt".cast("decimal(10,2)")), "seq")
    val (kept, all) = t.pruneStats(spark, expr("amt = 42.99"))
    assert(kept > 0 && kept * 2 <= all, s"decimal point: $kept of $all")
    assert(t.readIndexed(spark).filter(expr("amt = 42.99")).select("k")
      .as[Int].collect().toSeq == Seq(42))
  }

  test("bloom blob consolidation: probe IO drops to O(dirs), pruning identical") {
    val root = tmp("bblob")
    val t = new BucketedSnapshotTable(root, numBuckets = 32, keys = Seq("k"),
      bloomCols = Seq("oid"))
    t.scd1Merge(spark, (1 to 320).map(i => (i, 1L, i * 10L)).toDF("k", "seq", "oid"), "seq")
    def probe(): ((Int, Int), Long) = {
      BloomIndex.probeReads.set(0)
      val r = t.pruneStats(spark, $"oid" === 420L)
      (r, BloomIndex.probeReads.get)
    }
    // r12: the merge consolidated its own batch post-commit, so probe IO
    // is O(dirs) from the very first commit — no maintenance pass needed
    val (before, readsBefore) = probe()
    assert(readsBefore <= 3,
      s"a fresh merge's dir must already probe as one blob: $readsBefore")
    t.analyze(spark) // re-consolidation is a no-op; verdicts identical
    val (after, readsAfter) = probe()
    assert(after == before, s"consolidation changed the pruning verdict: $before vs $after")
    assert(readsAfter <= 3,
      s"consolidated probe must read O(dirs) (manifest + blob): $readsAfter")
    // the pruned read stays exact, and re-ANALYZE INCREMENTAL is a no-op
    assert(t.readIndexed(spark).filter($"oid" === 420L).select("k")
      .as[Int].collect().toSeq == Seq(42))
    t.analyze(spark, onlyMissing = true)
    val (again, readsAgain) = probe()
    assert(again == before && readsAgain <= 3)
    // a new merge consolidates ITS dir too: probes stay O(dirs), reads exact
    t.scd1Merge(spark, Seq((5, 2L, 50L)).toDF("k", "seq", "oid"), "seq")
    BloomIndex.probeReads.set(0)
    t.pruneStats(spark, $"oid" === 420L)
    assert(BloomIndex.probeReads.get <= 5,
      s"post-merge probe must stay O(dirs): ${BloomIndex.probeReads.get}")
    assert(t.readIndexed(spark).filter($"oid" === 420L).select("k")
      .as[Int].collect().toSeq == Seq(42))
  }

  test("a two-column point probe reads the dir's Bloom manifest and blob once") {
    val t = new BucketedSnapshotTable(tmp("bprobe2"), numBuckets = 8, keys = Seq("k"),
      bloomCols = Seq("a", "b"))
    // one merge = one batch dir, consolidated into one blob post-commit
    t.scd1Merge(spark, (1 to 80).map(i => (i, 1L, i * 10L, s"s$i"))
      .toDF("k", "seq", "a", "b"), "seq")
    val pred = $"a" === 420L && $"b" === "s42"
    def reads[T](body: => T): (T, Long) = {
      BloomIndex.probeReads.set(0)
      val r = body
      (r, BloomIndex.probeReads.get)
    }
    // the read path (planning-time file keep) and DML discovery each ask
    // both columns; they must share one read of the manifest and the blob
    val ((kept, all), readReads) = reads(t.pruneStats(spark, pred))
    val (cand, dmlReads) = reads(t.statsCandidates(spark, t.manifest(spark), pred))
    assert(kept >= 1 && kept < all, s"two-column point probe must prune: $kept of $all")
    assert(cand.exists(c => c.nonEmpty && c.size < 8))
    assert(readReads == 2, s"read-path probe must read manifest + blob once: $readReads")
    assert(dmlReads == 2, s"DML discovery must read manifest + blob once: $dmlReads")
    assert(t.readIndexed(spark).filter(pred).select("k").as[Int].collect().toSeq == Seq(42))
  }

  test("bucket-key point lookup through the file index: hash replay prunes to the key's bucket") {
    // INT-typed key pins the literal-type handling: Murmur3(int 5) and
    // Murmur3(long 5) differ, so hashing the literal in the STORED type is
    // what keeps the replayed bucket honest (the result check would
    // silently go empty on a wrong hash)
    val root = tmp("bkey")
    val t = new BucketedSnapshotTable(root, numBuckets = 16, keys = Seq("k"))
    t.scd1Merge(spark, (1 to 160).map(i => (i, 1L, s"v$i")).toDF("k", "seq", "v"), "seq")
    val total = t.read(spark).inputFiles.length
    val (k1, all) = t.pruneStats(spark, $"k" === 5)
    assert(all == total && k1 > 0 && k1 * 8 <= all, s"key point: $k1 of $all")
    assert(t.readIndexed(spark).filter($"k" === 5).select("v")
      .as[String].collect().toSeq == Seq("v5"))
    // integer-shaped string coerces onto the key; IN-list unions buckets
    val (kIn, _) = t.pruneStats(spark, expr("k IN (5, '7')"))
    assert(kIn > 0 && kIn * 4 <= all, s"key IN: $kIn of $all")
    assert(t.readIndexed(spark).filter(expr("k IN (5, '7')")).select("v")
      .as[String].collect().toSet == Set("v5", "v7"))
    // a range on the key cannot enumerate buckets → no bucket pruning
    assert(t.pruneStats(spark, $"k" >= 100)._1 == all)
    // a WIDE IN-list (optimizer rewrites In → InSet past 10 items) keeps
    // its pruning: the executed scan reads only the 12 keys' buckets
    // (r10 review fix — pre-fix this was a silent keep-all cliff)
    val wideIn = t.readIndexed(spark).filter($"k".isin((1 to 12): _*))
    assert(wideIn.select("v").as[String].collect().toSet ==
      (1 to 12).map(i => s"v$i").toSet)
    assert(scannedFiles(t.readIndexed(spark).filter($"k".isin((1 to 12): _*))) < total,
      "InSet-rewritten IN must still prune the executed scan")
    // unsatisfiable key conjunction prunes everything
    assert(t.pruneStats(spark, $"k" === 5 && $"k" === 7)._1 == 0)

    // DML twin: predicate discovery prunes to the key's hash bucket with
    // NO sidecars at all — `UPDATE WHERE key = k` rewrites O(1) buckets
    // on a bare table
    val cand = t.statsCandidates(spark, t.manifest(spark), $"k" === 5)
    assert(cand.exists(_.size <= 2), s"key-point DML discovery: $cand")
    val (touched, nUpd) = t.update(spark, $"k" === 5, Seq("v" -> lit("upd")))
    assert(nUpd == 1 && touched.size == 1)
    assert(t.readIndexed(spark).filter($"k" === 5).select("v")
      .as[String].head() == "upd")

    // multi-key table: every key needs a point constraint; the cross
    // product of per-key sets covers the true tuples
    val root2 = tmp("bkey2")
    val t2 = new BucketedSnapshotTable(root2, numBuckets = 16, keys = Seq("a", "b"))
    t2.scd1Merge(spark, (1 to 160).map(i => (i.toLong, s"g${i % 4}", 1L, i))
      .toDF("a", "b", "seq", "x"), "seq")
    val (kM, allM) = t2.pruneStats(spark, $"a" === 9L && $"b" === "g1")
    assert(kM > 0 && kM * 8 <= allM, s"multi-key point: $kM of $allM")
    assert(t2.readIndexed(spark).filter($"a" === 9L && $"b" === "g1")
      .select("x").as[Int].collect().toSeq == Seq(9))
    // one key unconstrained → the layout cannot prune
    assert(t2.pruneStats(spark, $"a" === 9L)._1 == allM)
    // a bare numeric literal on the STRING key bails (its string
    // renderings cannot be enumerated) — keep-all, never a wrong prune
    assert(t2.pruneStats(spark, $"a" === 9L && $"b" === 5)._1 == allM)
  }

  test("registerIndexedView: plain spark.sql over the view prunes files at planning time") {
    val root = tmp("bview")
    val t = new BucketedSnapshotTable(root, numBuckets = 16, keys = Seq("k"),
      bloomCols = Seq("oid"))
    t.scd1Merge(spark, (1 to 160).map(i => (i, 1L, i * 10L, s"v$i"))
      .toDF("k", "seq", "oid", "v"), "seq")
    graft.sql.TableCatalog.registerIndexedView(spark, "pruned_view", t)
    val total = t.read(spark).inputFiles.length
    // bucket-key equality through ordinary SQL over the registered view
    val byKey = spark.sql("SELECT v FROM pruned_view WHERE k = 7")
    assert(byKey.as[String].collect().toSeq == Seq("v7"))
    assert(scannedFiles(spark.sql("SELECT v FROM pruned_view WHERE k = 7")) * 4 <= total)
    // bloom point on the non-key column
    assert(scannedFiles(spark.sql("SELECT k FROM pruned_view WHERE oid = 420")) * 4 <= total)
    assert(spark.sql("SELECT k FROM pruned_view WHERE oid = 420")
      .as[Int].collect().toSeq == Seq(42))
    spark.catalog.dropTempView("pruned_view")
  }

  test("type-evolved bucketed table: per-type-group pruning relations, " +
      "file skipping intact (no InMemoryFileIndex fallback)") {
    val root = tmp("tevol")
    val t = new BucketedSnapshotTable(root, numBuckets = 8, keys = Seq("k"),
      bloomCols = Seq("oid"))
    // old batches: seq is INT; later batches: seq widened to LONG — the
    // exact shape the 100x soak's fact had (r13: the whole readIndexed
    // used to fall back to an unpruned InMemoryFileIndex over every file)
    t.scd1Merge(spark, (1 to 80).map(i => (i, 1, i * 100L)).toDF("k", "seq", "oid"),
      "seq")
    t.analyze(spark)
    t.scd1Merge(spark, Seq((81, 2L, 8100L)).toDF("k", "seq", "oid"), "seq")
    val df = t.readIndexed(spark).filter($"oid" === 300L)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PruningFileIndex") && !plan.contains("InMemoryFileIndex"),
      s"type-evolved read must keep the pruning index per type group:\n" +
        plan.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    // skipping is real: the probed oid keeps a strict subset of files
    assert(scannedFiles(df) < scannedFiles(t.readIndexed(spark)),
      "bloom point probe must skip files on the type-evolved read")
    // the union schema carries the OLDEST dir's type per column (int seq)
    assert(t.readIndexed(spark).schema("seq").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(t.readIndexed(spark).count() == 81)
  }

  test("plain fallback: hive-partitioned snapshot reads through the ordinary path") {
    val root = tmp("ppreadpart")
    val t = new SnapshotTable(root)
    t.write(spark, (1 to 40).map(i => (i, i % 4, s"v$i")).toDF("id", "p", "v"),
      partitionByCols = Seq("p"))
    val got = sql(s"SNAPSHOT '$root' WHERE p = 2").select("id").as[Int].collect().toSet
    assert(got == (1 to 40).filter(_ % 4 == 2).toSet)
  }
  test("commits after ANALYZE keep the index fresh: a colsless writer sidecars its batch") {
    val work = tmp("autofresh")
    val rows = (1L to 4000L).map(i => (i, i % 97, s"d$i"))
    val t0 = new BucketedSnapshotTable(s"$work/t", 8, Seq("k"),
      statsCols = Seq("k"), bloomCols = Seq("c"))
    t0.scd1Merge(spark, rows.toDF("k", "c", "pay").withColumn("op_seq", lit(1L)),
      "op_seq")
    t0.analyze(spark, onlyMissing = true)
    // a MAINTENANCE writer constructed with keys only (the layoutOf shape
    // every MV-internal reader/writer uses) merges a new batch: the
    // header-recorded index columns must reach its staged sidecars — no
    // hand-run ANALYZE between commits
    val t1 = new BucketedSnapshotTable(s"$work/t", 8, Seq("k"))
    t1.scd1Merge(spark, Seq((5000L, 999999L, "new")).toDF("k", "c", "pay")
      .withColumn("op_seq", lit(2L)), "op_seq")
    val v = t1.currentVersion(spark).get
    val batch = new java.io.File(s"$work/t/_batch_v$v")
    assert(new java.io.File(batch, "_stats").exists,
      "post-ANALYZE commit must carry the recorded stats sidecar")
    assert(new java.io.File(batch, "_bloom").exists,
      "post-ANALYZE commit must carry the recorded bloom sidecar")
    // and the probe keeps pruning across the fresh batch without re-ANALYZE
    val probed = new BucketedSnapshotTable(s"$work/t", 8, Seq("k"),
      statsCols = Seq("k"), bloomCols = Seq("c"))
    val (kept, all) = probed.pruneStats(spark, col("c") === 999999L)
    assert(kept < all, s"bloom probe must prune the fresh batch too: $kept of $all")
    // a writer predating any ANALYZE stays sidecar-free (nothing recorded)
    val work2 = tmp("autofresh2")
    val u = new BucketedSnapshotTable(s"$work2/t", 4, Seq("k"))
    u.scd1Merge(spark, rows.take(10).toDF("k", "c", "pay")
      .withColumn("op_seq", lit(1L)), "op_seq")
    val uv = u.currentVersion(spark).get
    assert(!new java.io.File(s"$work2/t/_batch_v$uv/_stats").exists &&
      !new java.io.File(s"$work2/t/_batch_v$uv/_bloom").exists,
      "no recorded index columns -> no sidecars")
  }

  test("planning metadata (r14): manifest-recorded schemas kill footer probes; " +
      "listing memoized per version") {
    val root = tmp("planmeta")
    val t = new BucketedSnapshotTable(root, numBuckets = 8, keys = Seq("k"))
    // several batch dirs, incl. an add-column evolution (same-type union)
    t.scd1Merge(spark, (1 to 40).map(i => (i, 1L, i * 10L)).toDF("k", "seq", "x"),
      "seq")
    t.scd1Merge(spark, Seq((41, 2L, 410L)).toDF("k", "seq", "x"), "seq")
    t.scd1Merge(spark, Seq((42, 3L, 420L, "tagged")).toDF("k", "seq", "x", "tag"),
      "seq")
    // every live dir has a schema line recorded at its commit
    val header = t.manifestHeader(spark)
    val schemaLines = header.keys.filter(_.startsWith("schema:")).toSeq
    val liveDirs = t.manifest(spark).values.toSet
    assert(liveDirs.forall(d => header.contains(s"schema:$d")),
      s"every live dir needs a schema line: $schemaLines vs $liveDirs")
    // planning twice: the SECOND call performs zero footer probes AND zero
    // directory listings (memoized per (root, version, mtime))
    t.readIndexed(spark).filter($"k" === 41).collect() // warm the memo
    val probes0 = BucketedSnapshotTable.schemaProbes.get()
    val lists0 = BucketedSnapshotTable.listingCalls.get()
    val got = t.readIndexed(spark).filter($"k" === 41).select("x")
      .as[Long].collect().toSeq
    assert(got == Seq(410L))
    assert(BucketedSnapshotTable.schemaProbes.get() == probes0,
      "recorded schemas must make planning footer-free")
    assert(BucketedSnapshotTable.listingCalls.get() == lists0,
      "re-planning the same version must perform zero FS list calls")
    // the union schema equals what the footer path would derive (tag
    // null-fills on old dirs; first-seen types win)
    val sc = t.readIndexed(spark).schema
    assert(sc.fieldNames.contains("tag") && sc("x").dataType ==
      org.apache.spark.sql.types.LongType)
    // a TYPE-evolved commit (int seq vs long) still plans footer-free off
    // the recorded schemas, through the per-type-group branch
    val root2 = tmp("planmeta2")
    val t2 = new BucketedSnapshotTable(root2, 4, Seq("k"))
    t2.scd1Merge(spark, (1 to 10).map(i => (i, 1, i * 10L)).toDF("k", "seq", "x"),
      "seq")
    t2.scd1Merge(spark, Seq((11, 2L, 110L)).toDF("k", "seq", "x"), "seq")
    t2.readIndexed(spark).collect() // warm
    val probes1 = BucketedSnapshotTable.schemaProbes.get()
    assert(t2.readIndexed(spark).count() == 11)
    assert(BucketedSnapshotTable.schemaProbes.get() == probes1,
      "the type-group branch must use recorded schemas, not footer reads")
    // schema lines for dirs a commit no longer references are DROPPED:
    // rewrite every key so old dirs fall out of the manifest, then vacuum
    (1 to 3).foreach { r =>
      t2.scd1Merge(spark,
        (1 to 11).map(i => (i, 10L + r, i * 100L)).toDF("k", "seq", "x"), "seq")
    }
    t2.vacuum(spark, keepVersions = 1)
    val live2 = t2.manifest(spark).values.toSet
    val stale = t2.manifestHeader(spark).keys
      .filter(_.startsWith("schema:")).map(_.stripPrefix("schema:"))
      .filterNot(live2.contains)
    assert(stale.isEmpty, s"schema lines for dead dirs must drop: $stale")
  }

}
