package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ScannedFiles.scannedFiles
import graft.cdc.ScdMerge
import graft.tables.BucketedSnapshotTable

/** BucketedSnapshotTable: merge-by-bucket must be observationally equal to
  * the plain whole-table ScdMerge, while rewriting ONLY affected buckets
  * (untouched buckets carried over by reference in the manifest). */
class BucketedTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame, cols: String*): Set[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSet

  private def mkBatch(xs: Seq[(Int, Int, String)]): DataFrame =
    xs.toDF("k", "seq", "v")

  test("racing merges: all land via optimistic retry, none lost, history linear") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = new BucketedSnapshotTable(tmp("brace"), numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch((0 until 40).map(k => (k, 1, s"base$k"))), "seq")
    // 4 concurrent merges over overlapping buckets (disjoint keys)
    val fs = (0 until 4).map { w =>
      Future(t.scd1Merge(spark,
        mkBatch((0 until 10).map(i => (w * 10 + i, 2, s"w$w-$i"))), "seq"))
    }
    Await.result(Future.sequence(fs), 180.seconds)
    assert(t.currentVersion(spark).contains(5))
    val got = t.read(spark).select("k", "v").as[(Int, String)].collect().toMap
    assert(got.size == 40)
    (0 until 40).foreach { k =>
      assert(got(k) == s"w${k / 10}-${k % 10}", s"key $k lost an update: ${got(k)}")
    }
  }

  test("disjoint-bucket racers rebase: every writer stages exactly once, all land") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = new BucketedSnapshotTable(tmp("breb"), numBuckets = 64, keys = Seq("k"))
    val base = (1 to 640).map(k => (k, 1, s"base$k"))
    t.scd1Merge(spark, mkBatch(base), "seq") // v1
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.tables.TestHooks.onStep(t, s => if (s == "staged") stages.incrementAndGet())
    // 4 writers, each updating only keys that hash to ONE distinct bucket
    // — affected sets are disjoint, so a lost race must rebase the staged
    // batch instead of recomputing (one stage per writer, no retries)
    val byBucket = mkBatch(base)
      .withColumn("__b", t.bucketExpr)
      .select("k", "__b").as[(Int, Int)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val buckets = byBucket.keys.toSeq.sorted.take(4)
    val fs = buckets.map { b =>
      Future(t.scd1Merge(spark,
        mkBatch(byBucket(b).map(k => (k, 2, s"b$b-$k"))), "seq"))
    }
    val touched = Await.result(Future.sequence(fs), 180.seconds)
    graft.tables.TestHooks.onStep(t, _ => ())
    assert(touched.map(_.size).sum == 4 && touched.flatten.toSet.size == 4)
    assert(t.currentVersion(spark).contains(5))
    assert(stages.get() == 4, s"expected 4 stage jobs (rebase, no re-stage), got ${stages.get()}")
    val got = t.read(spark).select("k", "v").as[(Int, String)].collect().toMap
    buckets.foreach(b => byBucket(b).foreach(k =>
      assert(got(k) == s"b$b-$k", s"key $k lost its update: ${got(k)}")))
    assert(got.size == 640)
  }

  test("compact during a concurrent merge: maintenance never blocks ingestion, merge wins its bucket") {
    val t = new BucketedSnapshotTable(tmp("bcmpc"), numBuckets = 8, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch((1 to 80).map(i => (i, 1, s"v$i"))), "seq") // v1
    // land a merge BETWEEN compact's staging read and its commit lock —
    // the schedule that used to abort with ConcurrentModificationException
    var fired = false
    graft.tables.TestHooks.onStep(t, {
      case "compact_staged" if !fired =>
        fired = true
        t.scd1Merge(spark, mkBatch(Seq((3, 2, "merged-during-compact"))), "seq") // v2
      case _ => ()
    })
    val v = t.compact(spark)
    graft.tables.TestHooks.onStep(t, _ => ())
    assert(fired && v == 3 && t.currentVersion(spark).contains(3))
    // the interleaved merge's write survives (its bucket kept the newer
    // entry); every other key compacted, content unchanged
    val got = t.read(spark).select("k", "v").as[(Int, String)].collect().toMap
    assert(got(3) == "merged-during-compact")
    assert(got.size == 80 && (1 to 80).filter(_ != 3).forall(k => got(k) == s"v$k"))
    // unmoved buckets re-pointed at the compacted dir; the merged bucket's
    // stale compacted output was dropped from it
    val m = t.manifest(spark)
    assert(m.values.exists(_ == "_batch_v3") && m.values.exists(_ == "_batch_v2"))
  }

  test("txn ledger: replayed micro-batch is a no-op; ledger survives compact and maintenance") {
    val t = new BucketedSnapshotTable(tmp("btxn"), numBuckets = 8, keys = Seq("k"))
    assert(t.scd1Merge(spark, mkBatch(Seq((1, 1, "a"), (2, 1, "b"))), "seq",
      txn = Some(("s1", 0L))).nonEmpty) // v1
    // same stream, same batch id → clean no-op (no version, no content change)
    assert(t.scd1Merge(spark, mkBatch(Seq((1, 9, "REPLAY"))), "seq",
      txn = Some(("s1", 0L))).isEmpty)
    assert(t.currentVersion(spark).contains(1))
    assert(t.read(spark).filter($"k" === 1).select("v").as[String].head() == "a")
    // the next batch applies; a second stream has its own ledger entry
    assert(t.scd1Merge(spark, mkBatch(Seq((1, 2, "a2"))), "seq",
      txn = Some(("s1", 1L))).nonEmpty) // v2
    assert(t.scd1Merge(spark, mkBatch(Seq((3, 1, "c"))), "seq",
      txn = Some(("s2", 0L))).nonEmpty) // v3
    // maintenance carries the ledger forward: replay after compact still no-op
    t.compact(spark) // v4
    assert(t.scd1Merge(spark, mkBatch(Seq((1, 9, "REPLAY"))), "seq",
      txn = Some(("s1", 1L))).isEmpty)
    assert(t.scd1Merge(spark, mkBatch(Seq((3, 9, "REPLAY"))), "seq",
      txn = Some(("s2", 0L))).isEmpty)
    assert(t.currentVersion(spark).contains(4))
    assert(rows(t.read(spark), "k", "v") == Set("1|a2", "2|b", "3|c"))
  }

  test("scd1Merge equals whole-table scd1Upsert across batches") {
    val t = new BucketedSnapshotTable(tmp("bscd1"), numBuckets = 8, keys = Seq("k"))
    val b1 = mkBatch(Seq((1, 10, "a"), (2, 10, "b"), (3, 10, "c"), (17, 10, "q")))
    val b2 = mkBatch(Seq((1, 20, "a2"), (2, 5, "stale"), (42, 10, "new")))

    t.scd1Merge(spark, b1, "seq")
    t.scd1Merge(spark, b2, "seq")

    val expected = ScdMerge.scd1Upsert(
      Some(ScdMerge.scd1Upsert(None, b1, Seq("k"), "seq")), b2, Seq("k"), "seq")
    assert(rows(t.read(spark), "k", "seq", "v") == rows(expected, "k", "seq", "v"))
    // stale update (key 2, seq 5) must not have replaced seq 10
    assert(t.read(spark).filter($"k" === 2).select("seq").as[Int].head() == 10)
  }

  test("scd2Merge equals whole-table scd2Merge (version chain intact)") {
    val t = new BucketedSnapshotTable(tmp("bscd2"), numBuckets = 8, keys = Seq("k"))
    val b1 = mkBatch(Seq((1, 10, "a"), (2, 10, "b")))
    val b2 = mkBatch(Seq((1, 20, "a2"), (1, 15, "late"), (3, 10, "c")))

    t.scd2Merge(spark, b1, "seq")
    t.scd2Merge(spark, b2, "seq")

    val expected = ScdMerge.scd2Merge(
      Some(ScdMerge.scd2Merge(None, b1, Seq("k"), "seq")), b2, Seq("k"), "seq")
    val cols = Seq("k", "seq", "v", ScdMerge.StartCol, ScdMerge.EndCol)
    assert(rows(t.read(spark), cols: _*) == rows(expected, cols: _*))
    // key 1 has 3 versions: 10→15, 15→20, 20→null (late row spliced)
    val k1 = t.read(spark).filter($"k" === 1)
    assert(k1.count() == 3)
    assert(k1.filter(col(ScdMerge.EndCol).isNull).select("seq").as[Int].head() == 20)
  }

  test("merge rewrites only affected buckets; untouched carried by reference") {
    val t = new BucketedSnapshotTable(tmp("bref"), numBuckets = 16, keys = Seq("k"))
    val b1 = mkBatch((1 to 64).map(i => (i, 10, s"v$i")))
    t.scd1Merge(spark, b1, "seq")
    val m1 = t.manifest(spark)
    assert(m1.values.toSet == Set("_batch_v1"))

    // second batch touches a handful of keys → few buckets
    val touched = t.scd1Merge(spark, mkBatch(Seq((1, 20, "x"), (2, 20, "y"))), "seq")
    assert(touched.nonEmpty && touched.size <= 2)
    val m2 = t.manifest(spark)
    // untouched buckets still point at the v1 batch dir — zero rewrite
    val untouchedBuckets = m1.keySet -- touched
    assert(untouchedBuckets.forall(b => m2(b) == "_batch_v1"))
    assert(touched.forall(b => m2(b) == "_batch_v2"))
    assert(t.read(spark).count() == 64)
  }

  test("scd2Merge rewrites only affected buckets; stats compose per batch") {
    val t = new BucketedSnapshotTable(tmp("bscd2ref"), numBuckets = 16,
      keys = Seq("k"), statsCols = Seq("seq"))
    t.scd2Merge(spark, mkBatch((1 to 64).map(i => (i, 1, s"v$i"))), "seq")
    val m1 = t.manifest(spark)
    assert(m1.values.toSet == Set("_batch_v1"))

    // an incremental SCD2 batch touching 2 keys rewrites ≤ 2 buckets;
    // everything else is carried by reference — merge IO is O(affected)
    val touched = t.scd2Merge(spark, mkBatch(Seq((1, 2, "x"), (2, 2, "y"))), "seq")
    assert(touched.nonEmpty && touched.size <= 2)
    val m2 = t.manifest(spark)
    assert((m1.keySet -- touched).forall(b => m2(b) == "_batch_v1"))
    assert(touched.forall(b => m2(b) == "_batch_v2"))

    // history intact: 64 originals + 2 new versions
    assert(t.read(spark).count() == 66)
    assert(ScdMerge.current(t.read(spark)).count() == 64)

    // per-batch stats prune: only batch-2 files can hold seq=2 versions
    val pr = t.readIndexed(spark).filter($"seq" === 2)
    assert(scannedFiles(pr) <= touched.size)
    assert(pr.select("k").as[Int].collect().toSet == Set(1, 2))
  }

  test("bucketed deletes: SCD1 hides keys (tombstone state persists); SCD2 stays bucket-pruned") {
    def mkD(xs: Seq[(Int, Int, String, Boolean)]): DataFrame =
      xs.toDF("k", "seq", "v", "del")
    val dc = Some($"del")

    // SCD1: tombstone hides its key, stale tombstone loses; the STATE
    // keeps the tombstone row (cross-batch out-of-order protection)
    val t1 = new BucketedSnapshotTable(tmp("bdel1"), numBuckets = 8, keys = Seq("k"))
    t1.scd1Merge(spark, mkD(Seq((1, 10, "a", false), (2, 10, "b", false))), "seq",
      Nil, dc)
    t1.scd1Merge(spark, mkD(Seq((1, 20, "x", true), (2, 5, "x", true))), "seq",
      Nil, dc)
    assert(rows(ScdMerge.scd1Current(t1.read(spark)), "k", "seq", "v") == Set("2|10|b"))
    assert(t1.read(spark).filter($"k" === 1).count() == 1,
      "deleted key's tombstone row must persist in the stored state")
    // an out-of-order replay of the pre-delete upsert cannot resurrect key 1
    t1.scd1Merge(spark, mkD(Seq((1, 10, "a", false))), "seq", Nil, dc)
    assert(rows(ScdMerge.scd1Current(t1.read(spark)), "k", "seq", "v") == Set("2|10|b"))

    // SCD2: table built WITHOUT deletes, then a delete-enabled merge —
    // NO migration commit: only key 1's bucket is rewritten, the evolving
    // bucket read null-fills __DELETED for untouched buckets
    val t2 = new BucketedSnapshotTable(tmp("bdel2"), numBuckets = 8, keys = Seq("k"))
    t2.scd2Merge(spark, mkBatch(Seq((1, 10, "a"), (2, 10, "b"), (17, 10, "q")))
      .withColumn("del", lit(false)), "seq")
    val touchedDel = t2.scd2Merge(spark, mkD(Seq((1, 20, "x", true))), "seq", Nil, dc)
    assert(touchedDel.size == 1,
      s"delete-enabled merge must stay bucket-pruned (no migration): $touchedDel")
    // key 1's chain: v@10 closed at 20 by the tombstone, no current row
    val cur = ScdMerge.current(t2.read(spark))
    assert(cur.select("k").as[Int].collect().toSet == Set(2, 17))
    val k1 = t2.read(spark).filter($"k" === 1 && !$"__DELETED")
      .select($"seq", $"__END_AT".cast("int")).as[(Int, Option[Int])].collect().toSeq
    assert(k1 == Seq((10, Some(20))), k1.toString)
    // subsequent merges stay pruned too
    val touched2 = t2.scd2Merge(spark, mkD(Seq((2, 30, "b2", false))), "seq", Nil, dc)
    assert(touched2.size == 1, s"merge must stay pruned: $touched2")
    assert(ScdMerge.current(t2.read(spark)).filter($"k" === 2)
      .select("v").as[String].head() == "b2")
  }

  test("readKeys: point lookup scans only the probed keys' bucket dirs") {
    val t = new BucketedSnapshotTable(tmp("bkey"), numBuckets = 32, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch((1 to 320).map(i => (i, 1, s"v$i"))), "seq")
    val full = t.read(spark)
    val hit = t.readKeys(spark, Seq(7, 7, 13).toDF("k"))
    assert(hit.select("k", "v").as[(Int, String)].collect().toSet ==
      Set((7, "v7"), (13, "v13")))
    // IO bound: at most 2 buckets' files are listed for 2 distinct keys
    assert(hit.inputFiles.length <= 2 * full.inputFiles.length / 32 + 2,
      s"${hit.inputFiles.length} files scanned of ${full.inputFiles.length}")
    assert(hit.inputFiles.length < full.inputFiles.length)
    // missing keys → empty, schema preserved
    val miss = t.readKeys(spark, Seq(100000).toDF("k"))
    assert(miss.count() == 0 && miss.columns.toSeq == full.columns.toSeq)
  }

  test("changes: manifest-pruned CDF classifies insert/update/delete and scans only changed buckets") {
    val dir = tmp("bcdf")
    val t = new BucketedSnapshotTable(dir, numBuckets = 32, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch((1 to 320).map(i => (i, 1, s"v$i"))), "seq") // v1
    // v2: update k=7, insert k=1000, tombstone-delete k=13
    t.scd1Merge(spark,
      mkBatch(Seq((7, 2, "v7b"), (1000, 2, "new"), (13, 2, "gone")))
        .withColumn("del", $"k" === 13),
      "seq", Nil, applyAsDeletes = Some(col("del") === true))
    val cdf = t.changes(spark, 1, 2, withChangedColumns = true)
    val got = cdf.select("k", "_change_type", "_changed_columns")
      .as[(Int, String, String)].collect().toSet
    // the delete-flow merge adds __DELETED to rewritten buckets, so the
    // update row attributes v (the real change) — __DELETED is filtered
    // out of the visible diff entirely, and `del` appears only in v2
    assert(got.map(x => (x._1, x._2)) ==
      Set((7, "update"), (1000, "insert"), (13, "delete")))
    assert(got.find(_._1 == 7).get._3.split(",").toSet.contains("v"))
    // IO bound: 3 changed keys → ≤3 buckets read per side, not 32
    val full = t.read(spark)
    assert(cdf.inputFiles.length <= 6 * full.inputFiles.length / 32 + 6,
      s"${cdf.inputFiles.length} files for 3 changed keys of ${full.inputFiles.length}")
    // SQL surface round-trip (keys from the manifest header)
    val viaSql = org.apache.spark.sql.GraftColumnBridge.graftSql(spark,
      s"CHANGES '$dir' FROM 1 TO 2 WITH COLUMNS")
      .select("k", "_change_type").as[(Int, String)].collect().toSet
    assert(viaSql == got.map(x => (x._1, x._2)))
    // identical manifests ⇒ empty feed, schema intact (OPTIMIZE commits v3
    // with every bucket re-pointed, so diff 2→3 must also be empty rows)
    t.compact(spark)
    assert(t.changes(spark, 2, 3).count() == 0)
    // mismatched ON KEYS refused
    intercept[Exception] {
      org.apache.spark.sql.GraftColumnBridge.graftSql(spark,
        s"CHANGES '$dir' FROM 1 TO 2 ON KEYS (wrong)").collect()
    }
  }

  test("CHECK constraints: validated on add, enforced inline in merges and DML, tombstones exempt") {
    val dir = tmp("bcons")
    val t = new BucketedSnapshotTable(dir, numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch(Seq((1, 1, "a"), (2, 1, "b"))), "seq")
    def sqlRun(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    // DDL routes to the bucketed root by the _manifest_v* probe
    sqlRun(s"ALTER TABLE '$dir' ADD CONSTRAINT pos CHECK (seq > 0)").collect()
    assert(t.constraints(spark) == Map("pos" -> "seq > 0"))
    // violating merge refused, nothing committed
    val v0 = t.currentVersion(spark).get
    intercept[Exception](t.scd1Merge(spark, mkBatch(Seq((3, -5, "bad"))), "seq"))
    assert(t.currentVersion(spark).contains(v0))
    assert(t.read(spark).count() == 2)
    // clean merge lands; violating UPDATE refused
    t.scd1Merge(spark, mkBatch(Seq((3, 2, "c"))), "seq")
    intercept[Exception](t.update(spark, col("k") === 3, Seq("seq" -> lit(-1))))
    assert(t.read(spark).filter($"k" === 3).select("seq").as[Int].head() == 2)
    // a DELETE-flow tombstone row is exempt (it removes, not asserts,
    // data): the tombstone itself carries v='gone', which the constraint
    // forbids for visible rows — the merge must still land
    sqlRun(s"ALTER TABLE '$dir' ADD CONSTRAINT nodel CHECK (v <> 'gone')").collect()
    t.scd1Merge(spark, mkBatch(Seq((3, 3, "gone"))).withColumn("d", lit(true)),
      "seq", Nil, applyAsDeletes = Some(col("d")))
    assert(graft.cdc.ScdMerge.scd1Current(t.read(spark)).count() == 2)
    sqlRun(s"ALTER TABLE '$dir' DROP CONSTRAINT nodel").collect()
    // adding a constraint the existing data violates is refused
    val e = intercept[IllegalArgumentException](
      t.addConstraint(spark, "impossible", "seq > 100"))
    assert(e.getMessage.contains("existing row"), e.getMessage)
    sqlRun(s"ALTER TABLE '$dir' DROP CONSTRAINT pos").collect()
    t.scd1Merge(spark, mkBatch(Seq((9, -9, "ok-now"))), "seq")
    assert(t.constraints(spark).isEmpty)
  }

  test("consumeChanges: bootstrap inserts, then exactly the per-window diffs; crash re-reads the window") {
    val dir = tmp("bcons2")
    val t = new BucketedSnapshotTable(dir, numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch(Seq((1, 1, "a"), (2, 1, "b"))), "seq") // v1
    val ck = s"$dir/_consumer_x"
    var seen = Vector.empty[Set[(Int, String, String)]]
    def drain() = t.consumeChanges(spark, ck) { feed =>
      seen :+= feed.select("k", "v", "_change_type")
        .as[(Int, String, String)].collect().toSet
    }
    assert(drain() == 1)
    assert(seen.last == Set((1, "a", "insert"), (2, "b", "insert"))) // bootstrap
    assert(drain() == 1 && seen.size == 1) // nothing new → fn not called
    t.scd1Merge(spark, mkBatch(Seq((1, 2, "a2"), (3, 2, "c"))), "seq") // v2
    t.scd1Merge(spark,
      mkBatch(Seq((2, 3, "x"))).withColumn("d", lit(true)), "seq", Nil,
      applyAsDeletes = Some(col("d"))) // v3: delete k=2
    assert(drain() == 3)
    // one diff covering v1 → v3: update, insert, delete (collapsed window)
    assert(seen.last == Set((1, "a2", "update"), (3, "c", "insert"), (2, "b", "delete")))
    // crashed consumer (fn throws) leaves the checkpoint untouched
    t.scd1Merge(spark, mkBatch(Seq((4, 4, "d4"))), "seq") // v4
    intercept[RuntimeException](t.consumeChanges(spark, ck) { _ =>
      throw new RuntimeException("consumer crash")
    })
    assert(drain() == 4)
    assert(seen.last == Set((4, "d4", "insert"))) // window re-read after crash
  }

  test("CDF reconciliation: applying changes(a,b) to visible(a) reconstructs visible(b), any window") {
    val t = new BucketedSnapshotTable(tmp("brecon"), numBuckets = 8, keys = Seq("k"))
    val rnd = new scala.util.Random(42)
    // 5 versions of randomized upserts + deletes over a 60-key space
    for (v <- 1 to 5) {
      val ks = rnd.shuffle((1 to 60).toList).take(12 + rnd.nextInt(10))
      val batch = ks.map(k => (k, v, s"v$v-$k", rnd.nextInt(5) == 0))
        .toDF("k", "seq", "v", "del")
      t.scd1Merge(spark, batch, "seq", Nil, applyAsDeletes = Some(col("del")))
    }
    def visible(ver: Int): Map[Int, String] =
      ScdMerge.scd1Current(t.readVersion(spark, ver))
        .select("k", "v").as[(Int, String)].collect().toMap
    for (a <- 1 until 5; b <- (a + 1) to 5) {
      val diff = t.changes(spark, a, b)
        .select("k", "v", "_change_type").as[(Int, String, String)].collect()
      val rebuilt = diff.foldLeft(visible(a)) {
        case (m, (k, _, "delete")) => m - k
        case (m, (k, v, _))        => m.updated(k, v)
      }
      assert(rebuilt == visible(b), s"window $a→$b does not reconcile")
      // and the diff is MINIMAL: no row for an unchanged key
      diff.foreach { case (k, v, ct) => ct match {
        case "insert" => assert(!visible(a).contains(k) && visible(b)(k) == v)
        case "delete" => assert(visible(a).contains(k) && !visible(b).contains(k))
        case "update" => assert(visible(a).contains(k) && visible(b)(k) == v)
      }}
    }
  }

  test("time travel + history: old manifests read as committed until vacuum reaps their batches") {
    val dir = tmp("btt")
    val t = new BucketedSnapshotTable(dir, numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch(Seq((1, 1, "a"), (2, 1, "b"), (9, 1, "c"))), "seq")
    t.scd1Merge(spark, mkBatch(Seq((1, 2, "a2"), (4, 2, "d"))), "seq")
    // v1 reads exactly as committed; live is v2
    assert(rows(t.readVersion(spark, 1), "k", "v") == Set("1|a", "2|b", "9|c"))
    assert(rows(t.read(spark), "k", "v") == Set("1|a2", "2|b", "9|c", "4|d"))
    val h = t.history(spark).select("version", "n_rows", "is_live")
      .as[(Int, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(h == Seq((1, 3L, false), (2, 4L, true)), h.toString)
    intercept[IllegalArgumentException](t.readVersion(spark, 7))
    // SQL forms route by the _manifest_v* probe
    def sqlRun(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    assert(sqlRun(s"SNAPSHOT '$dir' VERSION AS OF 1").count() == 3)
    assert(sqlRun(s"DESCRIBE HISTORY '$dir'").count() == 2)
    val v3 = sqlRun(s"OPTIMIZE '$dir'").as[Int].head()
    assert(v3 == 3 && rows(t.read(spark), "k", "v") == Set("1|a2", "2|b", "9|c", "4|d"))
    // KEEP 2 retains the last two versions' batches: v2 stays readable
    // (and v1 incidentally — its dirs are shared with v2's manifest)
    sqlRun(s"VACUUM '$dir' KEEP 2").collect()
    assert(rows(t.readVersion(spark, 2), "k", "v") ==
      Set("1|a2", "2|b", "9|c", "4|d"))
    // KEEP 1: only the live (compacted) version's batches survive
    sqlRun(s"VACUUM '$dir' KEEP 1").collect()
    intercept[IllegalArgumentException](t.readVersion(spark, 1))
    intercept[IllegalArgumentException](t.readVersion(spark, 2))
    assert(rows(t.read(spark), "k", "v") == Set("1|a2", "2|b", "9|c", "4|d"))
  }

  test("compact unifies layout; vacuum drops unreachable batch dirs") {
    val dir = tmp("bvac")
    val t = new BucketedSnapshotTable(dir, numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch(Seq((1, 1, "a"), (2, 1, "b"), (3, 1, "c"), (4, 1, "d"))), "seq")
    t.scd1Merge(spark, mkBatch(Seq((1, 2, "a2"))), "seq")
    t.compact(spark)
    t.vacuum(spark)
    val left = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("_batch_v")).toSet
    assert(left == Set("_batch_v3")) // only the compacted batch survives
    assert(t.read(spark).count() == 4)
    assert(t.read(spark).filter($"k" === 1).select("v").as[String].head() == "a2")
  }

  test("GoldPipeline with numBuckets: declarative SCD2 into a bucketed target") {
    val work = tmp("bgold")
    Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "v1"),
        (2, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "w1"))
      .toDF("id", "updated_at", "v").write.parquet(s"$work/silver/dim/b1")
    val gp = new graft.gold.GoldPipeline(s"$work/gold", s"$work/ck")
    gp.declare(graft.gold.GoldTable("dim", s"$work/silver/dim/*",
      Seq("id"), "updated_at", 2, numBuckets = 8))
    gp.runOnce(spark)
    assert(gp.readTable(spark, "dim").count() == 2)
    // incremental: id=1 gets a new version; only id=1's bucket rewrites
    Seq((1, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), "v2"))
      .toDF("id", "updated_at", "v").write.parquet(s"$work/silver/dim/b2")
    gp.runOnce(spark)
    val t = gp.readTable(spark, "dim")
    assert(t.count() == 3)
    assert(graft.cdc.ScdMerge.current(t).filter($"id" === 1)
      .select("v").as[String].head() == "v2")
    assert(graft.cdc.ScdMerge.history(t).select("v").as[String].head() == "v1")
    // the untouched key's bucket still points at the first batch dir
    val m = gp.bucketedSnapshot(gp.tables.head).manifest(spark)
    val b2 = new graft.tables.BucketedSnapshotTable(s"$work/gold/dim", 8, Seq("id"))
      .bucketExpr
    val touched = Seq((1, 0)).toDF("id", "x").select(b2).head().getInt(0)
    val untouched = Seq((2, 0)).toDF("id", "x").select(b2).head().getInt(0)
    if (touched != untouched) {
      assert(m(untouched) == "_batch_v1")
      assert(m(touched) == "_batch_v2")
    }
  }

  test("per-batch stats: range read prunes files, exact across carried-over buckets") {
    val t = new BucketedSnapshotTable(tmp("bstats"), numBuckets = 8,
      keys = Seq("k"), statsCols = Seq("d"))
    // batch 1 stamps every row d=1; batch 2's updates stamp d=2 — the
    // "rows changed since" query becomes a stats-pruned scan
    t.scd1Merge(spark, (1 to 64).map(i => (i, 1, 1)).toDF("k", "seq", "d"), "seq")
    val touched = t.scd1Merge(spark, Seq((1, 2, 2), (2, 2, 2)).toDF("k", "seq", "d"), "seq")

    val full = t.read(spark)
    val pr = t.readIndexed(spark).filter($"d" === 2)
    // only the batch-2 bucket files can contain d=2; batch-1 files
    // (max d=1) are pruned even though their buckets are still live
    val kept = scannedFiles(pr)
    assert(kept <= touched.size)
    assert(kept < full.inputFiles.length)
    assert(pr.count() == 2)
    assert(pr.select("k").as[Int].collect().toSet == Set(1, 2))

    // a covering range sees the whole merged table; a disjoint one is empty
    assert(t.readIndexed(spark).filter($"d".between(1, 2)).count() == full.count())
    val none = t.readIndexed(spark).filter($"d".between(99, 100))
    assert(none.count() == 0)
    assert(scannedFiles(none) == 0)
    assert(none.columns.toSeq == full.columns.toSeq)
  }

  test("copy-on-write UPDATE/DELETE: affected-buckets-only IO, simultaneous SET, key columns protected") {
    val t = new BucketedSnapshotTable(tmp("bcow"), numBuckets = 16, keys = Seq("k"))
    t.scd1Merge(spark, (1 to 160).map(i => (i, 1, i.toDouble, i * 10.0))
      .toDF("k", "seq", "a", "b"), "seq")
    val before = t.manifest(spark)

    // UPDATE matching exactly one key: only that key's bucket rewrites;
    // SET is simultaneous (a reads the OLD b, b reads the OLD a — a swap)
    val (touched, n) = t.update(spark, $"k" === 7,
      Seq("a" -> col("b"), "b" -> col("a")))
    assert(n == 1 && touched.size == 1)
    assert((before.keySet -- touched).forall(bk => t.manifest(spark)(bk) == before(bk)),
      "untouched buckets must carry over by reference")
    assert(t.read(spark).filter($"k" === 7).select("a", "b")
      .as[(Double, Double)].head() == ((70.0, 7.0)), "SET must be simultaneous (swap)")
    assert(t.read(spark).filter($"k" === 8).select("a", "b")
      .as[(Double, Double)].head() == ((8.0, 80.0)))

    // SET on a bucket key must be refused (the row would be mis-bucketed)
    val e = intercept[IllegalArgumentException](
      t.update(spark, lit(true), Seq("k" -> lit(0))))
    assert(e.getMessage.contains("bucket key"))

    // DELETE: only matching buckets rewrite, rows drop, count is exact
    val before2 = t.manifest(spark)
    val (dTouched, dN) = t.delete(spark, $"k" === 7 || $"k" === 8)
    assert(dN == 2)
    assert((before2.keySet -- dTouched).forall(bk => t.manifest(spark)(bk) == before2(bk)))
    assert(t.read(spark).filter($"k".isin(7, 8)).count() == 0)
    assert(t.read(spark).count() == 158)
    // no-match DELETE is a clean no-op (no commit)
    val v = t.currentVersion(spark)
    assert(t.delete(spark, $"k" === -1) == ((Set.empty[Int], 0L)))
    assert(t.currentVersion(spark) == v)
  }

  test("schema evolution: add/omit-column merges stay bucket-pruned; stats manifests stay complete") {
    val t = new BucketedSnapshotTable(tmp("bevol"), numBuckets = 8,
      keys = Seq("k"), statsCols = Seq("seq"))
    t.scd1Merge(spark, (1 to 80).map(i => (i, 1, s"v$i")).toDF("k", "seq", "v"), "seq")
    val before = t.manifest(spark)
    // batch 2 ADDS `extra` and OMITS `v` for one key — O(affected buckets)
    val touched = t.scd1Merge(spark,
      Seq((3, 2, 99.5)).toDF("k", "seq", "extra"), "seq")
    assert(touched.size == 1, s"evolving merge must stay bucket-pruned: $touched")
    assert((before.keySet -- touched).forall(bk => t.manifest(spark)(bk) == before(bk)))
    val r = t.read(spark)
    assert(r.columns.toSet == Set("k", "seq", "v", "extra"))
    assert(r.filter($"k" === 3).select($"v".isNull, $"extra")
      .as[(Boolean, Option[Double])].head() == ((true, Some(99.5))))
    assert(r.filter($"k" === 4).select($"v", $"extra".isNull)
      .as[(String, Boolean)].head() == (("v4", true)))
    // stats stay complete across evolved batches: seq=2 prunes to the new
    // batch's bucket only; a covering range still sees every row
    val pr = t.readIndexed(spark).filter($"seq" === 2)
    assert(pr.select("k").as[Int].collect().toSeq == Seq(3))
    assert(t.readIndexed(spark).filter($"seq".between(1, 2)).count() == 80)
    // round-trip the other way: a later full-schema merge on the evolved
    // table unions cleanly
    t.scd1Merge(spark, Seq((5, 3, "v5b")).toDF("k", "seq", "v"), "seq")
    assert(t.read(spark).filter($"k" === 5).select("v").as[String].head() == "v5b")
  }

  test("CDF pruning survives OPTIMIZE: contentV carries across compaction, windows stay bucket-pruned") {
    val t = new BucketedSnapshotTable(tmp("bcdfopt"), numBuckets = 32, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch((1 to 320).map(i => (i, 1, s"v$i"))), "seq") // v1
    val t2 = t.scd1Merge(spark, mkBatch(Seq((7, 2, "v7b"))), "seq")        // v2
    t.compact(spark)                                                        // v3 moves EVERY dir
    val t4 = t.scd1Merge(spark, mkBatch(Seq((200, 3, "v200b"))), "seq")    // v4

    // metadata-level pruning assertions on the exact set changes() reads
    assert(t.changedBuckets(spark, 1, 2) == t2)
    assert(t.changedBuckets(spark, 2, 3).isEmpty,
      "compaction is content-preserving — the 2→3 window must prune to nothing")
    assert(t.changedBuckets(spark, 1, 4) == (t2 ++ t4),
      "a window spanning the OPTIMIZE must see only the merged buckets, " +
        "not every bucket the compaction re-pointed")

    // and the diffs themselves stay correct
    assert(t.changes(spark, 2, 3).count() == 0)
    val cdf = t.changes(spark, 1, 4).select("k", "_change_type")
      .as[(Int, String)].collect().toSet
    assert(cdf == Set((7, "update"), (200, "update")))
    // IO bound: 2 changed buckets of 32, both sides
    val full = t.read(spark)
    assert(t.changes(spark, 1, 4).inputFiles.length <= 4 * full.inputFiles.length / 32 + 4)
  }

  test("predicate DML stats pre-filter: range predicates skip buckets whose files cannot match") {
    val t = new BucketedSnapshotTable(tmp("bdmlstats"), numBuckets = 16,
      keys = Seq("k"), statsCols = Seq("d"))
    t.scd1Merge(spark, (1 to 160).map(i => (i, 1, 1, s"v$i")).toDF("k", "seq", "d", "v"), "seq")
    val hot = t.scd1Merge(spark,
      Seq((3, 2, 5, "v3b"), (4, 2, 5, "v4b")).toDF("k", "seq", "d", "v"), "seq")

    // bound extraction: conjunctions intersect; OR on DIFFERENT columns
    // bails (the row can satisfy the other branch); unknown shapes bail
    assert(t.predBounds($"d" >= 2 && $"d" < 9 && upper($"v") === "X") == Map("d" -> ((2.0, 9.0))))
    assert(t.predBounds($"d" >= 2 || $"k" === 1).isEmpty)
    // IN-list spans [min,max] of its (all-literal) items; both encodings
    assert(t.predBounds($"d".isin(5, 3, 8)) == Map("d" -> ((3.0, 8.0))))
    assert(t.predBounds(expr("d IN (5, 3, 8)")) == Map("d" -> ((3.0, 8.0))))
    // OR on the SAME column takes the hull (r9)
    assert(t.predBounds($"d".isin(5, 3) || $"d" === 1) == Map("d" -> ((1.0, 5.0))))
    assert(t.predBounds($"ts" >= lit("2024-01-15 00:00:00").cast("timestamp"))
      .get("ts").exists(_._1 > 1.7e15), "timestamp literal must fold to epoch micros")

    // candidate set: only the d=5 batch's buckets survive the d>=2 bound
    val cand = t.statsCandidates(spark, t.manifest(spark), $"d" >= 2).get
    assert(cand == hot, s"stats pre-filter must name exactly the hot buckets: $cand vs $hot")
    // no usable bounds → no pruning (None = scan everything)
    assert(t.statsCandidates(spark, t.manifest(spark), $"v" === "v3b").isEmpty)

    // UPDATE with the range predicate rewrites only the hot buckets and is
    // still value-correct
    val (touched, n) = t.update(spark, $"d" >= 2, Seq("v" -> concat($"v", lit("!"))))
    assert(n == 2 && touched == hot)
    assert(t.read(spark).filter($"k".isin(3, 4)).select("v")
      .as[String].collect().toSet == Set("v3b!", "v4b!"))
    assert(t.read(spark).filter($"k" === 5).select("v").as[String].head() == "v5")

    // DELETE with a disjoint range is a clean no-op without scanning
    val v0 = t.currentVersion(spark)
    assert(t.delete(spark, $"d" >= 99) == ((Set.empty[Int], 0L)))
    assert(t.currentVersion(spark) == v0)

    // TIMESTAMP_NTZ stats columns quantize to session-zone micros (the
    // testdata's timestamp physical type) and prune like any numeric
    val tn = new BucketedSnapshotTable(tmp("bdmlntz"), numBuckets = 16,
      keys = Seq("k"), statsCols = Seq("ts"))
    tn.scd1Merge(spark, (1 to 160).map(i => (i, 1))
      .toDF("k", "seq")
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp_ntz")), "seq")
    val hotN = tn.scd1Merge(spark, Seq((3, 2), (4, 2)).toDF("k", "seq")
      .withColumn("ts", lit("2024-02-01 00:00:00").cast("timestamp_ntz")), "seq")
    assert(tn.statsCandidates(spark, tn.manifest(spark),
      $"ts" >= lit("2024-01-15 00:00:00").cast("timestamp_ntz")) == Some(hotN))

    // STRING bounds prune against the b64 prefix stats too
    val ts = new BucketedSnapshotTable(tmp("bdmlstr"), numBuckets = 16,
      keys = Seq("k"), statsCols = Seq("v"))
    ts.scd1Merge(spark, (1 to 160).map(i => (i, 1, f"aa$i%04d")).toDF("k", "seq", "v"), "seq")
    val hotS = ts.scd1Merge(spark,
      Seq((3, 2, "zz0003"), (4, 2, "zz0004")).toDF("k", "seq", "v"), "seq")
    assert(ts.predStrBounds($"v" >= "x" && $"v" < "zz9") ==
      Map("v" -> ((Some("x"), Some("zz9")))))
    assert(ts.statsCandidates(spark, ts.manifest(spark), $"v" >= "x") == Some(hotS))
    val (tS, nS) = ts.delete(spark, $"v" >= "x")
    assert(nS == 2 && tS == hotS)
    assert(ts.read(spark).filter($"k".isin(3, 4)).count() == 0)
    assert(ts.read(spark).count() == 158)

    // ADAPTIVE prefix (r9): a URL corpus shares a >32-char prefix, so
    // fixed 32-char stats would collapse every file to the same entry and
    // prune nothing — the recorded cut extends past the common prefix
    val base = "https://shared-host.example.com/catalog/department/item-"
    assert(base.length > 40)
    val tu = new BucketedSnapshotTable(tmp("bdmlurl"), numBuckets = 16,
      keys = Seq("k"), statsCols = Seq("v"))
    tu.scd1Merge(spark, (1 to 160).map(i => (i, 1, f"${base}aa$i%04d")).toDF("k", "seq", "v"), "seq")
    val hotU = tu.scd1Merge(spark,
      Seq((3, 2, s"${base}zz0003"), (4, 2, s"${base}zz0004")).toDF("k", "seq", "v"), "seq")
    assert(tu.statsCandidates(spark, tu.manifest(spark), $"v" >= s"${base}x") == Some(hotU),
      "boundary inside the shared prefix region must still prune (adaptive cut)")
    val (tU, nU) = tu.delete(spark, $"v" >= s"${base}x")
    assert(nU == 2 && tU == hotU)
    assert(tu.read(spark).count() == 158)
  }

  test("DELETE emptying every affected bucket commits on an indexed table (no staged parquet to stat)") {
    // an indexed table whose DELETE tombstones EVERY row of the affected
    // buckets stages a batch with NO parquet files — the stats/bloom
    // builds must skip it instead of failing schema inference on an
    // empty directory
    val t = new BucketedSnapshotTable(tmp("bdelall"), numBuckets = 4,
      keys = Seq("k"), statsCols = Seq("d"), bloomCols = Seq("d"))
    t.scd1Merge(spark, (1 to 40).map(i => (i, 1L, i.toLong)).toDF("k", "seq", "d"), "seq")
    val (touched, n) = t.delete(spark, lit(true))
    assert(n == 40 && touched.nonEmpty)
    assert(t.manifest(spark).isEmpty, "all buckets emptied → no manifest entries")
    // the table is still writable afterwards
    t.scd1Merge(spark, Seq((50, 2L, 50L)).toDF("k", "seq", "d"), "seq")
    assert(t.read(spark).count() == 1)
  }

  test("bloom sidecars: point predicates on non-key columns prune files regardless of layout") {
    import graft.tables.BucketedSnapshotTable.PointSet
    // bucketed by k; oid/name are high-cardinality NON-key columns whose
    // [min,max] in every batch spans the whole domain — range stats would
    // prune nothing, the per-file Bloom filters are what prunes here
    val t = new BucketedSnapshotTable(tmp("bbloom"), numBuckets = 16,
      keys = Seq("k"), bloomCols = Seq("oid", "name"))
    t.scd1Merge(spark, (1 to 160).map(i => (i, 1L, i * 1000L, f"n$i%04d"))
      .toDF("k", "seq", "oid", "name"), "seq")
    val hot = t.scd1Merge(spark,
      Seq((3, 2L, 999999L, "zz3"), (4, 2L, 888888L, "zz4"))
        .toDF("k", "seq", "oid", "name"), "seq")
    assert(hot.size == 2)

    // point-set extraction: =, IN, OR-of-equalities (union), both
    // encodings; AND intersects (disjoint conjunction is unsatisfiable);
    // OR across different columns bails
    assert(t.predPointSets($"oid" === 999999L) ==
      Map("oid" -> PointSet(Set(999999L), Set.empty)))
    assert(t.predPointSets(expr("oid = 999999")) ==
      Map("oid" -> PointSet(Set(999999L), Set.empty)))
    assert(t.predPointSets($"name".isin("zz3", "zz4")) ==
      Map("name" -> PointSet(Set.empty, Set("zz3", "zz4"))))
    assert(t.predPointSets($"oid" === 1L || $"oid" === 2L) ==
      Map("oid" -> PointSet(Set(1L, 2L), Set.empty)))
    assert(t.predPointSets($"oid" === 1L || $"name" === "x").isEmpty)
    assert(t.predPointSets($"oid" === 1L && $"oid" === 2L) ==
      Map("oid" -> PointSet(Set.empty, Set.empty)))

    // candidate discovery: a point probe on oid keeps only the files whose
    // filter might contain the key — far fewer than the 16 live buckets
    val all = t.manifest(spark).keySet
    val candL = t.statsCandidates(spark, t.manifest(spark), $"oid" === 999999L).get
    assert(candL.exists(hot.contains) && candL.size <= 3,
      s"bloom must prune the point probe to ~1 bucket: $candL")
    val candS = t.statsCandidates(spark, t.manifest(spark), $"name" === "zz4").get
    assert(candS.size <= 3, s"string bloom must prune: $candS")
    // a value of the wrong kind for the indexed hash cannot be evaluated —
    // every file is kept (superset guarantee, never a wrong prune)
    assert(t.statsCandidates(spark, t.manifest(spark), $"name" === 5) == Some(all))

    // point UPDATE touches exactly the matched bucket and stays correct
    val (touched, n) = t.update(spark, $"oid" === 999999L, Seq("name" -> lit("upd")))
    assert(n == 1 && touched.size == 1)
    assert(t.read(spark).filter($"k" === 3).select("name").as[String].head() == "upd")

    // compaction re-points the bloom manifests: pruning survives OPTIMIZE
    t.compact(spark)
    val candC = t.statsCandidates(spark, t.manifest(spark), $"oid" === 888888L).get
    assert(candC.size <= 3, s"bloom pruning must survive compact: $candC")
    val (t2, n2) = t.update(spark, $"oid" === 888888L, Seq("name" -> lit("upd2")))
    assert(n2 == 1 && t2.size == 1)
    assert(t.read(spark).filter($"k" === 4).select("name").as[String].head() == "upd2")

    // read-side point lookup on the non-key column: scans only the files
    // whose filter might contain the key, exact after the row filter
    val look = t.readIndexed(spark).filter($"oid" === 888888L)
    val lookFiles = scannedFiles(look)
    assert(lookFiles <= 3, s"point read must prune files: $lookFiles")
    assert(look.select("name").as[String].head() == "upd2")
    val lookS = t.readIndexed(spark).filter($"name" === "upd")
    assert(lookS.select("k").as[Int].head() == 3)
    // r10: doubles probe the index now — a fractional value can equal no
    // long, so the probe proves absence and schedules NOTHING
    assert(scannedFiles(t.readIndexed(spark).filter($"oid" === 1.5)) == 0)
    // IN-list form: keeps a file when ANY value might be contained
    val lookIn = t.readIndexed(spark).filter($"oid".isin(888888L, 5000L))
    assert(scannedFiles(lookIn) <= 4)
    assert(lookIn.count() == 2)

    // ANALYZE BLOOM backfills an index on a table written without one, and
    // INCREMENTAL re-ANALYZE skips covered dirs (immutable batch dirs)
    val root2 = tmp("bbloom2")
    val p = new BucketedSnapshotTable(root2, numBuckets = 16, keys = Seq("k"))
    p.scd1Merge(spark, (1 to 160).map(i => (i, 1L, i * 1000L))
      .toDF("k", "seq", "oid"), "seq")
    def sqlRun(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    sqlRun(s"ANALYZE '$root2' BLOOM (oid)").collect()
    val l = BucketedSnapshotTable.layoutOf(spark, root2).get
    assert(l.bloomCols == Seq("oid"), "ANALYZE BLOOM must record the manifest header")
    val p2 = new BucketedSnapshotTable(root2, 16, Seq("k"), Nil, l.bloomCols)
    val candB = p2.statsCandidates(spark, p2.manifest(spark), $"oid" === 42000L).get
    assert(candB.size <= 3, s"backfilled bloom must prune: $candB")
    // INCREMENTAL: the covered dir's sidecar is untouched after a new merge
    // — merged through the BLOOM-LESS instance, which must neither write a
    // sidecar for its batch nor erase the recorded bloomCols header
    p.scd1Merge(spark, Seq((7, 2L, 777L)).toDF("k", "seq", "oid"), "seq")
    assert(BucketedSnapshotTable.layoutOf(spark, root2).get.bloomCols == Seq("oid"),
      "a writer without bloomCols must not erase the table's recorded header")
    val oldManifest = new java.io.File(s"$root2/_batch_v1/_bloom/_MANIFEST")
    val mtime = oldManifest.lastModified()
    Thread.sleep(20)
    sqlRun(s"ANALYZE '$root2' BLOOM (oid) INCREMENTAL").collect()
    assert(oldManifest.lastModified() == mtime,
      "covered dirs must be skipped by INCREMENTAL bloom re-ANALYZE")
    val candI = p2.statsCandidates(spark, p2.manifest(spark), $"oid" === 777L).get
    assert(candI.size <= 3, "the new batch's backfilled bloom must prune")
  }

  test("applyChangesTo: exactly-once CDF mirror — ledger heals the checkpoint across an ABA crash window") {
    val src = new BucketedSnapshotTable(tmp("bcdfsrc"), numBuckets = 32, keys = Seq("k"))
    val dst = new BucketedSnapshotTable(tmp("bcdfdst"), numBuckets = 8, keys = Seq("k"))
    val ck = tmp("bcdfck") + "/ck"
    def mirror(): Set[String] =
      rows(ScdMerge.scd1Current(dst.read(spark)), "k", "v")
    def source(): Set[String] =
      rows(ScdMerge.scd1Current(src.read(spark)), "k", "v")

    src.scd1Merge(spark, mkBatch((1 to 100).map(i => (i, 1, s"v$i"))), "seq") // v1
    assert(src.applyChangesTo(spark, ck, dst, "m1") == 1) // bootstrap
    assert(mirror() == source())

    // incremental window: update + insert + delete flow through the diff
    src.scd1Merge(spark,
      mkBatch(Seq((7, 2, "v7b"), (1000, 2, "new"), (13, 2, "gone")))
        .withColumn("del", $"k" === 13),
      "seq", Nil, applyAsDeletes = Some(col("del") === true))
    assert(src.applyChangesTo(spark, ck, dst, "m1") == 2)
    assert(mirror() == source())
    assert(!mirror().exists(_.startsWith("13|")))

    // idempotent replay: nothing new → no target commit
    val dv = dst.currentVersion(spark)
    src.applyChangesTo(spark, ck, dst, "m1")
    assert(dst.currentVersion(spark) == dv)

    // ABA crash window: apply v3's change, crash BEFORE the checkpoint
    // advances, then the source REVERTS the key. A consumer resuming from
    // the stale checkpoint would diff 2→4 (no change for k=20) and keep
    // the crashed window's value; the ledger heal resumes from 3 instead.
    src.scd1Merge(spark, mkBatch(Seq((20, 3, "X"))), "seq") // v3
    intercept[RuntimeException] {
      src.consumeChangesVersioned(spark, ck) { (feed, _, toV) =>
        val upd = feed
          .withColumn(ScdMerge.DeletedCol, col("_change_type") === "delete")
          .drop("_change_type")
          .withColumn("__cdf_seq", lit(toV.toLong))
        dst.scd1Merge(spark, upd, "__cdf_seq", Nil,
          applyAsDeletes = Some(col(ScdMerge.DeletedCol)),
          txn = Some(("cdf:m1", toV.toLong)))
        throw new RuntimeException("crash before checkpoint")
      }
    }
    assert(mirror().contains("20|X"), "the crashed window's merge DID land")
    src.scd1Merge(spark, mkBatch(Seq((20, 4, "v20"))), "seq") // v4: revert
    assert(src.applyChangesTo(spark, ck, dst, "m1") == 4)
    assert(mirror() == source(), "ledger heal must pick up the 3→4 revert")
    assert(mirror().contains("20|v20"))
  }

  test("read prunes to affected buckets only (directory-level pruning)") {
    val t = new BucketedSnapshotTable(tmp("bprune"), numBuckets = 32, keys = Seq("k"))
    t.scd1Merge(spark, mkBatch((1 to 200).map(i => (i, 1, s"v$i"))), "seq")
    // a 1-key incremental merge must not scan all 32 buckets: the files it
    // reads during the merge live only under the key's bucket dir
    val before = t.manifest(spark)
    val touched = t.scd1Merge(spark, mkBatch(Seq((7, 2, "u"))), "seq")
    assert(touched.size == 1)
    assert((before.keySet -- touched).forall(b => t.manifest(spark)(b) == before(b)))
  }
}
