package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.SnapshotTable

/** Model-based property test for the snapshot commit protocol (SURVEY §5
  * discipline, applied to the table layer): random interleavings of
  * restatement writes, O(increment) appends, key deletes, OPTIMIZE
  * compactions, and restores must keep every committed version's visible
  * content equal to a trivial in-memory model — across the version
  * manifest, tombstone-reference, and stats-carry machinery the ops compose.
  */
class SnapshotTableProps extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private sealed trait Op
  private case class WriteAll(tag: Int) extends Op
  private case class Append(tag: Int) extends Op
  private case class Delete(pick: Int) extends Op
  private case object Optimize extends Op
  private case class Restore(pick: Int) extends Op

  private val genOps: Gen[List[Op]] = for {
    n <- Gen.choose(6, 12)
    ops <- Gen.listOfN(n, Gen.frequency(
      2 -> Gen.choose(0, 99).map(WriteAll),
      5 -> Gen.choose(0, 99).map(Append),
      3 -> Gen.choose(0, 99).map(Delete),
      2 -> Gen.const(Optimize),
      2 -> Gen.choose(0, 99).map(Restore)))
  } yield ops

  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def rows(tag: Int): Set[(Long, String)] =
    (0 until 5).map(j => (tag * 100L + j, s"p$tag-$j")).toSet

  test("commit protocol: random write/append/delete/optimize/restore ≡ in-memory model") {
    forAllSeeded(genOps, n = 6) { ops =>
      val root = java.nio.file.Files.createTempDirectory("proto").toString
      val t = new SnapshotTable(root)
      def toDF(s: Set[(Long, String)]) = s.toSeq.toDF("k", "x")
      def readSet(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, String)].collect().toSet

      // model: visible content per committed version (index = version)
      var hist = Vector.empty[Set[(Long, String)]]
      def live = hist.lastOption.getOrElse(Set.empty)

      t.write(spark, toDF(rows(999)))
      hist :+= rows(999)

      ops.foreach { op =>
        op match {
          case WriteAll(tag) =>
            t.write(spark, toDF(rows(tag)))
            hist :+= rows(tag)
          case Append(tag) =>
            val fresh = rows(tag).filterNot(r => live.exists(_._1 == r._1))
            t.append(spark, toDF(fresh).coalesce(1))
            hist :+= live ++ fresh
          case Delete(pick) =>
            val keys = live.toSeq.sortBy(_._1).map(_._1)
            val doomed = keys.zipWithIndex.collect {
              case (k, i) if (i + pick) % 3 == 0 => k
            }.toSet
            t.deleteKeysVersioned(spark, doomed.toSeq.toDF("k"))
            // a delete commits a version: the prior one keeps its rows
            hist :+= live.filterNot(r => doomed(r._1))
          case Optimize =>
            val v = t.optimizeCompact(spark, targetBytes = 64 << 10)
            if (v > hist.size) hist :+= live // content-preserving new version
          case Restore(pick) =>
            val v = 1 + pick % hist.size
            t.restore(spark, v)
            hist :+= hist(v - 1)
        }
        assert(readSet(t.read(spark)) == live, s"live mismatch after $op (seed ops $ops)")
        assert(t.currentVersion(spark).contains(hist.size))
      }
      // every retained version still reads as the model says it should
      (1 to hist.size).foreach { v =>
        assert(readSet(t.readVersion(spark, v)) == hist(v - 1), s"version $v drifted")
      }
      // history's row counts agree with the model too
      val counts = t.history(spark).select("version", "n_rows")
        .as[(Int, Long)].collect().toMap
      (1 to hist.size).foreach { v =>
        assert(counts(v) == hist(v - 1).size, s"history n_rows for v$v")
      }
    }
  }

  test("appendEvolving: add-column and omit-column increments null-fill; strict append still rejects") {
    val work = java.nio.file.Files.createTempDirectory("evo").toString
    val t = new SnapshotTable(s"$work/t")
    t.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // strict append rejects a schema change, pointing at the evolving form
    val e = intercept[IllegalArgumentException] {
      t.append(spark, Seq((3L, "c", 30)).toDF("k", "v", "x"))
    }
    assert(e.getMessage.contains("appendEvolving"), e.getMessage)
    // ADD COLUMN: old rows read the new column as null
    t.appendEvolving(spark, Seq((3L, "c", 30)).toDF("k", "v", "x").coalesce(1))
    val after = t.read(spark).select("k", "v", "x")
      .as[(Long, String, Option[Int])].collect().toSet
    assert(after == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(30))))
    // OMIT COLUMN: the increment's rows read the omitted column as null
    t.appendEvolving(spark, Seq(4L -> "d").toDF("k", "v").coalesce(1))
    val after2 = t.read(spark).select("k", "x").as[(Long, Option[Int])].collect().toSet
    assert(after2 == Set(1L -> None, 2L -> None, 3L -> Some(30), 4L -> None))
    // time travel: v1 keeps its original 2-column schema
    assert(t.readVersion(spark, 1).columns.toSeq == Seq("k", "v"))
    // compaction materializes the union schema and keeps contents
    t.optimizeCompact(spark, targetBytes = 1L << 20)
    assert(t.read(spark).select("k", "x").as[(Long, Option[Int])].collect().toSet == after2)
  }

  test("appendEvolving without a stats column drops the manifest (pruned reads stay complete)") {
    val work = java.nio.file.Files.createTempDirectory("evostats").toString
    val t = new SnapshotTable(s"$work/t")
    t.writeWithStats(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "m"), Seq("m"))
    // increment lacks the stats column m → stats manifest must NOT carry,
    // and a range-filtered read still scans every file
    t.appendEvolving(spark, Seq(Tuple1(3L)).toDF("k").coalesce(1))
    assert(t.indexColumns(spark)._1.isEmpty, "the stats manifest must not carry")
    val pruned = t.readIndexed(spark).filter($"m".between(0.0, 100.0))
    val scanned = graft.ScannedFiles.scannedFiles(pruned)
    assert(scanned == t.read(spark).inputFiles.length, s"pruned read skipped files: $scanned")
    val rows = pruned.select("k").as[Long].collect().toSet
    assert(rows == Set(1L, 2L), s"pruned read lost rows: $rows")
  }
}
