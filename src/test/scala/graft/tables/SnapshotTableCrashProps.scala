package graft.tables

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model-based crash matrix for [[SnapshotTable]]'s one commit path
  * (`commitNext`): random scripts of `write`, `writeIndexed`, `appendTxn`,
  * `deleteKeysVersioned` and `optimizeCompact`, with writers KILLED at
  * each commit step through the `onStep` fault-injection hook, must keep
  * the live and every per-version content equal to an in-memory model
  * with a linear history. A kill before the commit point ("claimed",
  * "carried") commits nothing; a kill at or after it ("mid_flip" inside
  * the pointer replace, "committed") commits fully. A killed `appendTxn`
  * is retried only after the NEXT step's write, delete or compaction, so
  * its leftover txn marker must not come into force with another
  * writer's commit, and the retried batch lands exactly once. After every
  * kill, each committed version's index-pruned read equals the model,
  * time travel to now resolves to the pointer's version and the txn
  * ledger holds the model's high-water batch.
  */
class SnapshotTableCrashProps extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private val killPoints = Seq("claimed", "carried", "mid_flip", "committed")
  private def pastCommitPoint(point: String) = point == "mid_flip" || point == "committed"

  private sealed trait Op
  private case class Write(tag: Int) extends Op
  private case class WriteIndexed(tag: Int) extends Op
  private case class AppendTxn(tag: Int) extends Op
  private case class DeleteVersioned(pick: Int) extends Op
  private case object Compact extends Op
  private case class Step(op: Op, kill: Option[String])

  private val genScript: Gen[List[Step]] = for {
    n <- Gen.choose(5, 8)
    steps <- Gen.listOfN(n, for {
      op <- Gen.frequency(
        1 -> Gen.choose(0, 99).map(Write),
        1 -> Gen.choose(0, 99).map(WriteIndexed),
        4 -> Gen.choose(0, 99).map(AppendTxn),
        2 -> Gen.choose(0, 99).map(DeleteVersioned),
        2 -> Gen.const(Compact))
      kill <- Gen.frequency(
        2 -> Gen.const(None),
        5 -> Gen.oneOf(killPoints).map(Some(_)))
    } yield Step(op, kill))
  } yield steps

  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private final class Boom extends RuntimeException("injected crash")

  test("commit protocol: kills at every commitNext step ≡ model; a retried appendTxn lands exactly once") {
    forAllSeeded(genScript, n = 5) { script =>
      val root = java.nio.file.Files.createTempDirectory("pcrash").toString
      val t = new SnapshotTable(root)
      type Rows = Seq[(Long, String)]
      def toDF(rs: Rows) = rs.toDF("k", "x")
      def sorted(df: org.apache.spark.sql.DataFrame): Rows =
        df.as[(Long, String)].collect().toSeq.sorted

      // model: visible rows (a multiset — a double-applied append shows)
      // per committed version, index = version - 1
      var hist = Vector.empty[Rows]
      def live: Rows = hist.lastOption.getOrElse(Nil)
      def version = t.currentVersion(spark).getOrElse(0)
      def checkLive(ctx: String): Unit = {
        assert(sorted(t.read(spark)) == live, s"$ctx: live rows (script $script)")
        assert(version == hist.size, s"$ctx: linear history (script $script)")
      }

      // one attempt of an op, killed at `kill` when set; true = it died.
      // `settle` then holds the table to the model: `expect` is the content
      // a commit must show, `mayNoop` admits a clean no-op (a compaction
      // with < 2 small files, a replayed append)
      def attempt(kill: Option[String])(exec: => Unit): Boolean = {
        kill.foreach(p => TestHooks.onStep(t)(s => if (s == p) throw new Boom))
        try { exec; false }
        catch { case _: Boom => true }
        finally TestHooks.onStep(t)(_ => ())
      }
      def settle(ctx: String, kill: Option[String], killed: Boolean,
          expect: Rows, mayNoop: Boolean): Unit = {
        val before = hist.size
        val after = version
        if (killed && !pastCommitPoint(kill.get))
          assert(after == before, s"$ctx: a kill at ${kill.get} must commit nothing")
        else if (killed || !mayNoop)
          assert(after == before + 1, s"$ctx: must commit exactly one version")
        if (after == before + 1) hist :+= expect.sorted
        checkLive(ctx)
        // a kill never leaves a committed version whose index drops rows:
        // a range read pruned through every dir's index ≡ the model
        if (killed) (1 to hist.size).foreach { v =>
          assert(sorted(t.readIndexed(spark, Some(v)).filter(col("k") < 30000L)) ==
            hist(v - 1).filter(_._1 < 30000L), s"$ctx: indexed read of version $v (script $script)")
        }
      }

      t.writeWithStats(spark, toDF((0 until 4).map(j => (j.toLong, s"seed-$j"))), Seq("k"))
      hist :+= sorted(t.read(spark))
      var applied = Set.empty[Long]
      // a killed append awaiting its retry: (batch id, its rows)
      var pending = Option.empty[(Long, Rows)]

      def appendTxn(batch: Long, rs: Rows, kill: Option[String], ctx: String): Boolean = {
        val expect = live ++ rs
        val killed = attempt(kill)(t.appendTxn(spark, toDF(rs).coalesce(1), Some(("app", batch))))
        settle(ctx, kill, killed, expect, mayNoop = applied(batch))
        if (!killed || pastCommitPoint(kill.get)) applied += batch
        killed
      }
      def retryPending(ctx: String): Unit = pending.foreach { case (batch, rs) =>
        val wasApplied = applied(batch)
        val before = hist.size
        appendTxn(batch, rs, None, s"$ctx retry of batch $batch")
        assert(version == (if (wasApplied) before else before + 1),
          s"$ctx: the retried batch $batch must land exactly once (script $script)")
        pending = None
      }

      script.zipWithIndex.foreach { case (Step(op, kill), i) =>
        val ctx = s"step $i $op kill=$kill"
        op match {
          case Write(tag) =>
            val rs = (0 until 4).map(j => (10000L * (i + 1) + j, s"w$tag-$j"))
            val killed = attempt(kill)(t.write(spark, toDF(rs)))
            settle(ctx, kill, killed, rs, mayNoop = false)
            if (killed) settle(s"$ctx retry", None, attempt(None)(t.write(spark, toDF(rs))),
              rs, mayNoop = false)
            retryPending(ctx)
          case WriteIndexed(tag) =>
            val rs = (0 until 4).map(j => (10000L * (i + 1) + j, s"i$tag-$j"))
            def w() = t.writeIndexed(spark, toDF(rs), statsCols = Seq("k"), bloomCols = Seq("x"))
            val killed = attempt(kill)(w())
            settle(ctx, kill, killed, rs, mayNoop = false)
            if (killed) settle(s"$ctx retry", None, attempt(None)(w()), rs, mayNoop = false)
            retryPending(ctx)
          case AppendTxn(tag) =>
            val rs = (0 until 3).map(j => (10000L * (i + 1) + 100 + j, s"a$tag-$j"))
            // batch ids are a high-water mark: the killed batch retries
            // before any newer batch of the same app
            retryPending(ctx)
            if (appendTxn(i.toLong, rs, kill, ctx)) pending = Some((i.toLong, rs))
          case DeleteVersioned(pick) =>
            val picked = live.map(_._1).zipWithIndex.collect {
              case (k, j) if (j + pick) % 3 == 0 => k
            }.toSet
            val doomed = if (picked.isEmpty) Set(-1L) else picked // never an empty batch
            def del() = t.deleteKeysVersioned(spark, doomed.toSeq.toDF("k"))
            val expect = live.filterNot(r => doomed(r._1))
            val killed = attempt(kill)(del())
            settle(ctx, kill, killed, expect, mayNoop = false)
            if (killed) settle(s"$ctx retry", None, attempt(None)(del()), expect, mayNoop = false)
            retryPending(ctx)
          case Compact =>
            val killed = attempt(kill)(t.optimizeCompact(spark, targetBytes = 64 << 10))
            settle(ctx, kill, killed, live, mayNoop = true)
            if (killed) settle(s"$ctx retry", None,
              attempt(None)(t.optimizeCompact(spark, targetBytes = 64 << 10)), live, mayNoop = true)
            retryPending(ctx)
        }
        // a kill leaves no trace in time travel or the ledger: TIMESTAMP AS
        // OF now is the pointer's version, the ledger the model's
        if (kill.isDefined) {
          assert(t.versionAt(spark, System.currentTimeMillis()) == version,
            s"$ctx: time travel to now (script $script)")
          assert(t.lastTxn(spark, "app") == applied.maxOption, s"$ctx: ledger (script $script)")
        }
      }
      retryPending("end")

      // every committed version still reads as the model says
      (1 to hist.size).foreach { v =>
        assert(sorted(t.readVersion(spark, v)) == hist(v - 1), s"version $v drifted (script $script)")
      }
      assert(applied.isEmpty || t.lastTxn(spark, "app").contains(applied.max))
      // carried stats stay sound: a stats-pruned point read finds each row
      live.take(3).foreach { case (k, x) =>
        assert(t.readIndexed(spark).filter(col("k") === k).select("x").as[String]
          .collect().toSeq == Seq(x), s"pruned read of key $k (script $script)")
      }
      val leftover = new java.io.File(root).list().filter(_.startsWith("_staging_"))
      assert(leftover.isEmpty, s"staging survived a failed commit: ${leftover.toSeq}")
    }
  }
}
