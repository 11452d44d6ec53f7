package graft.tables

import org.scalatest.funsuite.AnyFunSuite

/** CHECK constraints on the transactional table (ALTER TABLE … ADD
  * CONSTRAINT analog): enforcement is fused into the write's own scan
  * (assert_true inside a filter — no second pass over the batch), NULL
  * predicate results REJECT (CHECK must prove the row), and adding a
  * constraint validates the existing snapshot first (Delta semantics:
  * reject the constraint, not the data). */
class ConstraintsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("constr").toString

  test("violating append fails with a named error; clean data commits; drop lifts the gate") {
    val t = new SnapshotTable(s"${tmp()}/t")
    t.write(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "value"))
    t.addConstraint(spark, "value_nonneg", "value >= 0")

    val e = intercept[Exception] {
      t.append(spark, Seq((3L, -1.0)).toDF("id", "value"))
    }
    assert(e.getMessage != null && e.getMessage.contains("CONSTRAINT_VIOLATION")
      || e.getCause != null && e.getCause.getMessage.contains("CONSTRAINT_VIOLATION"),
      s"unexpected error: $e")
    // failed append must not advance the table
    assert(t.read(spark).count() == 2)

    t.append(spark, Seq((3L, 30.0)).toDF("id", "value"))
    assert(t.read(spark).count() == 3)

    t.dropConstraint(spark, "value_nonneg")
    t.append(spark, Seq((4L, -5.0)).toDF("id", "value"))
    assert(t.read(spark).count() == 4)
  }

  test("NULL predicate result rejects the row (CHECK must prove it)") {
    val t = new SnapshotTable(s"${tmp()}/t")
    t.write(spark, Seq((1L, Some(1.0))).toDF("id", "value"))
    t.addConstraint(spark, "value_pos", "value > 0")
    val e = intercept[Exception] {
      t.append(spark, Seq((2L, None: Option[Double])).toDF("id", "value"))
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("CONSTRAINT_VIOLATION"), s"unexpected error: $e")
  }

  test("addConstraint validates existing rows and refuses if any violate") {
    val t = new SnapshotTable(s"${tmp()}/t")
    t.write(spark, Seq((1L, -3.0)).toDF("id", "value"))
    val e = intercept[IllegalArgumentException] {
      t.addConstraint(spark, "value_nonneg", "value >= 0")
    }
    assert(e.getMessage.contains("CONSTRAINT_VIOLATION") &&
      e.getMessage.contains("1 existing"))
    // the rejected constraint is NOT persisted
    assert(t.constraints(spark).isEmpty)
    t.append(spark, Seq((2L, -4.0)).toDF("id", "value")) // still unconstrained
    assert(t.read(spark).count() == 2)
  }

  test("full overwrite (writeIf) is gated too; multiple constraints compose") {
    val t = new SnapshotTable(s"${tmp()}/t")
    t.write(spark, Seq((1L, 5.0)).toDF("id", "value"))
    t.addConstraint(spark, "value_cap", "value <= 100")
    t.addConstraint(spark, "id_pos", "id > 0")
    assert(t.constraints(spark).keySet == Set("value_cap", "id_pos"))
    val e = intercept[Exception] {
      t.write(spark, Seq((0L, 5.0)).toDF("id", "value"))
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("id_pos"), s"unexpected error: $e")
    t.write(spark, Seq((7L, 99.0)).toDF("id", "value"))
    assert(t.read(spark).as[(Long, Double)].collect().toSet == Set((7L, 99.0)))
  }

  /** The state a crash between `delete(_constraints)` and the rename
    * leaves: only the complete tmp. */
  private def crashMidReplace(root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, "_constraints")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.rename(p, new org.apache.hadoop.fs.Path(root, "_constraints.tmp")))
  }

  private def assertViolation(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("CONSTRAINT_VIOLATION"), s"unexpected error: $e")
  }

  test("plain table: constraints survive a crash mid-replace of _constraints") {
    val t = new SnapshotTable(s"${tmp()}/t")
    t.write(spark, Seq((1L, 10.0)).toDF("id", "value"))
    t.addConstraint(spark, "value_nonneg", "value >= 0")
    crashMidReplace(t.root)
    assertViolation(t.append(spark, Seq((2L, -1.0)).toDF("id", "value")))
    assert(t.read(spark).count() == 1)
    assert(t.constraints(spark) == Map("value_nonneg" -> "value >= 0"))
  }

  test("bucketed table: constraints survive a crash mid-replace of _constraints") {
    val t = new BucketedSnapshotTable(tmp(), numBuckets = 2, keys = Seq("k"))
    t.scd1Merge(spark, Seq((1L, 1L, 10.0)).toDF("k", "seq", "value"), "seq")
    t.addConstraint(spark, "value_nonneg", "value >= 0")
    crashMidReplace(t.root)
    assertViolation(
      t.scd1Merge(spark, Seq((2L, 1L, -1.0)).toDF("k", "seq", "value"), "seq"))
    assert(t.read(spark).count() == 1)
    assert(t.constraints(spark) == Map("value_nonneg" -> "value >= 0"))
  }
}
