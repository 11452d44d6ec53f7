package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — multi-dimensional file skipping, the
  * `OPTIMIZE ZORDER BY` analog for the snapshot tables.
  *
  * `clusterBy` on one column makes per-file min/max stats selective on
  * THAT column only; every other column's ranges span the whole domain in
  * every file. Interleaving the bits of several columns' rank codes and
  * range-clustering on the interleaved value gives every participating
  * column locality ∝ 2^(-bits/d) per file, so a [[SnapshotTable.readIndexed]]
  * range filter on ANY of them skips most files — the property linear
  * sort order cannot provide for more than one column.
  *
  * Mechanics: each column is scaled to a 16-bit rank code from its
  * global [min,max] (one tiny agg job — two doubles per column to the
  * driver, never data), codes are bit-interleaved into the Morton value
  * with codegen'd shift/or expressions, and the write range-partitions +
  * sorts on that value. Everything else (stats manifest, pruned reads,
  * snapshot commit protocol) is unchanged composition.
  */
object Zorder {

  private val Bits = 16

  /** 16-bit rank code of `c` scaled from [lo, hi] (doubles). */
  private def code(c: Column, lo: Double, hi: Double): Column = {
    val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
    least(lit((1 << Bits) - 1), greatest(lit(0),
      floor((c.cast("double") - lit(lo)) / lit(span) * lit(1 << Bits)).cast("long")))
  }

  /** Interleave the bits of up to 4 16-bit codes: bit b of code i lands
    * at position b*d + i (LSB-first round-robin). Pure shift/or column
    * algebra — whole-stage codegen keeps this a narrow projection. */
  private def interleave(codes: Seq[Column]): Column = {
    val d = codes.size
    (0 until Bits).flatMap { b =>
      codes.zipWithIndex.map { case (c, i) =>
        shiftleft(c.bitwiseAND(lit(1L << b)), b * (d - 1) + i)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** The Morton value of `cols`, scaled by the data's own min/max (one
    * aggregate job; model parameters to the driver, not data). */
  def zvalue(df: DataFrame, cols: Seq[String]): Column = {
    require(cols.nonEmpty && cols.size <= 4, "zorder supports 1-4 columns")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    interleave(cols.zipWithIndex.map { case (c, i) =>
      code(col(c), row.getDouble(2 * i), row.getDouble(2 * i + 1))
    })
  }

  /** [[SnapshotTable.writeWithStats]] with Z-order clustering on
    * `zorderBy`: stats cover the z-ordered columns (plus any extras), so
    * range probes on each of them prune files. Returns the version. */
  def writeZordered(table: SnapshotTable, spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, zorderBy: Seq[String], extraStats: Seq[String] = Nil,
      clusterPartitions: Int = 0): Int = {
    val z = df.withColumn("__z", zvalue(df, zorderBy))
    val v = table.writeWithStats(spark,
      (if (clusterPartitions > 0) z.repartitionByRange(clusterPartitions, col("__z"))
       else z.repartitionByRange(col("__z")))
        .sortWithinPartitions(col("__z"))
        .drop("__z"),
      (zorderBy ++ extraStats).distinct)
    v
  }

  // ── r11 additions: rank-quantized z-values + the OPTIMIZE ZORDER BY
  //    rewrite path ─────────────────────────────────────────────────────

  /** RANK-quantized z-value (vs [[zvalue]]'s linear min/max scaling):
    * each column is bucketed by approximate quantile boundaries (one
    * driver-side stats pass; boundaries are model-sized), so the curve
    * stays balanced under SKEWED distributions where linear scaling would
    * collapse most rows into a few cells — each rank bucket holds
    * ~1/2^bits of the rows by construction. Numeric, date and timestamp
    * columns (dates/timestamps quantize through their numeric
    * representation); strings rejected. Nulls sort into bucket 0. */
  def zvalueRanked(df: DataFrame, cols: Seq[String], bits: Int = 8): Column = {
    require(cols.nonEmpty, "ZORDER needs at least one column")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits($bits) × dims(${cols.size}) must fit a long")
    val nb = 1 << bits
    def numeric(c: String): Column = df.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(c).cast("double")
      case _: org.apache.spark.sql.types.DateType =>
        col(c).cast("int").cast("double")
      case _: org.apache.spark.sql.types.TimestampType |
           _: org.apache.spark.sql.types.TimestampNTZType =>
        col(c).cast("long").cast("double")
      case other => throw new IllegalArgumentException(
        s"ZORDER BY $c: unsupported type $other (numeric/date/timestamp only)")
    }
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    // one stats pass for ALL dimensions' boundaries
    val numd = df.select(cols.map(c => numeric(c).as(c)): _*)
    val bounds: Seq[Array[Double]] =
      numd.stat.approxQuantile(cols.toArray, probs, 0.001).toSeq
    val buckets: Seq[Column] = cols.zip(bounds).map { case (c, bs) =>
      // distinct boundaries only — ties collapse, the bucket count just
      // shrinks for low-cardinality columns
      val distinctBs = bs.distinct
      val v = numeric(c)
      // boundary search: count boundaries ≤ value (codegen'd HOF over the
      // broadcast literal array; |bs| ≤ 255 at the default bits)
      when(v.isNull, lit(0)).otherwise(
        aggregate(lit(distinctBs), lit(0),
          (acc, b) => acc + when(v >= b, 1).otherwise(0)))
    }
    val n = cols.size
    (0 until bits).flatMap { i =>
      buckets.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Rewrite `df` into `files` z-ordered output partitions: range-
    * partition by the rank-quantized z-value, sort within, drop the
    * helper column — each written file covers one contiguous z-range (a
    * hyper-rectangle neighborhood of the clustering space). The
    * `OPTIMIZE … ZORDER BY` rewrite shape
    * ([[SnapshotTable.zorderRewrite]]). */
  def shape(df: DataFrame, cols: Seq[String], files: Int, bits: Int = 8): DataFrame =
    df.withColumn("__zorder", zvalueRanked(df, cols, bits))
      .repartitionByRange(files, col("__zorder"))
      .sortWithinPartitions("__zorder")
      .drop("__zorder")
}
