package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.tables.MetaIO

/** Per-table CDC watermark store: `bronze/<table>_cdc/cdc.json` holding
  * `{"cdc": "<max seen value>"}` — the reference's watermark file exactly
  * (incremental_ingustion.json:107-120 reads it, :221-300 rewrites it).
  *
  * Driver-side Hadoop FS I/O (a one-row lookup is not a cluster job); the
  * reference likewise does this in the ADF control plane, not in Spark.
  */
final class WatermarkStore(bronzeDir: String) {

  private def file(table: String) = new Path(s"$bronzeDir/${table}_cdc/cdc.json")

  private def fs(spark: SparkSession) =
    new Path(bronzeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val CdcValue = """.*"cdc"\s*:\s*"([^"]*)".*""".r

  /** S2 — watermark lookup. None when no run has committed yet. A
    * `cdc.json` that exists but does not parse is a torn or corrupt
    * watermark: reading on from the initial watermark would re-ingest
    * (duplicate) all of bronze, so it fails by name instead. */
  def read(spark: SparkSession, table: String): Option[String] = {
    val p = file(table)
    MetaIO.read(fs(spark), p).map { text =>
      text.linesIterator.mkString(" ") match {
        case CdcValue(v) => v
        case _ => throw new IllegalStateException(s"watermark file $p exists but does " +
          "not parse; rebuild it from bronze with WatermarkStore.recover and write " +
          "the result back before the next ingest")
      }
    }
  }

  /** K2 — replace the watermark (the reference overwrites the same
    * cdc.json each run), crash-safe through [[MetaIO.replace]]: a crash
    * never leaves a torn watermark. */
  def write(spark: SparkSession, table: String, value: String): Unit =
    MetaIO.replace(fs(spark), file(table), s"""{"cdc": "$value"}""")

  /** Disaster path: cdc.json is lost but bronze survives — rebuild the
    * watermark as max(cdcCol) over EVERY bronze increment of the table.
    * Runs on a child session with the v2 parquet reader + aggregate
    * pushdown: for column types the reader can answer from row-group
    * footer statistics (numeric / date watermarks), the MAX is
    * O(increment files) metadata reads with no data pages — at a 100 TB
    * bronze the difference between a metadata sweep and a full scan.
    * Timestamp columns are outside Spark's pushdown support, so they
    * fall back to a column-pruned scan of just the cdc column (still no
    * full-row reads). The spec pins `PushedAggregation: [MAX(...)]` for
    * the numeric case and recovered-value equality for both. */
  def recover(spark: SparkSession, table: String, cdcCol: String): Option[String] = {
    val dir = new Path(s"$bronzeDir/$table")
    if (!fs(spark).exists(dir)) return None
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val df = s2.read.parquet(s"$bronzeDir/$table/*")
    val cdcType = df.schema(cdcCol).dataType
    val row = df.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col(cdcCol))).head()
    if (row.isNullAt(0)) None
    else Some(IncrementalIngest.formatCdcValue(cdcType, row.get(0)))
  }
}
