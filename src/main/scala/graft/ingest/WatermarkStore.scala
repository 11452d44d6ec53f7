package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

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

  private def tmpFile(table: String) = new Path(s"$bronzeDir/${table}_cdc/cdc.json.tmp")

  /** S2 — watermark lookup. None when no run has committed yet. A
    * `cdc.json` that exists but does not parse is a torn or corrupt
    * watermark: reading on from the initial watermark would re-ingest
    * (duplicate) all of bronze, so it fails by name instead. */
  def read(spark: SparkSession, table: String): Option[String] = {
    val f = fs(spark)
    val p = file(table)
    // a crash between `write`'s delete and rename leaves only the complete
    // tmp: adopt it, as the table pointer flip does
    if (!f.exists(p) && f.exists(tmpFile(table))) f.rename(tmpFile(table), p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      text.linesIterator.mkString(" ") match {
        case CdcValue(v) => Some(v)
        case _ => throw new IllegalStateException(s"watermark file $p exists but does " +
          "not parse; rebuild it from bronze with WatermarkStore.recover and write " +
          "the result back before the next ingest")
      }
    }
  }

  /** K2 — replace the watermark (the reference overwrites the same
    * cdc.json each run). Atomic: the value is written to a tmp file, then
    * renamed over `cdc.json`, so a crash never leaves a torn watermark. */
  def write(spark: SparkSession, table: String, value: String): Unit = {
    val f = fs(spark)
    val p = file(table)
    val tmp = tmpFile(table)
    f.mkdirs(p.getParent)
    val out = f.create(tmp, true)
    try out.write(s"""{"cdc": "$value"}""".getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new IllegalStateException(s"watermark file $p: rename from $tmp failed")
  }

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
