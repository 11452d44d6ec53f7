package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Files the EXECUTED scans of a frame actually read — the planner's
  * `listFiles` output after data skipping, summed over every parquet scan
  * in the plan (adaptive stages included). A predicate the optimizer folds
  * to an empty relation plans no scan and counts as 0 files.
  * `Dataset.inputFiles` is no substitute: on a `readIndexed` frame it
  * lists every file of the version, pruned or not. */
object ScannedFiles extends AdaptiveSparkPlanHelper {
  def scannedFiles(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }
}
