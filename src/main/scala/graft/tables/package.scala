package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

package object tables {

  /** A join view is a one-dimension [[MaterializedStarAggView]] (see the
    * companion `MaterializedJoinAggView.create`). */
  type MaterializedJoinAggView = MaterializedStarAggView

  /** View-kind dispatch for the kind-agnostic surfaces (query form, ALTER
    * … REWRITE, VACUUM, pipeline refresh): true when `root` holds a
    * single-table [[MaterializedAggView]] spec. Every other root opens as
    * a star view, whose spec read names what it finds instead. */
  private[graft] def isSingleTableView(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, "_mv")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
