package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

package object tables {

  /** A join view is a one-dimension [[MaterializedStarAggView]] (see the
    * companion `MaterializedJoinAggView.create`). */
  type MaterializedJoinAggView = MaterializedStarAggView

  /** The view at `root` as the kind its spec file names, for the
    * kind-agnostic surfaces (query form, ALTER … REWRITE, VACUUM, pipeline
    * refresh): a `_mv` spec opens a single-table [[MaterializedAggView]];
    * every other root opens as a star view, whose spec read names what it
    * finds instead. */
  private[graft] def openView(spark: SparkSession, root: String): MaterializedView = {
    val p = new Path(root, "_mv")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      new MaterializedAggView(root)
    else new MaterializedStarAggView(root)
  }
}
