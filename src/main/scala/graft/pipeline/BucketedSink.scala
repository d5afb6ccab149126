package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** The one writer of both jobs' bucketed tables (`docs/`, `curated/`): a
  * REBALANCE on `bucket`, then a `partitionBy("bucket")` parquet write.
  *
  * REBALANCE hashes each bucket to one writer task, so a bucket is one file
  * at small scale, and AQE sizes the writers by bytes at any scale: it
  * coalesces small partitions and splits one larger than
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` across several tasks
  * (`OptimizeSkewInRebalancePartitions`), so a hot bucket needs no
  * hand-rolled salt. `tasks` > 0 is the initial partition count of the
  * REBALANCE; 0 takes the session's shuffle partitions. */
private[pipeline] object BucketedSink {

  def write(df: Dataset[_], path: String, tasks: Int = 0,
      dynamicOverwrite: Boolean = false): Unit = {
    val placed =
      if (tasks > 0) df.hint("rebalance", tasks, col("bucket"))
      else df.hint("rebalance", col("bucket"))
    val writer = placed.write.mode("overwrite")
    // dynamic overwrite replaces only the partitions this write touches
    // (ExtractJob's resume); the default replaces the whole table
    (if (dynamicOverwrite) writer.option("partitionOverwriteMode", "dynamic")
     else writer).partitionBy("bucket").parquet(path)
  }
}
