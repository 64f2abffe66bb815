package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write-path layout optimization — the OPTIMIZE ZORDER BY step as a
  * utility: compute the Morton key of two scan-predicate columns
  * (the native `zorder_key` kernel), range-partition
  * into the target file count, sort within each partition, and write.
  * Each parquet file then covers a small tile of the (x, y) plane, so
  * row-group/zone-map statistics prune scans filtered on EITHER column —
  * a single-column sort gives that for one column and nothing for the
  * other (LayoutSpec measures both layouts against REAL written files).
  *
  * Scale notes: the key is one codegen'd projection; repartitionByRange
  * samples the key distribution (one extra pass over the keys, not the
  * payload) and produces evenly-sized files regardless of skew in x or
  * y; the sort is per-partition (no global sort barrier).
  */
object LayoutOps {

  /** Z-order `df` by the low `bits` of two integral columns and write
    * `numFiles` parquet files at `path`. Callers quantize non-integral
    * dimensions first (e.g. bucketed timestamps, scaled decimals). */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String,
      numFiles: Int, path: String, bits: Int = 16): Unit = {
    import org.apache.spark.sql.graft.functions.zorder_key
    df.withColumn("__zkey", zorder_key(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
