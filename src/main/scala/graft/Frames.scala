package graft

import org.apache.spark.sql.DataFrame

private[graft] object Frames {

  /** `df` collected to the driver and re-created as a LocalRelation. For
    * results bounded by their shape (one row per source, per window and
    * source, or per source pair): the returned frame does not recompute
    * lazily, so the caller may release what the query persisted, and it
    * carries no memory-sink lineage, whose view Spark's self-join attribute
    * dedup does not handle (INTERNAL_ERROR: conflicting references). */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
}
