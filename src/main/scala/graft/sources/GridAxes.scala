package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Shared scan-count helpers for the gridded sinks (optimization round,
  * guide §1.2/§2.4): the writers used to launch one `distinct().collect()`
  * job PER dimension plus a `count()` job, each re-running the caller's
  * (typically aggregated) input plan from scratch — rank + 1 full input
  * passes before the write pass even started. One aggregation job returns
  * every sorted axis and the row count together; the driver-side data
  * stays axis-sized.
  */
private[sources] object GridAxes {

  /** All per-dim sorted distinct axes + the total row count in ONE job. */
  def axesAndCount(df: DataFrame, dimCols: Seq[String]): (Seq[Array[Double]], Long) = {
    val aggs = dimCols.map(d => collect_set(col(d))) :+ count(lit(1))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    (dimCols.indices.map(i => row.getSeq[Double](i).toArray.sorted),
      row.getLong(dimCols.length))
  }

  /** Run `body` with `df` persisted unless the caller already persisted it:
    * the sinks read their input twice (axis/count pass + write pass), and
    * the input is usually a small aggregated grid whose upstream plan is
    * the expensive part.
    */
  def withPersisted[A](df: DataFrame)(body: => A): A = {
    val own = df.storageLevel == StorageLevel.NONE
    if (own) df.persist(StorageLevel.MEMORY_AND_DISK)
    try body
    finally if (own) df.unpersist(false)
  }
}
