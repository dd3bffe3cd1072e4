package graft.core

import org.apache.spark.sql.Dataset

/** The driver-bound policy of the dimension-side fast paths: a dimension
  * (the KB tables, the KB closure, the alias graph) is brought to the
  * driver only when it has at most `bound` rows. The size guard is folded
  * into the collect itself (`limit(bound + 1)`, then check the length):
  * one job, not a count() followed by a collect(), and a table 100× the
  * bound costs bound + 1 rows of driver memory instead of an OOM. */
object DriverBound {

  /** All rows of `ds` when there are at most `bound` of them, else None
    * (also None when `bound` ≤ 0, the fast paths' "off" value). */
  def collect[T](ds: Dataset[T], bound: Long): Option[Array[T]] =
    if (bound <= 0) None
    else {
      val rows = ds.limit(math.min(bound, Int.MaxValue - 2L).toInt + 1).collect()
      if (rows.length > bound) None else Some(rows)
    }
}
