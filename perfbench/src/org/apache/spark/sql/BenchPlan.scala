package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Reads a sub-plan out of a DataFrame an entry point built, and wraps it
  * as a DataFrame of its own, so a layer inside one engine call can be
  * timed on exactly the plan that call executes. (`Dataset.ofRows` is
  * package-private to Spark.)
  */
object BenchPlan {
  /** The first sub-plan of `df`'s analyzed plan (pre-order) that `pick`
    * selects, as a DataFrame; None when no node matches.
    */
  def subFrame(df: DataFrame)(pick: PartialFunction[LogicalPlan, LogicalPlan]): Option[DataFrame] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.analyzed.collectFirst(pick)
      .map(classic.Dataset.ofRows(ds.sparkSession, _))
  }
}
