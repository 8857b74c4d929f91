package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/** The round-3 lineage barrier, kept for the plan tests that show what
  * [[GraftLineage.barrier]] fixes: it rewraps the checkpoint's
  * block-holding RDD with `internalCreateDataFrame`, which builds a
  * `LogicalRDD` with `UnknownPartitioning`, so a loop that joins the
  * barrier'd table re-shuffles it every iteration. */
object Round3Barrier {
  def apply(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rdd = cp.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .getOrElse(throw new IllegalStateException("localCheckpoint without a LogicalRDD"))
    cp.sparkSession.internalCreateDataFrame(rdd, cp.schema, isStreaming = false)
  }
}
