package org.apache.spark.sql.graftshims

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Local checkpoint of `df` compiled under session-conf overrides,
  * without touching the caller's session: the analyzed plan is compiled
  * and checkpointed in a `cloneSession()` carrying `overrides`, and the
  * resulting `LogicalRDD` is rebound to the caller's session, so plans
  * built on the result belong to the caller, never to the clone. Spark's
  * CacheManager compiles cached plans the same way (a clone with AQE
  * forced off).
  *
  * Why a clone and not `SQLConf.withExistingConf`: InsertAdaptiveSparkPlan
  * reads `session.sessionState.conf` directly, so a thread-local conf
  * still yields an AdaptiveSparkPlanExec. Concurrent callers never
  * observe each other's overrides — each compile owns its clone.
  */
object ClonedCheckpoint {
  def localCheckpoint(df: DataFrame, overrides: Map[String, String],
      eager: Boolean): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val caller = ds.sparkSession
    val compileIn = caller.cloneSession()
    overrides.foreach { case (k, v) => compileIn.conf.set(k, v) }
    val cp = Dataset.ofRows(compileIn, ds.queryExecution.analyzed)
      .localCheckpoint(eager).logicalPlan.asInstanceOf[LogicalRDD]
    // checkpoint stats and constraints carry over as-is (an absent one
    // reads back as the same default the rebound node would compute)
    Dataset.ofRows(caller,
      cp.copy()(caller, Some(cp.computeStats()), Some(cp.constraints)))
  }
}
