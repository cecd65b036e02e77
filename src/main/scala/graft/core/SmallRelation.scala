package graft.core

import org.apache.spark.sql.DataFrame

/** The one size gate for operators that can run a whole relation inside a
  * single task: true when the inputs' summed optimized-plan size estimate
  * is at most both the session's `spark.sql.autoBroadcastJoinThreshold`
  * (which must be positive, i.e. broadcasting enabled) and the caller's
  * `maxBytes` — the size up to which its one-task kernel was measured to
  * beat its distributed plan. The threshold lets a session turn the
  * one-task branch down or off; the kernel's ceiling keeps a session that
  * raises the threshold for its joins from sending a large corpus into
  * one task, since a one-task kernel does all the probe-side work in one
  * thread where a broadcast join spreads it.
  *
  * Decides from plan statistics alone: it runs no job and builds no RDD,
  * and it adds no setting of its own. */
object SmallRelation {

  def fits(maxBytes: Long, dfs: DataFrame*): Boolean = {
    require(dfs.nonEmpty, "SmallRelation.fits: no inputs")
    val threshold = dfs.head.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      dfs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <=
        BigInt(math.min(threshold, maxBytes))
  }
}
