package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}

/** Bridge to Spark's internal NO_BROADCAST_HASH join hint (the hint AQE's
  * DemoteBroadcastHashJoin sets; it has no SQL or `Dataset.hint` name).
  *
  * Why it exists: when both sides of an equi-join are planned as shuffles
  * (default statistics) and turn out small at runtime, AQE re-plans after
  * EACH finished stage and broadcasts whichever side it has measured
  * first — so the chosen build side, and with it the number of stages and
  * jobs, follows stage finish order. Marking the side that must never be
  * the build side leaves AQE one choice, made the same way in every run.
  */
object GraftJoinHints {
  /** `df` as a join side that is never broadcast. Put it directly on the
    * join input: the hint is lifted through unary operators onto the
    * nearest join, so a frame that also feeds the other side's aggregate
    * must be hinted only where it enters the join. */
  def noBroadcast(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.Dataset.ofRows(cs,
      ResolvedHint(df.queryExecution.logical, HintInfo(strategy = Some(NO_BROADCAST_HASH))))
  }
}
