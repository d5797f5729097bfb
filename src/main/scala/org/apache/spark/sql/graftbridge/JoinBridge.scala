package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Spark keeps one join-strategy hint internal: `NO_BROADCAST_HASH`,
  * which adaptive execution sets on a join side it must not broadcast.
  * This bridge (same package-namespace pattern as [[ColumnBridge]]) lets
  * an operator set it on a join input. The input is then never the
  * broadcast side, while the other side still broadcasts when it is
  * small enough: unlike a `broadcast` hint on the other side, it forces
  * no broadcast. No Spark internals are modified.
  */
object JoinBridge {

  /** `df`, marked never to be the broadcast side of a join it feeds. */
  def noBroadcast(df: DataFrame): DataFrame =
    Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession],
      ResolvedHint(df.queryExecution.logical, HintInfo(Some(NO_BROADCAST_HASH))))
}
