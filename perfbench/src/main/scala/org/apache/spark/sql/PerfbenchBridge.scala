package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Access to `private[spark]`/`private[sql]` members the benchmark needs:
  * draining the asynchronous listener bus before counters are read, and
  * turning the rows a forced `toRdd` produced back into a DataFrame so the
  * output check runs on the very rows that were timed, without executing
  * the query a second time. */
object PerfbenchBridge {
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def frameOf(df: DataFrame, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      LocalRelation(df.queryExecution.analyzed.output, rows))
}
