package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.Utils

/** Column ↔ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql]` (columnNodeSupport.scala); libraries that define native
  * Catalyst expressions access them via a package-located shim — the same
  * technique used by public Spark extension libraries. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Session bridge, through the same shim: `classic.Dataset.ofRows` is
  * `private[sql]`. */
object SessionBridge {
  /** `df`'s logical plan as a frame of session `home`: the same plan
    * over the same rows, whose actions run in `home` (its conf and its
    * job-artifact state) instead of `df`'s own session. */
  def rehome(home: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(home.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)
}

/** Thread bridge, through the same shim: a context's per-thread job
  * properties are `private[spark]`. */
object ThreadBridge {
  /** `body`, to be run on another thread under the calling thread's
    * Spark job properties (job group, description, SQL execution ids),
    * as Spark's own `SQLExecution.withThreadLocalCaptured` carries them;
    * the running thread's own properties are restored afterwards. A
    * pool thread otherwise keeps what it inherited when it was created,
    * another caller's job group included. */
  def withCallerJobProperties[A](body: => A): () => A =
    SparkContext.getActive match {
      case None => () => body
      case Some(sc) =>
        val props = Utils.cloneProperties(sc.getLocalProperties)
        () => {
          val own = sc.getLocalProperties
          sc.setLocalProperties(props)
          try body finally sc.setLocalProperties(own)
        }
    }

  /** `body`, to be run on another thread under job properties of its
    * own: only job group `group`, described by the same name. Nothing of
    * the calling thread's properties is carried, so cancelling the
    * caller's group (a finished query's `runId`) does not reach it. */
  def withOwnJobGroup[A](group: String)(body: => A): () => A =
    SparkContext.getActive match {
      case None => () => body
      case Some(sc) =>
        () => {
          val own = sc.getLocalProperties
          sc.setLocalProperties(new java.util.Properties)
          sc.setJobGroup(group, group, interruptOnCancel = false)
          try body finally sc.setLocalProperties(own)
        }
    }
}
