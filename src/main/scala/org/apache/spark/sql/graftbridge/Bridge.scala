package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge: Spark 4 made these converters
  * private[sql], so third-party native Expressions need a shim inside
  * the org.apache.spark.sql package tree (the established pattern for
  * Spark-native extension libraries). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unpersist the RDD backing an (eager) `localCheckpoint` Dataset.
    * `Dataset.unpersist` goes through the CacheManager and does NOT
    * touch checkpoint RDDs.
    *
    * Lifetime without this call: a checkpoint stays persisted while any
    * frame derived from it is reachable; once none is, Spark's
    * ContextCleaner unpersists it at the next driver GC. Every operator
    * that checkpoints internally and returns a lazy result relies on
    * that. Call this only to free a checkpoint early, and only
    * after the terminal action on every frame derived from it —
    * released partitions recompute from an EMPTY lineage. Returns false
    * when the plan isn't a checkpoint LogicalRDD (nothing to release). */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.Dataset[_]): Boolean =
    df match {
      case cd: org.apache.spark.sql.classic.Dataset[_] =>
        cd.queryExecution.logical match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false); true
          case _ => false
        }
      case _ => false
    }
}
