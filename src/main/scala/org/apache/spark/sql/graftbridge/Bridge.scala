package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for custom Catalyst expressions.
  * Spark 4 made these conversions private[sql]; extensions conventionally
  * reach them from inside the org.apache.spark.sql package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Free the block-manager storage behind a localCheckpoint()ed Dataset.
    * graft.ckpt.RoundLoop, the round loop of PageRank and connected
    * components, frees each round's cut with it once the next round has
    * materialized; left cached, the blocks fill the block manager and
    * mid-job rounds degrade 10-20x (bimodal 2s/45s CC rounds).
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    df match {
      case c: org.apache.spark.sql.classic.Dataset[_] =>
        c.queryExecution.analyzed.foreach {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false); ()
          case _ => ()
        }
      case _ => ()
    }

  /** Register a Catalyst expression builder as a SQL function on an
    * ALREADY-RUNNING session (the extensions path, graft.functions
    * .GraftExtensions, only applies at session construction via
    * spark.sql.extensions; a library embedded in someone else's session
    * needs the in-place hook). sessionState is private[sql] — reached
    * from inside the package like the Column/Expression seams above. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    spark match {
      case s: org.apache.spark.sql.classic.SparkSession =>
        s.sessionState.functionRegistry.registerFunction(
          FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.GraftExtensions", name),
          builder)
      case other => throw new UnsupportedOperationException(
        s"classic SparkSession required, got ${other.getClass.getName}")
    }
  }

  /** Drain the async listener bus so SparkListener-accumulated metrics
    * (e.g. the benchmark's per-trial executorCpuTime sum) are complete
    * before they are read. listenerBus is private[spark]; this package
    * lives inside org.apache.spark for exactly these seams. */
  def flushListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(5000)
    catch { case _: Throwable => () }
}
