package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge: `ExpressionUtils` (Column <-> Catalyst Expression) is
  * `private[sql]` in Spark 4, so custom native expressions need a shim
  * inside the `org.apache.spark.sql` package tree to be wrapped as
  * user-facing `Column`s. No Spark internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Pre-analysis simple-aggregate recognizer over the Spark-4
    * ColumnNode shape (`Column.node` and the node classes are
    * `private[sql]`, hence this lives in the bridge): a Column built
    * by `functions.sum/count/avg/min/max(arg)` — optionally aliased,
    * not distinct — yields Some((arg, op)); anything else None. Lets
    * engine code (VxFrame's dense binby lowering) decide on a fast
    * path without forcing analysis. */
  def simpleAgg(c: Column): Option[(Column, String)] = {
    import org.apache.spark.sql.internal.{Alias, UnresolvedFunction}
    val node = c.node match {
      case a: Alias => a.child
      case other => other
    }
    node match {
      // count(col("*")) builds an UnresolvedStar argument: the analyzer
      // rewrites it under a plain aggregate, but a star embedded in the
      // dense path's when(arg.isNotNull, ...) guard fails analysis —
      // reject it here so callers stay on the hash path
      case u: UnresolvedFunction
          if !u.isDistinct && u.arguments.length == 1 &&
            !u.arguments.head.isInstanceOf[
              org.apache.spark.sql.internal.UnresolvedStar] =>
        val arg = Column(u.arguments.head)
        u.functionName.toLowerCase match {
          case "sum" => Some((arg, "sum"))
          case "count" => Some((arg, "count"))
          case "avg" | "mean" | "average" => Some((arg, "mean"))
          case "min" => Some((arg, "min"))
          case "max" => Some((arg, "max"))
          case _ => None
        }
      case _ => None
    }
  }
  /** Run `body` over `df` re-rooted into a CLONED session carrying
    * `confs` on top of the caller's settings. The clone shares the
    * SparkContext, catalog and cache but owns its SQLConf, so a write
    * needing e.g. `spark.sql.parquet.fieldId.write.enabled` never
    * toggles the user's session — a concurrent write on the original
    * session can neither observe nor clobber the flag (the previous
    * set/restore pattern raced it). `cloneSession`/`Dataset.ofRows`
    * are `private[sql]`, hence this lives in the bridge. */
  def withSessionConf[T](df: org.apache.spark.sql.DataFrame,
      confs: Map[String, String])(
      body: org.apache.spark.sql.DataFrame => T): T = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = cs.cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    body(org.apache.spark.sql.classic.Dataset.ofRows(clone,
      df.queryExecution.logical))
  }

  /** Parse SQL expression text to its (unresolved) catalyst tree —
    * `sessionState` is `private[sql]`, hence the bridge. Lets engine
    * code test for REAL attribute references in foreign expression
    * text (constraints, generation expressions) instead of regexing
    * over string literals and comments. */
  def parseExpression(spark: org.apache.spark.sql.SparkSession,
      text: String): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseExpression(text)

  /** A CLONED session carrying `confs` on top of `spark`'s settings —
    * for code that must BUILD its frames under the conf (a file
    * relation captures its creating session, so re-rooting the plan
    * afterwards cannot change what e.g. fieldId.read resolution the
    * scan uses). Same isolation rationale as [[withSessionConf]]. */
  def sessionWithConf(spark: org.apache.spark.sql.SparkSession,
      confs: Map[String, String]): org.apache.spark.sql.SparkSession = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = cs.cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** Re-tag a BATCH DataFrame's rows as a STREAMING micro-batch: the
    * V1 streaming `Source.getBatch` contract requires the returned
    * frame to carry isStreaming=true (MicroBatchExecution asserts
    * it), and `internalCreateDataFrame` is `private[sql]`. The batch
    * plan is materialized to its InternalRow RDD — planned once per
    * micro-batch, exactly the V1 source shape (Kafka's V1 source did
    * the same). */
  def asStreamingFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** `Decimal.toPrecision` is `private[sql]`: round/cap a decimal to
    * (precision, scale) with HALF_UP, returning null on overflow when
    * `nullOnOverflow`, else throwing the same SparkArithmeticException
    * CheckOverflow raises (used by the rolling block sum kernel to
    * follow Spark's ANSI overflow behavior). */
  def decimalToPrecision(d: org.apache.spark.sql.types.Decimal,
      precision: Int, scale: Int, nullOnOverflow: Boolean)
      : org.apache.spark.sql.types.Decimal =
    d.toPrecision(precision, scale,
      org.apache.spark.sql.types.Decimal.ROUND_HALF_UP, nullOnOverflow, null)

  /** A frame's analyzed logical plan, and a frame over a logical plan
    * (`Dataset.logicalPlan`/`ofRows` are `private[sql]`): how engine
    * operators put their own plan nodes into a query. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Adds `strategy` to a session whose planner lacks it — a session
    * built without [[graft.GraftExtensions]] (which injects it) could not
    * plan the engine's own logical nodes otherwise. */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.sessionState.planner.strategies.contains(strategy))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
  }

  /** Blocks until every listener event posted so far has been delivered
    * (`SparkContext.listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
