package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 moved the conversion
  * behind `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils,
  * columnNodeSupport.scala); custom native expressions still need it, so
  * this shim lives in the sql namespace. No Spark internals are modified. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** True when the column is statically `lit(false)` — used to skip plan
    * branches whose conditions are off. Spark 4 columns wrap LAZY
    * ColumnNodes (`expression(lit(false))` is a ColumnNodeExpression, not
    * a catalyst Literal), so the check has to look at the node. */
  def isLiteralFalse(c: Column): Boolean = c.node match {
    case l: org.apache.spark.sql.internal.Literal => l.value == false
    case e: org.apache.spark.sql.classic.ExpressionColumnNode => e.expression match {
      case lit: org.apache.spark.sql.catalyst.expressions.Literal => lit.value == false
      case _ => false
    }
    case _ => false
  }

  /** Spark 4 moved `cloneSession()` off the public SparkSession interface
    * onto the classic implementation; session-scoped conf (e.g. parquet
    * field-id reads) needs it. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** DDL partition transform -> (column, graft transform string). The
    * concrete Transform case classes (IdentityTransform, DaysTransform,
    * BucketTransform, ...) are `private[sql]`, so the decomposition has
    * to live in the sql namespace. Throws on transforms graft's
    * partition model has no equivalent for. */
  def decomposeTransform(tr: org.apache.spark.sql.connector.expressions.Transform): (String, String) = {
    import org.apache.spark.sql.connector.expressions._
    def name(r: NamedReference): String = {
      require(r.fieldNames.length == 1,
        s"nested partition column ${r.fieldNames.mkString(".")} is not supported")
      r.fieldNames.head
    }
    tr match {
      case IdentityTransform(r) => (name(r), "identity")
      case YearsTransform(r) => (name(r), "year")
      case MonthsTransform(r) => (name(r), "month")
      case DaysTransform(r) => (name(r), "day")
      case HoursTransform(r) => (name(r), "hour")
      case BucketTransform(n, cols, sorted) =>
        require(cols.length == 1 && sorted.isEmpty,
          "multi-column / sorted bucket is not supported")
        (name(cols.head), s"bucket[$n]")
      // truncate(W, col) — Iceberg also accepts truncate(col, W)
      case ApplyTransform(fn, args) if fn.equalsIgnoreCase("truncate") && args.length == 2 =>
        def intOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Int] = e match {
          case LiteralValue(v: Number, _) => Some(v.intValue)
          case _ => None
        }
        (args(0), args(1)) match {
          case (w, r: NamedReference) if intOf(w).nonEmpty => (name(r), s"truncate[${intOf(w).get}]")
          case (r: NamedReference, w) if intOf(w).nonEmpty => (name(r), s"truncate[${intOf(w).get}]")
          case _ => throw new IllegalArgumentException(
            s"truncate transform needs (width, column): $tr")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform: $other (identity, year/month/day/hour, " +
          "bucket(n), truncate(w, col) are supported)")
    }
  }

  /** The action name and `QueryExecution` a SQL execution's end event
    * carries (`private[sql]` fields, set for named Dataset actions of
    * every session, clones included); None for other executions. */
  def executionEnd(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[(String, org.apache.spark.sql.execution.QueryExecution)] =
    for (name <- e.executionName; qe <- Option(e.qe)) yield (name, qe)

  /** DataFrame over a logical plan (`Dataset.ofRows` went `private[sql]`
    * with the classic/connect split). The SQL front door's INSERT command
    * needs it to execute the parsed source query. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
