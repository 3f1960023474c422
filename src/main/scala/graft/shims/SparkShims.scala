package org.apache.spark.sql.graftshims

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic Column <-> Expression converters and session
  * cloning, which are private[sql] in Spark 4. Lives under
  * org.apache.spark.sql.* for access; keep this the only file that
  * does.
  */
object SparkShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A copy of `s`'s session state (conf, temp views, functions) over
    * the same SparkContext and cache: conf set on the copy never
    * reaches `s`.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `s`, so its actions are
    * planned under `s`'s conf.
    */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
