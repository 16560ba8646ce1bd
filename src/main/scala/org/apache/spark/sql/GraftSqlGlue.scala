package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The `private[sql]` Spark internals graft needs, behind one shim.
  *
  * `classic.ExpressionUtils` is `private[sql]` in Spark 4, so a library
  * that builds `Column`s from its own `Expression`s needs this one-file
  * shim in the `org.apache.spark.sql` package — the standard pattern
  * used by Spark-extension libraries. `cloneSession` is `private[sql]`
  * too; [[graft.queries.withConf]] runs each per-query conf on a clone.
  * Nothing else lives here.
  */
object GraftSqlGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A child of `s` that starts from every conf `s` holds (runtime-set
    * ones included, which `newSession()` drops), its temp views and its
    * extra optimizer rules, and shares its SparkContext and cache. Conf
    * changes, temp views, rules, catalogs and streams made on the child
    * stay on the child. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
