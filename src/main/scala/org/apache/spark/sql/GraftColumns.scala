package org.apache.spark.sql

import org.apache.spark.sql.classic.ExpressionUtils

import _root_.graft.plans.GopherStats

/** Column factories for graft's native Catalyst expressions.
  *
  * An operator that builds the expression here gets a `Column` that works
  * on any SparkSession: nothing is looked up in the function registry, so
  * `GraftExtensions` (which registers the same expressions by name for SQL
  * text) is not needed. Lives in this package because Spark's
  * Expression-to-Column conversion (`classic.ExpressionUtils`) is private
  * to it.
  */
object GraftColumns {

  /** `gopher_stats(text)`: see [[GopherStats]]. */
  def gopherStats(text: Column): Column =
    ExpressionUtils.column(GopherStats(ExpressionUtils.expression(text)))
}
