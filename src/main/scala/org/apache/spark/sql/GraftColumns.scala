package org.apache.spark.sql

import org.apache.spark.sql.classic.ExpressionUtils

import _root_.graft.plans.{FixedDotProduct, GopherStats, Md5Long56, MinhashSig}

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
  import ExpressionUtils.{column, expression}

  /** `fp_dot(a, b)`, the exact long dot product of two fixed-point
    * vectors: see [[FixedDotProduct]]. */
  def fpDot(a: Column, b: Column): Column =
    column(FixedDotProduct(expression(a), expression(b)))

  /** `gopher_stats(text)`: see [[GopherStats]]. */
  def gopherStats(text: Column): Column = column(GopherStats(expression(text)))

  /** `md5_long56(c)`, the engine-portable 56-bit md5 prefix of a string:
    * see [[Md5Long56]]. */
  def md5Long56(c: Column): Column = column(Md5Long56(expression(c)))

  /** `minhash_sig(text, bands)`, a document's banded MinHash signature:
    * see [[MinhashSig]]. */
  def minhashSig(text: Column, bands: Int): Column =
    column(MinhashSig(expression(text), bands))
}
