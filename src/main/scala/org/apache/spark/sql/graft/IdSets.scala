package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.LongType

/** Membership in a driver-side id set. */
object IdSets {
  /** `c IN (ids)`, `c` read as a long, built as the `InSet` that Spark's
    * optimizer makes of a long literal list (`OptimizeIn`), without a
    * literal expression per id: `isin` over a few thousand ids costs
    * about as much to analyze and optimize as the scan it filters. The
    * generated code reads the set through a reference, so it does not
    * change with the ids and is compiled once. Null semantics are those
    * of `isin`.
    */
  def isIn(c: Column, ids: Set[Long]): Column =
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c.cast(LongType)), ids.asInstanceOf[Set[Any]]))
}
