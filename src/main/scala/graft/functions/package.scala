package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.graftshim.GraftColumns

package object functions {

  /** SQL `a DIV b`: exact integer division of BIGINT or DECIMAL
    * operands, where `/` would round through DOUBLE or a scaled
    * DECIMAL.
    */
  private[graft] def intDiv(a: Column, b: Column): Column =
    GraftColumns.ofExpr(IntegralDivide(GraftColumns.exprOf(a), GraftColumns.exprOf(b)))

  /** [[BottomK]] over `(Long, Long, Long)` triples in tuple order: a
    * posting list's head (q92) or a per-source bottom-k sample (q201,
    * q207).
    */
  type BottomKTriples[IN] = BottomK[IN, (Long, Long, Long)]
}
