package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.round

package object operators {

  /** A 2-dp monetary double as exact integer cents. x·100 is within
    * ~1e-9 of an integer (never at a .5 boundary), so HALF_UP rounding
    * is identical in both engines; all downstream arithmetic is
    * overflow-free long math — exact, order-independent, and (unlike
    * DECIMAL aggregation) pure primitive codegen with no per-row
    * allocation. Sums of 2-dp doubles are inexact; sums of their
    * cent-rounded longs are exact.
    */
  private[operators] def cents(c: Column): Column = round(c * 100).cast("long")
}
