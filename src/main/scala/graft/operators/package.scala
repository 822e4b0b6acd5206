package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit, round}

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

  /** A non-negative double rounded to 6 dp the way the DuckDB oracle's
    * `round(x, 6)` does it: round(x·1e6)/1e6 on the double product.
    * Spark's `round(x, 6)` instead rounds the decimal form of x half-up,
    * so the two differ when x·1e6 sits within an ulp below a .5: an
    * exact micro-sum of 8202803 over 2 tokens is 4101401.5, whose
    * double quotient prints 4.1014015 (Spark: 4.101402) while its
    * product with 1e6 is 4101401.4999999995 (DuckDB: 4.101401).
    */
  private[graft] def round6(x: Column): Column =
    floor(x * 1000000.0 + 0.5) / 1000000.0 + lit(0.0)
}
