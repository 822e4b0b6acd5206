package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The corpus replica transform of [[SynthScale]] and the
  * jittered-replica recall spec. Replica i shifts keys by i·offset (FK
  * pairs by the same offset, so join structure replicates), moves text to
  * its own token space (no token or shingle shared across replicas, so
  * the duplicate rate stays the base corpus's instead of exploding k²),
  * and jitters embeddings by a deterministic integer delta each caller
  * scales in its own precision. Offsets, and whether replica 0 is
  * perturbed, stay with the call sites: they fix the k× fixtures that
  * SCALING.md and the sf1 sweep run on.
  */
object Replicas {
  /** Two-letter replica tag: aa, ba, …, za, ab, … */
  def tag(i: Int): String =
    ('a' + i % 26).toChar.toString + ('a' + i / 26).toChar

  def shift(key: Column, i: Int, offset: Long): Column = key + lit(i * offset)

  /** Every `[a-z]+` token suffixed with `x` + [[tag]]`(i)`. */
  def disjointText(text: Column, i: Int): Column =
    regexp_replace(text, "([a-z]+)", s"$$1x${tag(i)}")

  /** In [-1000, 1000]; ÷20000 gives ±0.05 jitter for element j. */
  def jitterDelta(id: Column, i: Int, j: Column): Column =
    pmod(hash(id, lit(i), j), lit(2001)) - lit(1000)

  def union(k: Int)(replica: Int => DataFrame): DataFrame =
    (0 until k).map(replica).reduce(_ unionAll _)
}
