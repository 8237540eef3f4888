package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from
  * codegen-friendly higher-order functions.
  *
  * Determinism contract: `aggregate` folds left sequentially, so double
  * accumulation order is fixed — results are bit-identical to any other
  * engine that sums a double list in order (verified bit-exact against
  * DuckDB list_sum/list_transform on the full sf0.01 pair set). This is
  * what lets cosine thresholds participate in hash-exact oracles.
  */
object VectorOps {

  /** Sequential-order double sum of an array column. */
  def seqSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, v) => acc + v)

  def dot(a: Column, b: Column): Column =
    seqSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def normSq(a: Column): Column =
    seqSum(transform(a, x => x.cast("double") * x.cast("double")))

  /** cosine = dot / sqrt(na * nb) — one multiply, one sqrt, one divide,
    * in this exact order on both engines. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))
}
