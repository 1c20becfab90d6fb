package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<float|double>` embeddings
  * (SURVEY.md §2.10 L3 / §2.7 F5).
  *
  * Built from codegen'd higher-order functions (`zip_with` + `aggregate`) —
  * no UDFs, so Catalyst sees through the expressions. Accumulation is
  * sequential left-to-right in double precision, matching DuckDB's
  * `list_inner_product` on `DOUBLE[]` so cosine values hash-match after
  * rounding.
  */
object VectorOps {

  /** Widen array<float> to array<double> (same widening DuckDB applies on
    * `::DOUBLE[]`), so both engines do identical double arithmetic. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Native codegen dot product ([[VectorExpressions.dot]]); bit-for-bit
    * equal to [[dotHof]] (same sequential accumulation order). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot(a, b)

  /** Reference HOF implementation (interpreted lambdas; kept for the
    * equality test and as the no-custom-expression fallback). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(norm2(a))

  /** The one cosine of every vector path: a dot product over the product
    * of its two vectors' precomputed norms `na` and `nb`, NULL for a zero
    * divisor in both ANSI modes (a zero-norm vector has no direction), as
    * DuckDB's oracle and Spark's non-ANSI division give it, -0.0 and NaN
    * included. A NULL cosine ranks last under DESC and never passes a
    * `>=` threshold. */
  def cosine(dot: Column, na: Column, nb: Column): Column = try_divide(dot, na * nb)
}
