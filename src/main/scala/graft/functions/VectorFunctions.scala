package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, written with
  * higher-order functions (`zip_with`/`aggregate`) so the arithmetic stays
  * codegen-native — no UDF, no ML-Vector conversion on the hot path.
  *
  * All math is done in double precision after an explicit elementwise cast:
  * float accumulation order differences would otherwise make results
  * partition-layout dependent.
  */
object VectorFunctions {

  /** Elementwise cast array<float> → array<double>. */
  def toDoubleArr(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via the codegen'd [[graft.plans.DotProduct]] expression —
    * requires [[graft.plans.GraftExtensions]] on the session (all engine
    * entry points register it). Same IEEE fold order and null semantics as
    * [[dotHof]]; the HOF twin runs interpreted (CodegenFallback) and exists
    * for extension-less sessions and as the equivalence-test oracle.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def l2Norm(v: Column): Column = call_function("graft_l2norm", v)

  /** Built-in-only formulation (no session extension needed). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two double arrays; 0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }

  /** Sign-bit LSH bucket over the first `bits` dimensions: a deterministic,
    * data-independent random-hyperplane surrogate (axis-aligned planes).
    * Equal bucket ⇒ ANN candidate. Cheap to express in the SQL oracle too.
    */
  def signBucket(v: Column, bits: Int): Column =
    concat_ws(
      "",
      (0 until bits).map(i => when(element_at(v, i + 1) >= 0.0, "1").otherwise("0")): _*)
}
