package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function formulation of `graft_l2norm`, kept in the
  * tests as the oracle the codegen'd expression must match bit for bit,
  * beside [[HofTextFunctions]].
  */
object HofVectorFunctions {
  def l2NormHof(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
}
