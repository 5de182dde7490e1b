package graft.ml

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** The orders price pipeline's one multi-column indexer fit against the
  * reference's per-column loop on the sf0.001 fixture: same labels, same
  * (features, label) rows.
  */
class PricePipelineIndexerSpec extends SparkTestBase {

  test("orders: one multi-column indexer fit equals the per-column loop") {
    val base = PricePipeline.baseFrame(t).cache()
    try PerColumnIndexing.assertMatches(base, PricePipeline.numericCols,
      PricePipeline.stringCols, col(PricePipeline.labelCol),
      PricePipeline.indexAndAssemble(base, PricePipeline.numericCols,
        PricePipeline.stringCols, col(PricePipeline.labelCol)))
    finally { base.unpersist(); () }
  }
}
