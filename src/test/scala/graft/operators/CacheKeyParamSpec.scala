package graft.operators

import graft.SparkTestBase

/** Fixture-derived artifacts that take a parameter cache on it: a later
  * call with another `buckets` / `lgK` on the same fixture generation gets
  * its own artifact, not the first call's.
  */
class CacheKeyParamSpec extends SparkTestBase {

  test("rangeLayoutDir keys on buckets") {
    assert(LayoutOps.rangeWriteStats(t).head().getAs[Boolean]("n_files_in_bound"))
    val narrow = LayoutOps.rangeWriteStats(t, 4).head()
    assert(narrow.getAs[Boolean]("n_files_in_bound"),
      "buckets = 4 served the default 8-bucket layout")
    assert(LayoutOps.rangeLayoutDir(t, 4) != LayoutOps.rangeLayoutDir(t))
  }

  test("hllSketchTableDir keys on lgK") {
    assert(CoreQueries.sketchHllPersisted(t).head().getAs[Boolean]("storage_lossless"))
    val small = CoreQueries.sketchHllPersisted(t, 10).head()
    assert(small.getAs[Boolean]("storage_lossless"),
      "lgK = 10 served the default lgK = 12 sketch table")
  }
}
