package graft

/** Cache lifetimes of the queries built on the shared raster kernels. */
class RasterSpec extends SparkSpec {

  test("q63 bilinear leaves nothing in the cache") {
    // the corner joins read the cell means without a persist; one that
    // nothing unpersists would outlive the query in a long-lived session
    spark.sharedState.cacheManager.clearCache()
    val rows = SparkEntry.queries("q63_resample_bilinear")(spark, sf).collect()
    assert(rows.nonEmpty, "empty result would vacuously pass")
    assert(spark.sharedState.cacheManager.isEmpty,
      "q63 left a cached frame behind")
  }
}
