package graft.queries

import graft.SparkTestBase

class Par2Spec extends SparkTestBase {

  test("par2 rethrows the first failure at once and cancels the sibling's job") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Queries.par2(
        { Thread.sleep(200); throw new IllegalStateException("first") },
        sc.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }.count())
    }
    assert(e.getMessage == "first")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 15, s"par2 took $secs s to surface the failure")
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }
}
