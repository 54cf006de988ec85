package graft

/** The per-JVM checkpoint memo behind the kg_* queries. */
class SparkEntrySpec extends SparkTestBase {

  test("checkpoint memo: a build that throws is rebuilt on the next call, not replayed") {
    val key = s"memo_retry_${System.nanoTime()}"
    var builds = 0
    def build() = {
      builds += 1
      if (builds == 1) throw new IllegalStateException("transient build failure")
      (spark.range(3).toDF("id"), () => ())
    }
    // the caller sees the build's own exception, not the FutureTask wrapper
    val e = intercept[IllegalStateException](SparkEntry.checkpointedBuild(spark, key)(build()))
    assert(e.getMessage == "transient build failure")
    val df = SparkEntry.checkpointedBuild(spark, key)(build())
    assert(df.count() == 3L)
    assert(builds == 2)
    // a successful build IS memoized
    SparkEntry.checkpointedBuild(spark, key)(build())
    assert(builds == 2)
  }
}
