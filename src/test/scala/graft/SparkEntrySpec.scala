package graft

import java.util.concurrent.atomic.AtomicInteger

/** The per-JVM memo behind the shared query artifacts, and the flagship
  * `entry` query. */
class SparkEntrySpec extends SparkTestBase {

  test("checkpoint memo: a build that throws is rebuilt on the next call, not replayed") {
    val key = s"memo_retry_${System.nanoTime()}"
    var builds = 0
    def build() = {
      builds += 1
      if (builds == 1) throw new IllegalStateException("transient build failure")
      spark.range(3).toDF("id")
    }
    // the caller sees the build's own exception, not the FutureTask wrapper
    val e = intercept[IllegalStateException](SparkEntry.checkpointed(spark, key)(build()))
    assert(e.getMessage == "transient build failure")
    val df = SparkEntry.checkpointed(spark, key)(build())
    assert(df.count() == 3L)
    assert(builds == 2)
    // a successful build IS memoized
    SparkEntry.checkpointed(spark, key)(build())
    assert(builds == 2)
  }

  test("memo: a failed in-memory build is retried, a successful one is kept") {
    val key = s"test:retry_${System.nanoTime()}"
    val builds = new AtomicInteger()
    def build(): Seq[Int] =
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("transient")
      else Seq(1, 2, 3)
    val e = intercept[IllegalStateException](SparkEntry.memoized(key)(build()))
    assert(e.getMessage == "transient")
    assert(SparkEntry.memoized(key)(build()) == Seq(1, 2, 3))
    assert(builds.get == 2)
    assert(SparkEntry.memoized(key)(build()) == Seq(1, 2, 3))
    assert(builds.get == 2)
  }

  test("memo: two threads asking for one key cause exactly one build") {
    val key = s"test:shared_${System.nanoTime()}"
    val builds = new AtomicInteger()
    @volatile var second: Thread = null
    val secondResult = new java.util.concurrent.atomic.AtomicReference[String]()
    def build(): String = {
      builds.incrementAndGet()
      if (second == null) {
        // the first build holds until the second caller is parked on it
        second = new Thread(() => secondResult.set(SparkEntry.memoized(key)(build())))
        second.start()
        val deadline = System.nanoTime() + 10000000000L
        while (second.getState != Thread.State.WAITING && System.nanoTime() < deadline)
          Thread.sleep(5)
      }
      "built"
    }
    assert(SparkEntry.memoized(key)(build()) == "built")
    second.join(10000)
    assert(secondResult.get == "built")
    assert(builds.get == 1)
  }

  test("entry: one P/R/F1 row with precision and recall at least 0.95") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 1)
    val r = rows.head
    val (p, rc) = (r.getAs[Double]("precision"), r.getAs[Double]("recall"))
    assert(p >= 0.95 && rc >= 0.95, s"precision=$p recall=$rc")
  }
}
