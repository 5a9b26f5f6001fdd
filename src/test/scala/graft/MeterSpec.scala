package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Meter]] attributes stages to the measured body by its job group,
  * drains the listener bus instead of sleeping, and never records a
  * body that threw. */
class MeterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def shuffle(n: Int): Long =
    spark.range(0, 20000, 1, 4).repartition(n).collect().length.toLong

  test("a map-only body measured right after a shuffling action reports 0 shuffle-write bytes") {
    val meter = Meter(spark)
    for (_ <- 1 to 3) {
      shuffle(8)
      val (rows, m) = meter.measure("map-only")(
        spark.range(0, 1000, 1, 4).selectExpr("id * 2").collect().length)
      assert(rows == 1000)
      assert(m.stages.nonEmpty && m.tasks >= 4, s"the body's own stage is missing: $m")
      assert(m.shuffleWriteBytes == 0, s"an earlier action's shuffle bled in: $m")
    }
  }

  test("a repartition(n) body reports shuffle bytes and at least n tasks") {
    val (rows, m) = Meter(spark).measure("repartition")(shuffle(8))
    assert(rows == 20000)
    assert(m.shuffleWriteBytes > 0, s"$m")
    assert(m.tasks >= 8, s"$m")
    assert(m.wallS > 0 && m.top(1).nonEmpty)
  }

  test("a throwing body propagates, restores the caller's job group and records nothing") {
    val sc = spark.sparkContext
    val meter = Meter(spark)
    sc.setJobGroup("caller", "caller's group")
    try {
      val e = intercept[IllegalStateException](meter.measure("boom") {
        shuffle(8)
        throw new IllegalStateException("boom")
      })
      assert(e.getMessage == "boom")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
    } finally sc.clearJobGroup()
    val (_, next) = meter.measure("after")(spark.range(0, 10, 1, 2).collect())
    assert(next.shuffleWriteBytes == 0, s"the failed body's stages were recorded: $next")
    assert(Meter(spark) eq meter, "one meter per SparkContext")
  }
}
