package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

import graft.model.Schemas
import graft.pipeline.{Fixtures, WeatherPipeline}

/**
 * End-to-end golden test (SURVEY.md §5): the full reference dataflow on
 * the fixture inputs must reproduce the reference's own published outputs
 * — the joined row from RDS_Postgres_testing.ipynb cell 4 (Houston /
 * clear sky / 55.148 °F / pressure 1024 / humidity 70) joined with the
 * Houston lookup row (Texas / 2304580 / 640.4), exported through the
 * single-file CSV and the name-bound warehouse.
 */
class GoldenPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // golden epochs: dt/sunrise/sunset + timezone −18000 (naive local UTC)
  private val recordMs = 1742185868000L  // 2025-03-17 04:31:08
  private val sunriseMs = 1742196515000L // 2025-03-17 07:28:35
  private val sunsetMs = 1742239853000L  // 2025-03-17 19:30:53

  private def assertGoldenRow(r: Row): Unit = {
    assert(r.getString(0) == "Houston")
    assert(r.getString(1) == "clear sky")
    assert(r.getDouble(2) == 55.148)
    assert(r.getDouble(3) == 53.654)
    assert(r.getDouble(4) == 50.198)
    assert(r.getDouble(5) == 57.11)
    assert(r.getLong(6) == 1024L)
    assert(r.getLong(7) == 70L)
    assert(r.getDouble(8) == 0.0)
    assert(r.getTimestamp(9).getTime == recordMs)
    assert(r.getTimestamp(10).getTime == sunriseMs)
    assert(r.getTimestamp(11).getTime == sunsetMs)
  }

  test("SparkEntry.entry yields exactly the reference's golden joined row") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 1)
    val r = rows.head
    assertGoldenRow(r)
    assert(r.getString(12) == "Texas")
    assert(r.getLong(13) == 2304580L)
    assert(r.getDouble(14) == 640.4)
  }

  test("full pipeline run: join, single-file CSV, coerced re-scan, name-bound warehouse") {
    val root = Files.createTempDirectory("graft_e2e").toString
    val p = new WeatherPipeline(spark, root)
    p.run(Seq(Fixtures.owmHoustonJson), Fixtures.writeUsCitiesCsv(Files.createTempDirectory("graft_csv")))

    // op 14 contract: exactly ONE csv part file, with header
    val parts = new java.io.File(p.exportCsvPath).listFiles()
      .filter(f => f.getName.endsWith(".csv")).toSeq
    assert(parts.size == 1)
    val lines = scala.io.Source.fromFile(parts.head).getLines().toSeq
    assert(lines.head == Schemas.finalWeatherCsvOrder.mkString(","))
    assert(lines.size == 2)

    // op 16: warehouse bound BY NAME into the reordered DDL order
    val wh = spark.read.parquet(p.warehousePath)
    assert(wh.columns.toSeq == Schemas.finalWeatherWarehouseOrder)
    val r = wh.collect().head
    assert(r.getAs[String]("city") == "Houston")
    assert(r.getAs[String]("state") == "Texas")
    assert(r.getAs[Double]("temperature_fahrenheit") == 55.148)
    assert(r.getAs[java.sql.Timestamp]("time_of_record").getTime == recordMs)
    assert(r.getAs[Long]("census_2020") == 2304580L)

    // ops 8/10/16 are APPEND sinks: a second run adds rows, not replaces
    p.run(Seq(Fixtures.owmHoustonJson), Fixtures.writeUsCitiesCsv(Files.createTempDirectory("graft_csv2")))
    assert(spark.read.parquet(p.weatherStorePath).count() == 2)
    assert(spark.read.parquet(p.warehousePath).count() >= 2)

    // op 19: truncate resets both operational tables, schema preserved
    p.reset()
    val w = spark.read.parquet(p.weatherStorePath)
    assert(w.count() == 0)
    assert(w.columns.toSeq == Schemas.weatherRecord.fieldNames.toSeq)
    assert(spark.read.parquet(p.lookupStorePath).count() == 0)
  }

  test("op 1 sensor gate: pipeline refuses to extract when the probe stays down") {
    val root = Files.createTempDirectory("graft_gate").toString
    val p = new WeatherPipeline(spark, root)
    intercept[IllegalArgumentException] {
      p.extract(Seq(Fixtures.owmHoustonJson), available = () => false)
    }
  }

  test("op 17 retry wrapper: succeeds after transient failure, rethrows when exhausted") {
    var calls = 0
    val out = graft.sinks.Sinks.withRetry(retries = 1, delayMs = 1) {
      calls += 1
      if (calls < 2) sys.error("transient")
      42
    }
    assert(out == 42 && calls == 2)
    intercept[RuntimeException] {
      graft.sinks.Sinks.withRetry(retries = 1, delayMs = 1) { sys.error("always") }
    }
  }

  test("op 17 retry wrapper: a fatal error propagates on its first throw; a non-fatal one is retried once") {
    for (fatal <- Seq[Throwable](new OutOfMemoryError("heap"), new InterruptedException())) {
      var calls = 0
      val thrown = intercept[Throwable] {
        graft.sinks.Sinks.withRetry(retries = 1, delayMs = 0) { calls += 1; throw fatal }
      }
      assert((thrown eq fatal) && calls == 1, s"$fatal was retried")
    }
    var calls = 0
    intercept[IllegalStateException] {
      graft.sinks.Sinks.withRetry(retries = 1, delayMs = 0) {
        calls += 1; throw new IllegalStateException("transient")
      }
    }
    assert(calls == 2)
  }
}
