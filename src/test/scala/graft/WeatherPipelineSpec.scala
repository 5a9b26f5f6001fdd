package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas
import graft.pipeline.{Fixtures, WeatherPipeline}
import graft.sinks.ForkFreeLocalFileSystem

/** The daily DAG's fixed per-run costs: store reads bind the declared
  * schemas (no inference job), the declarations match what the writers
  * write, and the engine session writes `file:` stores without forking. */
class WeatherPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def loaded(): WeatherPipeline = {
    val p = new WeatherPipeline(spark, Files.createTempDirectory("graft_daily").toString)
    p.loadParallel(p.extract(Seq(Fixtures.owmHoustonJson)),
      Fixtures.writeUsCitiesCsv(Files.createTempDirectory("graft_daily_csv")))
    p
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  test("a session built through SessionDefaults resolves file: to the engine file system") {
    val fs = new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
  }

  test("each declared store schema equals the one inferred from its written store, up to nullability") {
    val p = loaded()
    for ((path, declared) <- Seq(p.weatherStorePath -> Schemas.weatherRecord,
                                 p.lookupStorePath -> Schemas.cityLookup))
      assert(nullable(spark.read.parquet(path).schema) == nullable(declared),
        s"$path was written with a schema that drifted from model.Schemas")
  }

  test("exportCsv(joined()) submits only the broadcast and write jobs: no footer-inference job") {
    val p = loaded()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      p.exportCsv(p.joined())
      GraftBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 2, s"expected broadcast + write jobs, saw ${jobs.get}")
  }
}
