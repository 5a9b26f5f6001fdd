package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas
import graft.pipeline.{Fixtures, WeatherPipeline}
import graft.sinks.ForkFreeLocalFileSystem
import graft.streaming.StreamingIngest

/** The daily DAG's fixed per-run costs: store reads bind the declared
  * schemas (no inference job), the declarations match what the writers
  * (the DAG's and the streaming stores') write, and the engine session
  * writes `file:` stores without forking. */
class WeatherPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def loaded(): WeatherPipeline = {
    val p = new WeatherPipeline(spark, Files.createTempDirectory("graft_daily").toString)
    p.loadParallel(p.extract(Seq(Fixtures.owmHoustonJson)),
      Fixtures.writeUsCitiesCsv(Files.createTempDirectory("graft_daily_csv")))
    p
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case other => other
  }

  /** One micro-batch written to each streaming store: (a path holding
    * only the store's files, its declared layout). */
  private def streamingStores(): Seq[(String, StructType)] = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_stream_stores").toString
    val docs = Seq(1L -> "alpha beta", 2L -> "gamma delta").toDF("doc_id", "text")
    StreamingIngest.scrubbedIngestBatch(docs, s"$root/scrubbed", 0L)
    StreamingIngest.snapshotDiffBatch(docs, s"$root/events", 0L)
    StreamingIngest.vectorDedupBatch(
      Seq(1L -> Array.fill(64)(1f), 2L -> Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))
        .toDF("vec_id", "embedding"),
      s"$root/vectors", 0L, simThreshold = 0.95, dim = 64, nBits = 512, cands = 32,
      nCells = Some(4))
    Seq(s"$root/scrubbed/_batch_id=0" -> Schemas.scrubbedStore,
        s"$root/events/_batch_id=0" -> Schemas.snapshotEventStore,
        s"$root/vectors/_batch_id=0" -> Schemas.vectorStore,
        s"$root/vectors_cells_n4" -> Schemas.vectorCells)
  }

  test("a session built through SessionDefaults resolves file: to the engine file system") {
    val fs = new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
  }

  test("each declared store schema equals the one inferred from its written store, up to nullability") {
    val p = loaded()
    for ((path, declared) <- Seq(p.weatherStorePath -> Schemas.weatherRecord,
                                 p.lookupStorePath -> Schemas.cityLookup) ++
                               streamingStores())
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
