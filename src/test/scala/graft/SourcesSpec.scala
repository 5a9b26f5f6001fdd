package graft

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.WeatherOps
import graft.pipeline.Fixtures

/** The DSv2 http-json source: a REAL HTTP round-trip against a localhost
  * server serving the golden fixture payload. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withServer[A](body: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/weather", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val bytes = Fixtures.owmHoustonJson.getBytes("UTF-8")
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes)
        x.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/weather")
    finally server.stop(0)
  }

  test("op 2 production shape: DSv2 scan issues the GET and yields the golden row") {
    withServer { url =>
      val raw = spark.read.format("http-json").option("urls", url).load()
      assert(raw.columns.toSeq == Seq("raw"))
      val weather = WeatherOps.flattenOwm(
        raw.select(from_json(col("raw"), Schemas.owmPayload).as("payload")))
      val r = weather.collect().head
      assert(r.getAs[String]("city") == "Houston")
      assert(r.getAs[Double]("temperature_fahrenheit") == 55.148)
      assert(r.getAs[Long]("pressure") == 1024L)
    }
  }

  test("one input partition per URL (executor-side fan-out)") {
    withServer { url =>
      val df = spark.read.format("http-json").option("urls", s"$url,$url,$url").load()
      assert(df.count() == 3)
      assert(df.rdd.getNumPartitions == 3)
    }
  }

  test("file:// urls work through the same source") {
    val tmp = java.nio.file.Files.createTempFile("payload", ".json")
    java.nio.file.Files.write(tmp, Fixtures.owmHoustonJson.getBytes("UTF-8"))
    val df = spark.read.format("http-json").option("urls", tmp.toUri.toString).load()
    assert(df.count() == 1)
    assert(df.collect().head.getString(0).contains("\"name\":\"Houston\""))
  }

  test("ORC round-trip: schema, values, and predicate pushdown survive " +
       "the columnar format swap") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.write.mode("overwrite").orc(s"$dir/documents.orc")
    val back = spark.read.orc(s"$dir/documents.orc")
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    val a = src.orderBy(col("doc_id")).collect()
    val b = back.orderBy(col("doc_id")).collect()
    assert(a.sameElements(b))
    // filters reach the ORC scan just as they do on parquet: the same
    // pushed-filter list, whatever the session's constraint inference adds
    def pushed(df: org.apache.spark.sql.DataFrame): String = {
      val plan = df.filter(col("doc_id") === 7L).queryExecution.executedPlan.toString
      "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan)
        .getOrElse(fail(s"no pushed filters in:\n$plan"))
    }
    assert(pushed(back).contains("EqualTo(doc_id,7)"), pushed(back))
    assert(pushed(back) == pushed(src))
  }

  test("Avro round-trip: schema, values, and pushdown — skipped when the " +
       "spark-avro module is absent from the distribution") {
    import org.apache.spark.sql.functions.col
    // spark-avro is an EXTERNAL module (not bundled in every Spark
    // distribution's jars/); probe once and cancel gracefully rather
    // than hard-depend — this sandbox ships avro-core but not the
    // spark-avro connector, and offline resolution can't add it. The
    // test body is the full ORC-mirroring coverage the moment a
    // distribution with the module runs it.
    val avroAvailable = scala.util.Try {
      spark.sessionState.catalog // force session init first
      org.apache.spark.sql.execution.datasources.DataSource
        .lookupDataSource("avro", spark.sessionState.conf)
    }.isSuccess
    assume(avroAvailable, "spark-avro module not on the classpath")
    val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.write.mode("overwrite").format("avro").save(s"$dir/documents.avro")
    val back = spark.read.format("avro").load(s"$dir/documents.avro")
    assert(back.schema.fieldNames.sameElements(src.schema.fieldNames))
    assert(back.count() == src.count())
    val a = src.orderBy(col("doc_id")).collect()
    val b = back.select(src.columns.map(col): _*).orderBy(col("doc_id")).collect()
    assert(a.sameElements(b))
  }
}
