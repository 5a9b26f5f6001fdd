package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.pipeline.Fixtures
import graft.streaming.StreamingIngest

/** Structured Streaming formulation (SURVEY.md §7.1 M4): idempotent
  * landing-dir ingest, watermarked windowed aggregation, custom keyed
  * state. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming ingest: landing dir -> golden weather row; restart does not duplicate") {
    val root = Files.createTempDirectory("graft_stream").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    Files.write(java.nio.file.Paths.get(s"$landing/p1.json"),
      Fixtures.owmHoustonJson.getBytes("UTF-8"))

    def drain(): Unit = {
      val q = StreamingIngest.startIdempotentAppend(
        StreamingIngest.weatherStream(spark, landing), store, ckpt)
      q.awaitTermination()
    }
    drain()
    val first = spark.read.parquet(store)
    assert(first.count() == 1)
    val r = first.collect().head
    assert(r.getAs[String]("city") == "Houston")
    assert(r.getAs[Double]("temperature_fahrenheit") == 55.148)

    // restart with no new data: checkpoint prevents re-ingest
    drain()
    assert(spark.read.parquet(store).count() == 1)

    // a second payload lands -> exactly one more row
    Files.write(java.nio.file.Paths.get(s"$landing/p2.json"),
      Fixtures.owmHoustonJson.replace("\"dt\":1742203868", "\"dt\":1742290268").getBytes("UTF-8"))
    drain()
    val after = spark.read.parquet(store)
    assert(after.count() == 2)
    assert(after.select(countDistinct(col("time_of_record"))).collect().head.getLong(0) == 2)
  }

  test("snapshot-diff CDC gate: add/change/remove/re-add events, state " +
       "tracks them, unchanged arrivals emit nothing, true replay is a no-op") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_cdc").toString + "/store"
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def events(): Seq[(Long, String, Long)] =
      StreamingIngest.snapshotEvents(spark, store)
        .select(col("doc_id"), col("status"), col("_batch_id"))
        .as[(Long, String, Long)].collect().toSeq.sorted
    def state(): Map[Long, String] =
      StreamingIngest.snapshotState(spark, store)
        .as[(Long, String)].collect().toMap

    // batch 0: two fresh docs -> both added
    StreamingIngest.snapshotDiffBatch(df(1L -> "alpha", 2L -> "beta"), store, 0L)
    assert(events() == Seq((1L, "added", 0L), (2L, "added", 0L)))
    assert(state().keySet == Set(1L, 2L))

    // batch 1: doc 1 unchanged (no event), doc 2 edited, doc 3 new
    StreamingIngest.snapshotDiffBatch(
      df(1L -> "alpha", 2L -> "beta2", 3L -> "gamma"), store, 1L)
    assert(events().filter(_._3 == 1L) ==
      Seq((2L, "changed", 1L), (3L, "added", 1L)))
    assert(state().keySet == Set(1L, 2L, 3L))

    // TRUE replay of batch 1 (store write committed, checkpoint commit
    // lost, engine re-runs the SAME batch — always the LATEST batch,
    // since checkpoint commits are sequential): events recompute
    // identically against state-minus-own-partition and replace their
    // own partition — the store is unchanged
    val before = events()
    StreamingIngest.snapshotDiffBatch(
      df(1L -> "alpha", 2L -> "beta2", 3L -> "gamma"), store, 1L)
    assert(events() == before)
    assert(state().keySet == Set(1L, 2L, 3L))

    // batch 2: tombstone doc 1; tombstone for an unknown doc is a no-op
    StreamingIngest.snapshotDiffBatch(
      Seq[(Long, String)]((1L, null), (99L, null)).toDF("doc_id", "text"),
      store, 2L)
    assert(events().filter(_._3 == 2L) == Seq((1L, "removed", 2L)))
    assert(state().keySet == Set(2L, 3L))

    // batch 3: doc 1 re-added after removal -> "added" again; an
    // unchanged re-arrival of doc 3 stays silent
    StreamingIngest.snapshotDiffBatch(df(1L -> "alpha3", 3L -> "gamma"),
      store, 3L)
    assert(events().filter(_._3 == 3L) == Seq((1L, "added", 3L)))
    assert(state().keySet == Set(1L, 2L, 3L))

    // empty batch writes nothing and breaks nothing
    StreamingIngest.snapshotDiffBatch(df(), store, 4L)
    assert(events().map(_._3).max == 3L)
  }

  test("snapshot-diff CDC gate model check: random batch sequences match " +
       "an in-memory reference state machine") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    for (seed <- Seq(11, 47, 90210)) {
      val rnd = new scala.util.Random(seed)
      val store = Files.createTempDirectory(s"graft_cdc_model_$seed").toString + "/store"
      val model = scala.collection.mutable.Map.empty[Long, String]
      var expectedEvents = Vector.empty[(Long, Long, String)] // (batch, doc, status)
      for (batchId <- 0L until 6L) {
        val nOps = rnd.nextInt(9)
        val ops = Seq.fill(nOps)((rnd.nextInt(10).toLong,
          if (rnd.nextInt(4) == 0) null
          else s"w${rnd.nextInt(5)} w${rnd.nextInt(5)}"))
        // the gate's within-batch collapse: content beats tombstone,
        // ties to the max digest
        val collapsed = ops.groupBy(_._1).map { case (id, rows) =>
          val digests = rows.flatMap(r => Option(r._2)).map(md5hex)
          id -> (if (digests.isEmpty) None else Some(digests.max))
        }
        collapsed.toSeq.sortBy(_._1).foreach { case (id, dOpt) =>
          (dOpt, model.get(id)) match {
            case (None, Some(_)) =>
              expectedEvents :+= ((batchId, id, "removed")); model.remove(id)
            case (Some(d), None) =>
              expectedEvents :+= ((batchId, id, "added")); model(id) = d
            case (Some(d), Some(old)) if d != old =>
              expectedEvents :+= ((batchId, id, "changed")); model(id) = d
            case _ => () // unchanged or tombstone-of-absent: no event
          }
        }
        StreamingIngest.snapshotDiffBatch(
          ops.toDF("doc_id", "text"), store, batchId)
      }
      if (expectedEvents.nonEmpty) {
        val gotEvents = StreamingIngest.snapshotEvents(spark, store)
          .select(col("_batch_id"), col("doc_id"), col("status"))
          .as[(Long, Long, String)].collect().toSet
        assert(gotEvents == expectedEvents.toSet, s"seed $seed event drift")
        val gotState = StreamingIngest.snapshotState(spark, store)
          .as[(Long, String)].collect().toMap
        assert(gotState == model.toMap, s"seed $seed state drift")
      } else assert(!new java.io.File(store).exists())
    }
  }

  test("snapshot-diff gate end to end: AvailableNow drain over a memory " +
       "stream lands the same events as the per-batch path") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdc_e2e").toString
    val store = s"$root/store"; val ckpt = s"$root/ckpt"
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((7L, "seven"), (8L, "eight"))
    val q = StreamingIngest.startSnapshotDiff(
      mem.toDF().toDF("doc_id", "text"), store, ckpt)
    q.awaitTermination()
    assert(StreamingIngest.snapshotEvents(spark, store)
      .select(col("status")).as[String].collect().toSeq == Seq("added", "added"))
    // second drain: one edit
    mem.addData((8L, "eight-v2"))
    val q2 = StreamingIngest.startSnapshotDiff(
      mem.toDF().toDF("doc_id", "text"), store, ckpt)
    q2.awaitTermination()
    assert(StreamingIngest.snapshotEvents(spark, store)
      .filter(col("status") === "changed")
      .select(col("doc_id")).as[Long].collect().toSeq == Seq(8L))
    assert(StreamingIngest.snapshotState(spark, store).count() == 2)
  }

  test("incremental agg maintenance: view tracks the full recompute across batches and replays") {
    val root = Files.createTempDirectory("graft_aggmaint").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    def landCsv(name: String, rows: Seq[(Long, Double)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$landing/$name"),
        rows.map { case (u, v) => s"$u,$v" }.mkString("\n").getBytes("UTF-8"))
    def drain(): Unit = {
      val src = spark.readStream
        .schema("user_id LONG, value DOUBLE").csv(landing)
      StreamingIngest.startAggMaintenance(src, store, ckpt).awaitTermination()
    }
    landCsv("b1.csv", Seq((1L, 10.0), (1L, 5.0), (2L, 7.0)))
    drain()
    val v1 = StreamingIngest.aggView(spark, store)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(v1 == Map(1L -> (2L, 15.0), 2L -> (1L, 7.0)))

    // replay with no new data: partial partitions replace themselves,
    // the view must NOT double-count
    drain()
    val v2 = StreamingIngest.aggView(spark, store)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(v2 == v1)

    // a second batch merges incrementally — view equals full recompute
    landCsv("b2.csv", Seq((2L, 3.0), (3L, 1.0)))
    drain()
    val v3 = StreamingIngest.aggView(spark, store)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(v3 == Map(1L -> (2L, 15.0), 2L -> (2L, 10.0), 3L -> (1L, 1.0)))
  }

  test("distinct maintenance: register merge equals the batch sketch; duplicate partials are absorbed") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_hll").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    def land(name: String, rows: Seq[(String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$landing/$name"),
        rows.map { case (k, u) => s"$k,$u" }.mkString("\n").getBytes("UTF-8"))
    def drain(): Unit = {
      val src = spark.readStream.schema("event_type STRING, user_id LONG").csv(landing)
      StreamingIngest.startDistinctMaintenance(src, store, ckpt).awaitTermination()
    }
    // cardinalities above the ~2.5·m small-range cutoff (m = 64): the
    // raw harmonic estimator is only unbiased there (below it, real
    // deployments switch to linear counting — a04's documented regime)
    val b1 = (1L to 400L).map(u => ("view", u)) ++ (1L to 250L).map(u => ("click", u))
    val b2 = (300L to 900L).map(u => ("view", u)) // overlaps b1: 300..400 shared
    land("b1.csv", b1); drain()
    land("b2.csv", b2); drain()
    val streamed = StreamingIngest.distinctView(spark, store)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the maintained view must equal the one-shot batch sketch over ALL
    // events — register merge is lossless, not approximately-composable
    val all = (b1 ++ b2).toDF("event_type", "user_id")
    val batch = graft.Queries.hllEstimate(
        graft.Queries.hllRegisters(all, Seq("event_type")), Seq("event_type"))
      .selectExpr("event_type",
        "0.709 * 4096.0 / (sum_present + CAST(64 - n_present AS DOUBLE))")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // a batch's partials written AGAIN under a new batch id (the
    // failure sums cannot tolerate): max-merge absorbs the duplicate
    graft.Queries.hllRegisters(b2.toDF("event_type", "user_id"), Seq("event_type"))
      .withColumn("_batch_id", lit(99L))
      .write.mode("append").partitionBy("_batch_id").parquet(store)
    val afterDup = StreamingIngest.distinctView(spark, store)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(afterDup == streamed, "duplicate register partials moved the view")
    // estimates stay inside the m=64 error regime vs exact counts
    // (~1.04/√64 ≈ 13% standard error; 3σ margin)
    val exact = Map("view" -> 900.0, "click" -> 250.0)
    for ((k, est) <- streamed)
      assert(math.abs(est - exact(k)) / exact(k) < 0.4, s"$k: est=$est")
    // compaction folds everything (incl. the duplicate partial) into
    // the single _batch_id=-1 partition without moving the view, and
    // the stream keeps appending on top of the compacted store
    StreamingIngest.compactDistinctStore(spark, store)
    val parts = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_batch_id=")).map(_.getName)
    assert(parts.toSeq == Seq("_batch_id=-1"), s"partitions after compact: ${parts.toSeq}")
    val afterCompact = StreamingIngest.distinctView(spark, store)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(afterCompact == streamed, "compaction moved the view")
    val b3 = (850L to 1000L).map(u => ("view", u))
    land("b3.csv", b3); drain()
    val v3 = StreamingIngest.distinctView(spark, store)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch3 = graft.Queries.hllEstimate(
        graft.Queries.hllRegisters((b1 ++ b2 ++ b3).toDF("event_type", "user_id"),
          Seq("event_type")), Seq("event_type"))
      .select(col("event_type"), graft.Queries.hllHarmonic.as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(v3 == batch3, "post-compaction ingest diverged from the batch sketch")
  }

  test("distinct compaction: generation protocol loses nothing on a crash between write and delete") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_hll_crash").toString
    def writeBatch(id: Long, rows: Seq[(String, Long)]): Unit =
      graft.Queries.hllRegisters(rows.toDF("event_type", "user_id"), Seq("event_type"))
        .withColumn("_batch_id", lit(id))
        .write.mode("append").partitionBy("_batch_id").parquet(store)
    def view(): Map[String, Double] = StreamingIngest.distinctView(spark, store)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def parts(): Seq[String] = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_batch_id="))
      .map(_.getName).toSeq.sorted
    writeBatch(0L, (1L to 300L).map(u => ("view", u)))
    writeBatch(1L, (200L to 600L).map(u => ("view", u)) ++
      (1L to 150L).map(u => ("click", u)))
    val before = view()

    // CRASH INJECTION: the fold writes the new generation partition and
    // dies before any delete (compactDistinctFold IS compactDistinctStore
    // minus the deletes). The key property of the generation protocol:
    // every pre-crash partition is still on disk — the write touched only
    // a partition namespace nothing was using.
    val folded = StreamingIngest.compactDistinctFold(spark, store)
    assert(folded.map(_.getName).sorted == Seq("_batch_id=0", "_batch_id=1"))
    assert(parts() == Seq("_batch_id=-1", "_batch_id=0", "_batch_id=1"))
    // the duplicated registers (generation + originals) max-merge away
    assert(view() == before, "crash window moved the view")

    // RECOVERY: re-running the compaction converges — the snapshot now
    // includes the orphaned generation, folds it with the originals into
    // the first FREE negative generation (−1 is occupied), and this time
    // the deletes run
    StreamingIngest.compactDistinctStore(spark, store)
    assert(parts() == Seq("_batch_id=-2"), s"after recovery: ${parts()}")
    assert(view() == before, "recovery compaction moved the view")

    // canonicalization: a quiescent store folds BACK to _batch_id=-1
    // (first free negative), and once there further compactions are
    // no-ops — generation ids are bounded, not minted forever
    StreamingIngest.compactDistinctStore(spark, store)
    assert(parts() == Seq("_batch_id=-1"), s"canonicalize: ${parts()}")
    StreamingIngest.compactDistinctStore(spark, store)
    assert(parts() == Seq("_batch_id=-1"), "canonical store must be a fixed point")
    assert(view() == before, "canonicalization moved the view")

    writeBatch(7L, (550L to 800L).map(u => ("view", u)))
    val all = (1L to 800L).map(u => ("view", u)) ++ (1L to 150L).map(u => ("click", u))
    val batchView = graft.Queries.hllEstimate(
        graft.Queries.hllRegisters(all.toDF("event_type", "user_id"), Seq("event_type")),
        Seq("event_type"))
      .select(col("event_type"), graft.Queries.hllHarmonic.as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    StreamingIngest.compactDistinctStore(spark, store)
    assert(parts() == Seq("_batch_id=-2"), s"fold of {-1, 7}: ${parts()}")
    assert(view() == batchView, "post-crash store diverged from the one-shot batch sketch")
  }

  test("compaction housekeeping: non-numeric partitions skip the fold; stale staging dirs are reaped") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_hll_housekeep").toString
    graft.Queries.hllRegisters(
        (1L to 200L).map(u => ("view", u)).toDF("event_type", "user_id"),
        Seq("event_type"))
      .withColumn("_batch_id", lit(0L))
      .write.mode("append").partitionBy("_batch_id").parquet(store)
    val before = StreamingIngest.distinctView(spark, store)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a stray non-numeric partition dir (e.g. __HIVE_DEFAULT_PARTITION__
    // from a null batch id) used to NumberFormatException-block every
    // future compaction; now it is skipped — folded around, not deleted
    val stray = new java.io.File(store, "_batch_id=__HIVE_DEFAULT_PARTITION__")
    assert(stray.mkdir())
    // staging debris: one stale (crashed write, aged past the default
    // 24 h reap gate), one merely old (2 h — a slow writer still inside
    // the gate), and one fresh (a concurrent writer's live dir) — only
    // the genuinely stale one goes under the default gate
    val stale = new java.io.File(store, ".spark-staging-deadjob")
    val slow = new java.io.File(store, ".spark-staging-slowjob")
    val fresh = new java.io.File(store, ".spark-staging-livejob")
    assert(stale.mkdir() && slow.mkdir() && fresh.mkdir())
    assert(stale.setLastModified(System.currentTimeMillis() - 25L * 60 * 60 * 1000))
    assert(slow.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    StreamingIngest.compactDistinctStore(spark, store)
    val names = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(names.contains("_batch_id=-1"), s"fold did not run: $names")
    assert(!names.contains("_batch_id=0"), "folded partition not deleted")
    assert(names.contains("_batch_id=__HIVE_DEFAULT_PARTITION__"),
      "stray partition must be skipped, not deleted")
    assert(!names.contains(".spark-staging-deadjob"), "stale staging dir not reaped")
    assert(names.contains(".spark-staging-slowjob"),
      "a 2h-old staging dir is inside the 24h default gate and must survive")
    assert(names.contains(".spark-staging-livejob"), "live staging dir must survive")
    // a malformed, negative, or ZERO conf value must fall back to the
    // 24h default (a negative gate would put the cutoff past NOW and a
    // zero gate exactly AT now — either reaps a LIVE writer's dir; a
    // parse crash would block compaction forever)
    for (bad <- Seq("24h", "-5", "NaN", "0")) {
      spark.conf.set("graft.streaming.stagingReapAgeHours", bad)
      try StreamingIngest.compactDistinctStore(spark, store)
      finally spark.conf.unset("graft.streaming.stagingReapAgeHours")
      val n = new java.io.File(store).listFiles().map(_.getName).toSet
      assert(n.contains(".spark-staging-slowjob") &&
        n.contains(".spark-staging-livejob"),
        s"conf '$bad' must fall back to the 24h gate, got $n")
    }
    // the gate is configurable: a 1 h gate reaps the 2 h-old slow dir
    spark.conf.set("graft.streaming.stagingReapAgeHours", "1")
    try StreamingIngest.compactDistinctStore(spark, store)
    finally spark.conf.unset("graft.streaming.stagingReapAgeHours")
    val names2 = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(!names2.contains(".spark-staging-slowjob"),
      "configured 1h gate should reap the 2h-old staging dir")
    assert(names2.contains(".spark-staging-livejob"), "live staging dir must survive")
    val after = StreamingIngest.distinctView(spark, store)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(after == before, "housekeeping moved the view")
  }

  test("scrubbed ingest gate: PII-variant re-crawls dedupe on the scrubbed " +
       "fingerprint, no raw PII lands, in-batch dups collapse, replay " +
       "replaces itself") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    val root = Files.createTempDirectory("graft_scrub_ingest").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    val schema = ST(Seq(SF("doc_id", LongType), SF("text", StringType)))
    def drain(): Unit = {
      val q = StreamingIngest.startScrubbedIngest(
        spark.readStream.schema(schema).json(landing), store, ckpt)
      q.awaitTermination()
    }
    // batch 0: doc 1 carries a session email; docs 2 and 3 are content
    // dups of each other (min id 2 must survive)
    Files.write(java.nio.file.Paths.get(s"$landing/p1.json"),
      ("""{"doc_id":1,"text":"alpha beta sess s1@example.com"}""" + "\n" +
       """{"doc_id":2,"text":"gamma delta"}""" + "\n" +
       """{"doc_id":3,"text":"gamma delta"}""").getBytes("UTF-8"))
    drain()
    val s1 = StreamingIngest.scrubbedCorpus(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(s1.keySet == Set(1L, 2L), s"in-batch dup must collapse: $s1")
    assert(s1(1L) == "alpha beta sess <EMAIL>", "raw PII must never land")
    // batch 1: doc 11 is a RE-CRAWL of doc 1 with a different session
    // email (raw fingerprints differ; scrubbed ones match — the d25
    // leak this gate exists to close); doc 12 is genuinely new
    Files.write(java.nio.file.Paths.get(s"$landing/p2.json"),
      ("""{"doc_id":11,"text":"alpha beta sess s2@example.com"}""" + "\n" +
       """{"doc_id":12,"text":"epsilon zeta"}""").getBytes("UTF-8"))
    drain()
    val s2 = StreamingIngest.scrubbedCorpus(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(s2 == Set(1L, 2L, 12L),
      s"PII-variant re-crawl must be rejected, new content admitted: $s2")
    // true replay of batch 1 (same data, same batch id): the store's own
    // partition is excluded from the probe and then replaced — identical
    val before = StreamingIngest.scrubbedCorpus(spark, store).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        r.getAs[Long]("_batch_id"))).toSet
    StreamingIngest.scrubbedIngestBatch(
      spark.read.schema(schema).json(s"$landing/p2.json"), store, 1L)
    val after = StreamingIngest.scrubbedCorpus(spark, store).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
        r.getAs[Long]("_batch_id"))).toSet
    assert(after == before, "replay must replace, not duplicate or drift")
  }

  test("scrubbed ingest gate: CRASH WINDOW between the store write and " +
       "the checkpoint commit — the restarted stream replays the same " +
       "batch id and converges to the identical store") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    val root = Files.createTempDirectory("graft_scrub_crash").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    val schema = ST(Seq(SF("doc_id", LongType), SF("text", StringType)))
    def drain(): Unit = {
      val q = StreamingIngest.startScrubbedIngest(
        spark.readStream.schema(schema).json(landing), store, ckpt)
      q.awaitTermination()
    }
    def snap(): Set[(Long, String, Long)] =
      StreamingIngest.scrubbedCorpus(spark, store).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"),
          r.getAs[Number]("_batch_id").longValue)).toSet
    Files.write(java.nio.file.Paths.get(s"$landing/p1.json"),
      ("""{"doc_id":1,"text":"alpha beta"}""" + "\n" +
       """{"doc_id":2,"text":"gamma delta"}""").getBytes("UTF-8"))
    drain() // batch 0 committed
    Files.write(java.nio.file.Paths.get(s"$landing/p2.json"),
      ("""{"doc_id":11,"text":"alpha beta"}""" + "\n" +
       """{"doc_id":12,"text":"epsilon zeta"}""").getBytes("UTF-8"))
    // the crash: foreachBatch for batch 1 finished its dynamic-overwrite
    // write, then the process died BEFORE the checkpoint commit — the
    // direct call below is exactly that state (store has partition 1,
    // checkpoint still says batch 0 was the last commit)
    StreamingIngest.scrubbedIngestBatch(
      spark.read.schema(schema).json(s"$landing/p2.json"), store, 1L)
    val crashed = snap()
    assert(crashed.exists(_._3 == 1L), "crash-window write must be visible")
    // restart: the engine re-runs the uncommitted batch under the SAME id
    drain()
    assert(snap() == crashed,
      "post-crash replay must converge to the crash-window store")
    assert(snap().map(r => (r._1, r._3)) ==
      Set((1L, 0L), (2L, 0L), (12L, 1L)),
      "dedup decisions must match a never-crashed run (11 is a dup of 1)")
    // and the store keeps working: a later batch lands normally
    Files.write(java.nio.file.Paths.get(s"$landing/p3.json"),
      """{"doc_id":21,"text":"eta theta"}""".getBytes("UTF-8"))
    drain()
    assert(snap().map(_._1) == Set(1L, 2L, 12L, 21L))
  }

  test("scrubbed ingest gate: a replay that admits NOTHING drops its " +
       "stale partition; an empty replay of the last batch removes the " +
       "store (absent == nothing admitted)") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_scrub_emptyreplay").toString
    val store = s"$root/store"
    val schema = ST(Seq(SF("doc_id", LongType), SF("text", StringType)))
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamingIngest.scrubbedIngestBatch(df(1L -> "alpha beta"), store, 0L)
    StreamingIngest.scrubbedIngestBatch(df(11L -> "gamma delta"), store, 1L)
    assert(StreamingIngest.scrubbedCorpus(spark, store)
      .select(col("doc_id")).as[Long].collect().toSet == Set(1L, 11L))
    // landing drift: batch 1's recomputation now carries only a content
    // dup of batch 0 — admits nothing, so its old partition must go
    // (the pre-fix behavior left doc 11 resurrected forever)
    StreamingIngest.scrubbedIngestBatch(df(11L -> "alpha beta"), store, 1L)
    assert(StreamingIngest.scrubbedCorpus(spark, store)
      .select(col("doc_id")).as[Long].collect().toSet == Set(1L),
      "stale partition must be dropped when the replay admits nothing")
    // empty replay of the only remaining batch: the store itself goes
    StreamingIngest.scrubbedIngestBatch(df(), store, 0L)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store)),
      "an empty store root would wedge reads — it must be removed whole")
    // and the gate still accepts a fresh start afterwards
    StreamingIngest.scrubbedIngestBatch(df(31L -> "eta theta"), store, 2L)
    assert(StreamingIngest.scrubbedCorpus(spark, store)
      .select(col("doc_id")).as[Long].collect().toSet == Set(31L))
  }

  test("fluency-gated ingest: streaming scrub -> quality -> LM gate -> " +
       "exact dedup is ROW-IDENTICAL to the batch composition of the " +
       "same bodies (the d26 stage order), across batches and replays") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    import graft.functions.{TextFunctions => TF}
    import graft.operators.LmFluency
    import spark.implicits._
    val root = Files.createTempDirectory("graft_fluency_ingest").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    val schema = ST(Seq(SF("doc_id", LongType), SF("text", StringType)))
    // the static curated reference the LM trains on (given, not streamed)
    val refDocs = Seq(
      "the cat sat on the mat and the dog ran to the house").toDF("text")
    val model = LmFluency.train(refDocs).persisted()
    def drain(): Unit = {
      val q = StreamingIngest.startFluencyGatedIngest(
        spark.readStream.schema(schema).json(landing), model, store, ckpt)
      q.awaitTermination()
    }
    // batch 0: doc 1 fluent+quality (kept), doc 2 quality-clean but
    // LM-alien (dropped_fluency), doc 3 punct junk (dropped_quality),
    // doc 4 a PII-variant content dup of doc 1 (in-batch dedup victim)
    Files.write(java.nio.file.Paths.get(s"$landing/p1.json"),
      ("""{"doc_id":1,"text":"the cat sat on the mat x0@example.com"}""" + "\n" +
       """{"doc_id":2,"text":"the zebra quantum flies blue nights"}""" + "\n" +
       """{"doc_id":3,"text":"!!! ??? ... ;;; :::"}""" + "\n" +
       """{"doc_id":4,"text":"the cat sat on the mat x1@example.com"}""")
        .getBytes("UTF-8"))
    drain()
    // batch 1: doc 11 re-crawls doc 1 under a third session email
    // (store-probe dedup victim), doc 12 is new and fluent
    Files.write(java.nio.file.Paths.get(s"$landing/p2.json"),
      ("""{"doc_id":11,"text":"the cat sat on the mat x2@example.com"}""" + "\n" +
       """{"doc_id":12,"text":"a dog ran to the house"}""").getBytes("UTF-8"))
    drain()
    def storeRows() = StreamingIngest.scrubbedCorpus(spark, store)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet
    // the batch composition of the SAME bodies over all six docs
    val all = Seq(
      1L -> "the cat sat on the mat x0@example.com",
      2L -> "the zebra quantum flies blue nights",
      3L -> "!!! ??? ... ;;; :::",
      4L -> "the cat sat on the mat x1@example.com",
      11L -> "the cat sat on the mat x2@example.com",
      12L -> "a dog ran to the house").toDF("doc_id", "text")
    val scrubbed = all.withColumn("text", TF.scrubPii(col("text")))
    val quality = scrubbed.filter(TF.qualityKeep(col("text")))
    val fluent = quality.join(
      LmFluency.scoreWith(model, quality).filter(col("keep"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val batchKept = fluent
      .withColumn("fp", TF.fingerprint(col("text")))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .join(fluent, Seq("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet
    assert(batchKept.map(_._1) == Set(1L, 12L), s"fixture drifted: $batchKept")
    assert(storeRows() == batchKept,
      "streamed store must be row-identical to the batch composition")
    // true replay of batch 1 (same data, same id, same gate): identical
    StreamingIngest.scrubbedIngestBatch(
      spark.read.schema(schema).json(s"$landing/p2.json"), store, 1L,
      StreamingIngest.fluencyGate(model))
    assert(storeRows() == batchKept, "replay must replace, not drift")
    // a replay whose gate admits nothing drops the stale partition
    StreamingIngest.scrubbedIngestBatch(
      Seq(21L -> "the zebra quantum flies blue nights").toDF("doc_id", "text"),
      store, 1L, StreamingIngest.fluencyGate(model))
    assert(storeRows().map(_._1) == Set(1L),
      "an all-dropped replay must remove its old partition")
    model.unpersist()
  }

  test("corpus-gated ingest: the FULL d26 stage order — scrub -> quality " +
       "-> LM gate -> exact dedup -> decontamination — streams " +
       "row-identical to the batch composition of the same bodies") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    import graft.functions.{TextFunctions => TF, Hashing}
    import graft.operators.LmFluency
    import spark.implicits._
    val root = Files.createTempDirectory("graft_corpus_ingest").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    val schema = ST(Seq(SF("doc_id", LongType), SF("text", StringType)))
    // one static curated slice serves BOTH roles (d26's convention):
    // the LM trains on it AND its 5-grams are the contamination set
    val refEval = Seq(
      "the cat sat on the mat and the dog ran to the house").toDF("text")
    // the caller-managed-lifetime overload (ADVICE r16): the model and
    // eval shingle set are trained/persisted ONCE here and unpersisted
    // at the end — repeated query starts must not accumulate session-
    // lifetime cached frames the way the convenience form does
    val model = LmFluency.train(refEval).persisted()
    val evalSetShared = StreamingIngest.evalShingleSet(refEval).persist()
    def drain(): Unit = {
      val q = StreamingIngest.startCorpusGatedIngest(
        spark.readStream.schema(schema).json(landing), model,
        evalSetShared, store, ckpt)
      q.awaitTermination()
    }
    // doc 1: fluent (4/5 LM-covered transitions), quality-clean, and
    //   5-gram-CLEAN ('cat sat on the house' != any eval 5-gram) — kept
    // doc 2: fluent (6/7) but shares the eval 5-gram
    //   'and the dog ran to' — must fall at the DECONTAMINATION stage
    // doc 3: quality-clean, LM-alien — dropped at the fluency stage
    Files.write(java.nio.file.Paths.get(s"$landing/p1.json"),
      ("""{"doc_id":1,"text":"cat sat on the house s1@example.com"}""" + "\n" +
       """{"doc_id":2,"text":"and the dog ran to the house x@example.com"}""" + "\n" +
       """{"doc_id":3,"text":"zebra quantum flies blue nights the"}""").getBytes("UTF-8"))
    drain()
    // doc 11: PII-variant re-crawl of doc 1 (dedup-rejected vs the
    // store); doc 12: new, fluent, clean — admitted
    Files.write(java.nio.file.Paths.get(s"$landing/p2.json"),
      ("""{"doc_id":11,"text":"cat sat on the house s2@example.com"}""" + "\n" +
       """{"doc_id":12,"text":"dog ran to the mat q@example.com"}""").getBytes("UTF-8"))
    drain()
    val streamed = StreamingIngest.scrubbedCorpus(spark, store)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet
    // the batch composition of the SAME bodies over all five docs
    val all = Seq(
      1L -> "cat sat on the house s1@example.com",
      2L -> "and the dog ran to the house x@example.com",
      3L -> "zebra quantum flies blue nights the",
      11L -> "cat sat on the house s2@example.com",
      12L -> "dog ran to the mat q@example.com").toDF("doc_id", "text")
    val scrubbed = all.withColumn("text", TF.scrubPii(col("text")))
    val quality = scrubbed.filter(TF.qualityKeep(col("text")))
    val fluent = quality.join(
      LmFluency.score(refEval, quality).filter(col("keep"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val deduped = fluent
      .withColumn("fp", TF.fingerprint(col("text")))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .join(fluent, Seq("doc_id"))
    val evalSet = refEval.select(TF.scrubPii(col("text")).as("text"))
      .select(explode(Hashing.shingleHashSet(TF.tokens(col("text")), 5)).as("s"))
      .distinct()
    val contaminated = deduped
      .select(col("doc_id"),
        explode(Hashing.shingleHashSet(TF.tokens(col("text")), 5)).as("s"))
      .join(evalSet, Seq("s"), "left_semi").select(col("doc_id")).distinct()
    val batchKept = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet
    assert(batchKept.map(_._1) == Set(1L, 12L),
      s"fixture drifted (doc 2 must survive the LM gate and fall ONLY " +
      s"at decontamination): $batchKept")
    assert(streamed == batchKept,
      "streamed store must be row-identical to the batch composition")
    // caller-managed lifetime: after unpersist nothing this test cached
    // survives the queries (the session-leak ADVICE r16 closed)
    model.unpersist()
    evalSetShared.unpersist(blocking = true)
    assert(evalSetShared.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "eval shingle set must not stay cached past the caller's unpersist")
  }

  test("pseudonymized ingest + streaming deletion ledger: the request " +
       "stream equals ONE batch apply of the union ledger, replayed " +
       "request batches are no-ops, and a forgotten doc re-ingests " +
       "against the REWRITTEN store state (stale fp would wrongly drop it)") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Rtbf
    import spark.implicits._
    val rtbfKey = "stream-rtbf-key"
    val root = Files.createTempDirectory("graft_rtbf_stream").toString
    val landing = s"$root/landing"; val store = s"$root/store"
    val reqLanding = s"$root/requests"
    new java.io.File(landing).mkdirs(); new java.io.File(reqLanding).mkdirs()
    val docSchema = ST(Seq(SF("doc_id", LongType), SF("text", StringType)))
    val reqSchema = ST(Seq(SF("label", StringType), SF("value", StringType)))
    val rawDocs = Seq(
      1L -> "ping alice@a.example and call +1-555-0100 now",
      2L -> "cc alice@a.example and also bob@b.example",
      3L -> "only carol@c.example here today friend")
    Files.write(java.nio.file.Paths.get(s"$landing/p1.json"),
      rawDocs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
        .mkString("\n").getBytes("UTF-8"))
    StreamingIngest.startPseudonymizedIngest(
      spark.readStream.schema(docSchema).json(landing), rtbfKey,
      store, s"$root/ckpt_ingest").awaitTermination()
    // linkage preserved: the store carries keyed tags, not blind scrubs
    val stored3 = spark.read.parquet(store).filter(col("doc_id") === 3L)
      .select(col("text")).as[String].head()
    assert(stored3.contains(
      TF.pseudoTag("EMAIL", rtbfKey, "carol@c.example")),
      s"pseudonymized ingest must keep linkable tags: $stored3")
    // deletion requests as a STREAM: two micro-batches (alice's email,
    // then the phone), each folding into one store pass with fp cascade
    val fpCascade = Seq("fp" -> TF.fingerprint(col("text")))
    def drainRequests(): Unit =
      StreamingIngest.startDeletionLedgerIngest(
        spark.readStream.schema(reqSchema).json(reqLanding),
        store, "text", rtbfKey, mac = false, s"$root/ckpt_req",
        derived = fpCascade).awaitTermination()
    Files.write(java.nio.file.Paths.get(s"$reqLanding/r1.json"),
      """{"label":"EMAIL","value":"alice@a.example"}""".getBytes("UTF-8"))
    drainRequests()
    Files.write(java.nio.file.Paths.get(s"$reqLanding/r2.json"),
      """{"label":"PHONE","value":"+1-555-0100"}""".getBytes("UTF-8"))
    drainRequests()
    val streamedRows = spark.read.parquet(store)
      .select(col("doc_id"), col("text"), col("fp"))
      .as[(Long, String, String)].collect().toSet
    // == ONE batch apply of the union ledger on an identically-built
    // batch store
    val batchStore = s"$root/batch_store"
    StreamingIngest.scrubbedIngestBatch(rawDocs.toDF("doc_id", "text"),
      batchStore, 0L, scrub = TF.pseudonymizePii(_, rtbfKey))
    val unionLedger = Seq("EMAIL" -> "alice@a.example",
      "PHONE" -> "+1-555-0100").toDF("label", "value")
    Rtbf.applyLedgerToStore(spark, batchStore, "text", unionLedger,
      rtbfKey, mac = false, derived = fpCascade, freshMillis = 0L)
    val batchRows = spark.read.parquet(batchStore)
      .select(col("doc_id"), col("text"), col("fp"))
      .as[(Long, String, String)].collect().toSet
    assert(streamedRows.map(r => (r._2, r._3)) == batchRows.map(r => (r._2, r._3)),
      "request stream must converge to the one-batch union apply")
    assert(spark.read.parquet(store)
      .filter(col("fp") =!= TF.fingerprint(col("text"))).count() == 0,
      "no stale fp may survive the streaming cascade")
    // replay law: re-applying an already-applied request batch is a no-op
    assert(Rtbf.applyLedgerToStore(spark, store, "text",
      Seq("EMAIL" -> "alice@a.example").toDF("label", "value"),
      rtbfKey, mac = false, derived = fpCascade, freshMillis = 0L).isEmpty,
      "a replayed request batch must find nothing left to forget")
    // forgotten-then-re-ingested: the ORIGINAL content's fingerprint no
    // longer exists in the store (fp was recomputed), so it re-admits…
    def reIngest(batchId: Long, id: Long, text: String): Boolean = {
      StreamingIngest.scrubbedIngestBatch(Seq(id -> text).toDF("doc_id", "text"),
        store, batchId, scrub = TF.pseudonymizePii(_, rtbfKey))
      spark.read.parquet(store).filter(col("doc_id") === id).count() == 1
    }
    assert(reIngest(10L, 21L, rawDocs.head._2),
      "original content must re-admit against the rewritten store state")
    // …while content matching the REWRITTEN state dedups against it
    assert(!reIngest(11L, 22L, "ping <FORGOTTEN> and call <FORGOTTEN> now"),
      "content equal to the rewritten state must dedup against it")
    // counterfactual — the bug the cascade closes: a store whose ledger
    // pass did NOT recompute fp still holds the forgotten content's
    // fingerprint, so the original content is WRONGLY dropped
    val staleStore = s"$root/stale_store"
    StreamingIngest.scrubbedIngestBatch(rawDocs.toDF("doc_id", "text"),
      staleStore, 0L, scrub = TF.pseudonymizePii(_, rtbfKey))
    Rtbf.applyLedgerToStore(spark, staleStore, "text", unionLedger,
      rtbfKey, mac = false, freshMillis = 0L) // no derived recompute
    StreamingIngest.scrubbedIngestBatch(
      Seq(31L -> rawDocs.head._2).toDF("doc_id", "text"),
      staleStore, 10L, scrub = TF.pseudonymizePii(_, rtbfKey))
    assert(spark.read.parquet(staleStore)
      .filter(col("doc_id") === 31L).count() == 0,
      "fixture drifted: the stale-fp store was expected to exhibit the " +
        "wrong drop the cascade exists to prevent")
  }

  test("streaming FULL cascade: the request stream over a store FAMILY " +
       "equals ONE batch cascadeStores of the union ledger; replayed " +
       "request batches touch no file") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Rtbf
    import spark.implicits._
    val rtbfKey = "stream-cascade-key"
    val root = Files.createTempDirectory("graft_cascade_stream").toString
    val reqLanding = s"$root/requests"
    new java.io.File(reqLanding).mkdirs()
    val reqSchema = ST(Seq(SF("label", StringType), SF("value", StringType)))
    // docs 1 and 2 link (alice's email / the phone), 3 doesn't
    val rawDocs = Seq(
      1L -> "ping alice@a.example and call +1-555-0100 now",
      2L -> "cc alice@a.example and also bob@b.example",
      3L -> "only carol@c.example here today friend")
    val fpCascade = Seq("fp" -> TF.fingerprint(col("text")))
    // two identically-built families: streamed (A) vs one-batch (B)
    def buildFamily(tag: String): (String, String, String) = {
      val store = s"$root/store_$tag"
      val vecs = s"$root/vectors_$tag"
      val cells = s"$root/vectors_${tag}_cells_n4"
      StreamingIngest.scrubbedIngestBatch(rawDocs.toDF("doc_id", "text"),
        store, 0L, scrub = TF.pseudonymizePii(_, rtbfKey))
      // vec 1 alone in partition 10 (fully purged -> vanishes), 2+5 in
      // 11 (rewritten, 5 survives), 3 in 12 (unlinked -> untouched)
      Seq((1L, Seq(0.1f, 0.2f), 10L), (2L, Seq(0.3f, 0.4f), 11L),
          (5L, Seq(0.5f, 0.6f), 11L), (3L, Seq(0.7f, 0.8f), 12L))
        .toDF("vec_id", "embedding", "_batch_id")
        .write.partitionBy("_batch_id").parquet(vecs)
      Seq((1L, 0L), (2L, 1L), (3L, 2L), (5L, 3L)).toDF("vec_id", "cell")
        .write.parquet(cells)
      (store, vecs, cells)
    }
    val (storeA, vecsA, cellsA) = buildFamily("a")
    val (storeB, vecsB, cellsB) = buildFamily("b")
    def drainRequests(ckpt: String): Unit =
      StreamingIngest.startCascadeLedgerIngest(
        spark.readStream.schema(reqSchema).json(reqLanding),
        storeA, "text", rtbfKey, mac = false, s"$root/$ckpt",
        derived = fpCascade,
        artifactStores = Seq(vecsA -> "vec_id"),
        sidecars = Seq(cellsA -> "vec_id"),
        freshMillis = 0L).awaitTermination()
    // request stream: two micro-batches, each one cascade pass
    Files.write(java.nio.file.Paths.get(s"$reqLanding/r1.json"),
      """{"label":"EMAIL","value":"alice@a.example"}""".getBytes("UTF-8"))
    drainRequests("ckpt_req")
    Files.write(java.nio.file.Paths.get(s"$reqLanding/r2.json"),
      """{"label":"PHONE","value":"+1-555-0100"}""".getBytes("UTF-8"))
    drainRequests("ckpt_req")
    // == ONE batch cascade of the union ledger over the twin family
    val unionLedger = Seq("EMAIL" -> "alice@a.example",
      "PHONE" -> "+1-555-0100").toDF("label", "value")
    val report = Rtbf.cascadeStores(spark, storeB, "text", unionLedger,
      rtbfKey, mac = false, derived = fpCascade,
      artifactStores = Seq(vecsB -> "vec_id"),
      sidecars = Seq(cellsB -> "vec_id"), freshMillis = 0L)
    assert(report.corpusPartitions.nonEmpty,
      "fixture drifted: the union ledger was expected to link docs")
    def corpusRows(p: String) = spark.read.parquet(p)
      .select(col("text"), col("fp")).as[(String, String)].collect().toSet
    def idSet(p: String) = spark.read.parquet(p)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(corpusRows(storeA) == corpusRows(storeB),
      "request stream must converge to the one-batch union cascade")
    assert(idSet(vecsA) == idSet(vecsB) && idSet(vecsA) == Set(3L, 5L),
      s"forgotten docs' vectors must be purged: ${idSet(vecsA)}")
    assert(idSet(cellsA) == idSet(cellsB) && idSet(cellsA) == Set(3L, 5L),
      s"forgotten docs' sidecar rows must be purged: ${idSet(cellsA)}")
    val fs = new org.apache.hadoop.fs.Path(storeA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$vecsA/_batch_id=10")),
      "a fully-purged artifact partition vanishes under the stream too")
    assert(spark.read.parquet(storeA)
      .filter(col("fp") =!= TF.fingerprint(col("text"))).count() == 0,
      "no stale fp may survive the streaming cascade")
    // replay law at the FILE level: a fresh checkpoint re-fires both
    // request batches; no-op passes must rewrite nothing anywhere
    def familyMtimes(): Map[String, Long] = {
      def mt(p: String): Seq[(String, Long)] = {
        val path = new org.apache.hadoop.fs.Path(p)
        if (!fs.exists(path)) Seq.empty
        else {
          val st = fs.getFileStatus(path)
          if (st.isDirectory)
            fs.listStatus(path).toSeq.flatMap(c => mt(c.getPath.toString))
          else Seq(p -> st.getModificationTime)
        }
      }
      (mt(storeA) ++ mt(vecsA) ++ mt(cellsA)).toMap
    }
    val before = familyMtimes()
    drainRequests("ckpt_req_replay")
    assert(familyMtimes() == before,
      "replayed request batches must leave every file of the family untouched")
  }

  test("snapshot-diff CDC gate: a drifted replay that emits no events " +
       "drops its stale event partition") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_cdc_emptyreplay").toString + "/store"
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamingIngest.snapshotDiffBatch(df(1L -> "alpha"), store, 0L)
    StreamingIngest.snapshotDiffBatch(df(1L -> "alpha2"), store, 1L)
    assert(StreamingIngest.snapshotEvents(spark, store)
      .filter(col("_batch_id") === 1L).count() == 1)
    // drift: the replayed batch 1 now re-presents the batch-0 content —
    // unchanged vs state-minus-own-partition, zero events; the previous
    // attempt's "changed" event must not survive as a ghost
    StreamingIngest.snapshotDiffBatch(df(1L -> "alpha"), store, 1L)
    assert(StreamingIngest.snapshotEvents(spark, store)
      .filter(col("_batch_id") === 1L).count() == 0,
      "ghost event partition survived an empty replay")
    assert(StreamingIngest.snapshotState(spark, store)
      .as[(Long, String)].collect().toMap.keySet == Set(1L))
  }

  test("vector dedup gate: a replay that recomputes to an EMPTY batch " +
       "drops the previous attempt's partition") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_vec_emptyreplay").toString + "/store"
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def df(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    def storedIds(): Set[Long] =
      spark.read.parquet(store).select(col("vec_id")).as[Long].collect().toSet
    StreamingIngest.vectorDedupBatch(df(1L -> vec(1)), store, 0L, 0.95, 64, 512, 32)
    StreamingIngest.vectorDedupBatch(df(2L -> vec(2)), store, 1L, 0.95, 64, 512, 32)
    assert(storedIds() == Set(1L, 2L))
    // landing drift: the replayed batch 1 recomputes to NO rows — the
    // previous attempt's partition must not survive as a ghost in the
    // dedup index (the scrubbed/CDC gates' hazard, same fix)
    StreamingIngest.vectorDedupBatch(df(), store, 1L, 0.95, 64, 512, 32)
    assert(storedIds() == Set(1L),
      "ghost vector partition survived an empty replay")
    // empty replay of the only remaining batch removes the store whole;
    // the gate then accepts a fresh start
    StreamingIngest.vectorDedupBatch(df(), store, 0L, 0.95, 64, 512, 32)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store)))
    StreamingIngest.vectorDedupBatch(df(9L -> vec(9)), store, 2L, 0.95, 64, 512, 32)
    assert(storedIds() == Set(9L))
  }

  test("vector dedup gate (BUCKETED): an empty replay drops the ghost " +
       "partition while its sidecar cells persist as orphans — and the " +
       "orphans are harmless: a near-dup of the DROPPED vector re-admits, " +
       "a near-dup of a live vector still drops, and a store-root " +
       "removal with a surviving whole sidecar accepts a fresh start") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_vec_bkt_emptyreplay")
      .toString + "/store"
    def vec(seed: Int, noise: Double = 0.0): Array[Float] = {
      val r = new scala.util.Random(seed)
      val base = Array.fill(64)(r.nextGaussian())
      val rn = new scala.util.Random(seed + 1000)
      val v = base.map(x => x + noise * rn.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def df(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    def storedIds(): Set[Long] =
      spark.read.parquet(store).select(col("vec_id")).as[Long].collect().toSet
    def gate(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingIngest.vectorDedupBatch(b, store, id, 0.95, 64, 512, 32,
        nCells = Some(8), probes = 2)
    val sidecarPath = s"${store}_cells_n8"
    def sidecarIds(): Set[Long] = spark.read.parquet(sidecarPath)
      .select(col("vec_id")).as[Long].collect().toSet
    gate(df(1L -> vec(1)), 0L)
    gate(df(2L -> vec(2)), 1L)
    assert(storedIds() == Set(1L, 2L) && sidecarIds() == Set(1L, 2L))
    // empty replay of batch 1: the partition drops; the APPEND-ONLY
    // sidecar keeps vec 2's cells as orphans (the documented contract —
    // the probe's inner sig join discards rows the store no longer has)
    gate(df(), 1L)
    assert(storedIds() == Set(1L), "ghost partition survived (bucketed)")
    assert(sidecarIds() == Set(1L, 2L), "sidecar is append-only by design")
    // orphan harmlessness, admit side: a near-dup of the DROPPED vector
    // must be ADMITTED — its only index neighbor exists in the sidecar
    // but not the store
    gate(df(22L -> vec(2, 0.001)), 2L)
    assert(storedIds() == Set(1L, 22L),
      "orphaned sidecar cells must not phantom-drop a re-ingested vector")
    // orphan harmlessness, drop side: with orphans present, a near-dup
    // of a LIVE vector still drops through the bucketed probe, and a
    // novel vector still lands
    gate(df(33L -> vec(1, 0.01), 34L -> vec(34)), 3L)
    assert(storedIds() == Set(1L, 22L, 34L),
      "bucketed probe decisions drifted under orphaned sidecar cells")
    // empty replays of EVERY batch remove the store root while the whole
    // sidecar persists as one big orphan
    gate(df(), 0L); gate(df(), 2L); gate(df(), 3L)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store)),
      "empty store root would wedge reads — it must be removed whole")
    assert(fs.exists(new org.apache.hadoop.fs.Path(sidecarPath)))
    // fresh start against the orphaned sidecar: the first batch admits
    // (nothing stored), its cells append, and the next batch's near-dup
    // probe works against the new row despite the stale rows
    gate(df(41L -> vec(1)), 4L)
    assert(storedIds() == Set(41L),
      "a fresh start must ignore the orphaned sidecar entirely")
    gate(df(42L -> vec(1, 0.01)), 5L)
    assert(storedIds() == Set(41L),
      "the rebuilt store's bucketed probe must still drop near-dups")
  }

  test("top-k maintenance: k-row state tracks the global top-k; replay is a no-op") {
    val root = Files.createTempDirectory("graft_topk").toString
    val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(landing).mkdirs()
    def land(name: String, rows: Seq[(Long, Double)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$landing/$name"),
        rows.map { case (id, v) => s"$id,$v" }.mkString("\n").getBytes("UTF-8"))
    def drain(): Unit = {
      val src = spark.readStream.schema("id LONG, v DOUBLE").csv(landing)
      StreamingIngest.startTopKMaintenance(src, store, ckpt, 3, "v", "id")
        .awaitTermination()
    }
    land("b1.csv", Seq((1L, 10.0), (2L, 50.0), (3L, 20.0), (4L, 5.0)))
    drain()
    import spark.implicits._
    def top(): Seq[(Long, Double)] = spark.read.parquet(store)
      .orderBy(col("v").desc, col("id")).as[(Long, Double)].collect().toSeq
    assert(top() == Seq((2L, 50.0), (3L, 20.0), (1L, 10.0)))
    // replay with no new data: idempotent merge leaves the store unchanged
    drain()
    assert(top() == Seq((2L, 50.0), (3L, 20.0), (1L, 10.0)))
    // a later batch displaces part of the top-k
    land("b2.csv", Seq((5L, 40.0), (6L, 1.0)))
    drain()
    assert(top() == Seq((2L, 50.0), (5L, 40.0), (3L, 20.0)))
  }

  test("top-k maintenance: a TRUE replay (same batch re-applied after the " +
       "store write) cannot double-occupy slots") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_topk_replay").toString + "/store"
    val batch = Seq((1L, 10.0), (2L, 50.0), (3L, 20.0), (4L, 5.0))
      .toDF("id", "v")
    StreamingIngest.topKMergeBatch(batch, store, 3, "v", "id")
    def top(): Seq[(Long, Double)] = spark.read.parquet(store)
      .orderBy(col("v").desc, col("id")).as[(Long, Double)].collect().toSeq
    assert(top() == Seq((2L, 50.0), (3L, 20.0), (1L, 10.0)))
    // the failure mode ADVICE flagged: store write committed, checkpoint
    // commit lost, engine re-runs the SAME batch — its rows are now in
    // both inputs of the union and must collapse, not take extra slots
    StreamingIngest.topKMergeBatch(batch, store, 3, "v", "id")
    assert(top() == Seq((2L, 50.0), (3L, 20.0), (1L, 10.0)))
    // and a genuinely new batch still merges normally afterwards
    StreamingIngest.topKMergeBatch(Seq((5L, 40.0)).toDF("id", "v"),
      store, 3, "v", "id")
    assert(top() == Seq((2L, 50.0), (5L, 40.0), (3L, 20.0)))
  }

  test("vector dedup ingest gate: index probes drop near-dups, survivors " +
       "append, replays replace (idempotent), within-batch dups collapse") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_vec_ingest").toString + "/store"
    def vec(seed: Int, noise: Double = 0.0): Array[Float] = {
      val r = new scala.util.Random(seed)
      val base = Array.fill(64)(r.nextGaussian())
      val rn = new scala.util.Random(seed + 1000)
      val v = base.map(x => x + noise * rn.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def df(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    def storedIds(): Set[Long] =
      spark.read.parquet(store).select(col("vec_id")).as[Long].collect().toSet

    // batch 0: three distinct vectors + a within-batch near-dup of id 1
    // (same seed, tiny noise) — the higher id of the dup pair drops
    StreamingIngest.vectorDedupBatch(
      df(1L -> vec(1), 2L -> vec(2), 3L -> vec(3), 4L -> vec(1, 0.01)),
      store, 0L, 0.95, 64, 512, 32)
    assert(storedIds() == Set(1L, 2L, 3L))

    // batch 1: a near-dup of stored id 2 (dropped via the index probe)
    // and a novel vector (survives)
    StreamingIngest.vectorDedupBatch(
      df(10L -> vec(2, 0.01), 11L -> vec(11)),
      store, 1L, 0.95, 64, 512, 32)
    assert(storedIds() == Set(1L, 2L, 3L, 11L))

    // TRUE replay of batch 1 (store write committed, checkpoint lost):
    // its own partition must not probe as "the index" — the partition is
    // REPLACED, not emptied and not duplicated
    StreamingIngest.vectorDedupBatch(
      df(10L -> vec(2, 0.01), 11L -> vec(11)),
      store, 1L, 0.95, 64, 512, 32)
    assert(storedIds() == Set(1L, 2L, 3L, 11L))
    assert(spark.read.parquet(store).count() == 4)

    // and the streaming wrapper drives the same path end-to-end on a
    // fresh store (micro-batch ids are assigned by the engine, so the
    // wrapper gets its own store rather than colliding with the manual
    // batch ids above): batch 0 seeds the index, batch 1 probes it
    val store2 = Files.createTempDirectory("graft_vec_ingest2").toString + "/store"
    val landing = Files.createTempDirectory("graft_vec_land").toString
    val ckpt = Files.createTempDirectory("graft_vec_ckpt").toString
    def drain(): Unit = {
      val src = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .parquet(s"$landing/*") // each landed batch is a parquet DIR
      StreamingIngest.startVectorDedupIngest(src, store2, ckpt)
        .awaitTermination()
    }
    def stored2(): Set[Long] =
      spark.read.parquet(store2).select(col("vec_id")).as[Long].collect().toSet
    df(20L -> vec(20), 21L -> vec(21), 22L -> vec(20, 0.01))
      .write.parquet(s"$landing/b0.parquet")
    drain()
    assert(stored2() == Set(20L, 21L)) // within-batch dup 22 dropped
    df(30L -> vec(21, 0.01), 31L -> vec(31))
      .write.parquet(s"$landing/b1.parquet")
    drain()
    assert(stored2() == Set(20L, 21L, 31L)) // index probe dropped 30
  }

  test("vector dedup gate edges: empty first batch writes nothing (store " +
       "not poisoned); an index-dropped row does not drag down a unique " +
       "later row") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_vec_edge").toString + "/store"
    def vec(seed: Int, noise: Double = 0.0): Array[Float] = {
      val r = new scala.util.Random(seed)
      val base = Array.fill(64)(r.nextGaussian())
      val rn = new scala.util.Random(seed + 1000)
      val v = base.map(x => x + noise * rn.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def df(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    // rotate `base` toward the part of `other` orthogonal to it, landing
    // at exactly cos(result, base) = c
    def mix(base: Array[Float], other: Array[Float], c: Double): Array[Float] = {
      val s = math.sqrt(1 - c * c)
      val dot = base.zip(other).map { case (p, q) => p.toDouble * q }.sum
      val orth = other.zip(base).map { case (q, p) => q - (dot * p).toFloat }
      val on = math.sqrt(orth.map(z => z.toDouble * z).sum)
      base.zip(orth).map { case (p, o) => (c * p + s * o / on).toFloat }
    }
    // empty batch on a fresh store: a zero-row partitioned write would
    // create a schemaless dir and wedge every later read
    StreamingIngest.vectorDedupBatch(
      df().select(col("vec_id"), col("embedding")), store, 0L, 0.95, 64, 512, 32)
    assert(!new java.io.File(store).exists())
    // regression for the unanchored pair rule: stored anchor x; batch of
    // ax (cos(ax, x) ≈ 0.96 → dropped by the index probe) and b with
    // cos(b, ax) ≈ 0.96 but cos(b, x) ≈ 0.92 < threshold — b is NOT a
    // near-dup of anything stored and must survive even though its
    // lower-id batch neighbor ax was dropped
    val x = vec(7)
    val u = vec(8)
    StreamingIngest.vectorDedupBatch(df(1L -> x), store, 0L, 0.95, 64, 512, 32)
    val ax = mix(x, u, 0.96)
    val b = mix(ax, u, 0.96)
    val cosBX = b.zip(x).map { case (p, q) => p.toDouble * q }.sum
    assert(cosBX < 0.95, s"test construction: cos(b, x) = $cosBX must be below threshold")
    StreamingIngest.vectorDedupBatch(df(10L -> ax, 11L -> b), store, 1L, 0.95, 64, 512, 32)
    val ids = spark.read.parquet(store).select(col("vec_id")).as[Long].collect().toSet
    assert(ids == Set(1L, 11L),
      s"ax (10) must drop vs index, unique b (11) must survive; got $ids")
  }

  test("watermarked windowed aggregation emits per-window per-type totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedEventAgg(events, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Update()).start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2025-03-17 $h%02d:$m%02d:00")
    mem.addData((ts(10, 5), "click", 1.0), (ts(10, 40), "click", 2.0), (ts(11, 10), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_agg").orderBy(col("window_start"), col("event_type"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    q.stop()
    assert(rows.toSeq == Seq(
      (ts(10, 0), "click", 2L, 3.0),
      (ts(11, 0), "view", 1L, 5.0)))
  }

  test("state timeout: updates re-arm the idle clock, a fired timeout evicts the key") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // data path: totals update and the processing-time timeout is armed
    val live = TestGroupState.create[StreamingIngest.UserStats](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val out = StreamingIngest.statsTransition(useTimeout = true, idleTimeoutMs = 60000L)(
      7L, Iterator(StreamingIngest.Event(7L, "click", 2.0)), live)
    assert(out == StreamingIngest.UserStats(7L, 1L, 2.0))
    assert(live.isUpdated)
    assert(live.getTimeoutTimestampMs.isPresent, "timeout must be armed on update")
    // timeout path: state is REMOVED (bounded state), final snapshot emitted
    val timedOut = TestGroupState.create[StreamingIngest.UserStats](
      Optional.of(StreamingIngest.UserStats(7L, 3L, 9.0)),
      GroupStateTimeout.ProcessingTimeTimeout,
      5000L, Optional.empty[Long](), hasTimedOut = true)
    val fin = StreamingIngest.statsTransition(useTimeout = true, idleTimeoutMs = 60000L)(
      7L, Iterator.empty, timedOut)
    assert(fin == StreamingIngest.UserStats(7L, 3L, 9.0))
    assert(timedOut.isRemoved, "idle key state must be evicted on timeout")
  }

  test("funnel transition: ordered advances only, strictly-later times, timeout evicts") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingIngest.{FunnelEvent, FunnelState, StageAdvance}
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val stages = Seq("view", "click", "purchase")
    val live = TestGroupState.create[FunnelState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    // out-of-order batch: click@5 view@1 purchase@3 — view advances to 1,
    // then click@5 to 2; purchase@3 is NOT after the click => no stage 3
    val out = StreamingIngest.funnelTransition(stages, useTimeout = true, 60000L)(
      7L, Iterator(FunnelEvent(7L, "click", ts(5)), FunnelEvent(7L, "view", ts(1)),
        FunnelEvent(7L, "purchase", ts(3))), live).toSeq
    assert(out == Seq(StageAdvance(7L, 1, ts(1)), StageAdvance(7L, 2, ts(5))))
    assert(live.get == FunnelState(2, 5L) && live.getTimeoutTimestampMs.isPresent)
    // a later purchase completes the funnel; re-delivery advances nothing
    val live2 = TestGroupState.create[FunnelState](
      Optional.of(FunnelState(2, 5L)), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val out2 = StreamingIngest.funnelTransition(stages, useTimeout = true, 60000L)(
      7L, Iterator(FunnelEvent(7L, "purchase", ts(9)),
        FunnelEvent(7L, "purchase", ts(11))), live2).toSeq
    assert(out2 == Seq(StageAdvance(7L, 3, ts(9))))
    // timeout path evicts
    val timedOut = TestGroupState.create[FunnelState](
      Optional.of(FunnelState(3, 9L)), GroupStateTimeout.ProcessingTimeTimeout,
      5000L, Optional.empty[Long](), hasTimedOut = true)
    assert(StreamingIngest.funnelTransition(stages, useTimeout = true, 60000L)(
      7L, Iterator.empty, timedOut).isEmpty)
    assert(timedOut.isRemoved)
  }

  test("funnelStream emits each advancement exactly once across micro-batches") {
    import spark.implicits._
    import StreamingIngest.FunnelEvent
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val q = StreamingIngest.funnelStream(mem.toDS(),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    mem.addData(FunnelEvent(1L, "view", ts(1000)), FunnelEvent(2L, "click", ts(1000)))
    q.processAllAvailable()
    mem.addData(FunnelEvent(1L, "click", ts(2000)), FunnelEvent(2L, "view", ts(2000)),
      FunnelEvent(1L, "purchase", ts(3000)))
    q.processAllAvailable()
    val rows = spark.table("funnel_out")
      .as[StreamingIngest.StageAdvance].collect().toSet
    q.stop()
    // user 1: view(1)->click(2)->purchase(3); user 2's click arrived BEFORE
    // its view, so it only reaches stage 1 (view@2000)
    assert(rows == Set(
      StreamingIngest.StageAdvance(1L, 1, ts(1000)),
      StreamingIngest.StageAdvance(1L, 2, ts(2000)),
      StreamingIngest.StageAdvance(1L, 3, ts(3000)),
      StreamingIngest.StageAdvance(2L, 1, ts(2000))))
  }

  test("mapGroupsWithState keeps running per-user totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Event]
    val stats = StreamingIngest.runningUserStats(mem.toDS())
    val q = stats.writeStream.format("memory").queryName("user_stats")
      .outputMode(OutputMode.Update()).start()
    mem.addData(StreamingIngest.Event(1L, "click", 1.0), StreamingIngest.Event(2L, "view", 4.0))
    q.processAllAvailable()
    mem.addData(StreamingIngest.Event(1L, "click", 2.5))
    q.processAllAvailable()
    val last = spark.table("user_stats")
      .groupBy(col("user_id")).agg(max(col("n")).as("n"), max(col("sum_value")).as("s"))
      .orderBy(col("user_id")).as[(Long, Long, Double)].collect()
    q.stop()
    assert(last.toSeq == Seq((1L, 2L, 3.5), (2L, 1L, 4.0)))
  }

  test("streaming dedup drops same-fingerprint re-arrivals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val docs = mem.toDS().toDF("ts", "text")
    val out = StreamingIngest.dedupedDocStream(docs)
    val q = out.writeStream.format("memory").queryName("dedup_docs")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 10:00:00"), "hello world"), (t("2024-01-01 10:00:01"), "other doc"))
    q.processAllAvailable()
    // same content, different whitespace/case -> same fingerprint -> dropped
    mem.addData((t("2024-01-01 10:05:00"), "  Hello   WORLD "), (t("2024-01-01 10:06:00"), "third doc"))
    q.processAllAvailable()
    val texts = spark.table("dedup_docs").select(col("text")).as[String].collect().toSet
    q.stop()
    assert(texts == Set("hello world", "other doc", "third doc"))
  }

  test("stream-stream join matches orders in the trailing hour, drops out-of-range ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(java.sql.Timestamp, Long)]
    val ordMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val joined = StreamingIngest.ordersWithinHourJoin(
      evMem.toDF().toDF("ts", "user_id"),
      ordMem.toDF().toDF("ots", "o_user_id", "o_orderkey"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    ordMem.addData(
      (t("2024-01-01 09:30:00"), 1L, 100L),  // 30 min before the event: in range
      (t("2024-01-01 08:30:00"), 1L, 101L),  // 90 min before: out of range
      (t("2024-01-01 09:45:00"), 2L, 102L))  // other user
    evMem.addData((t("2024-01-01 10:00:00"), 1L))
    q.processAllAvailable()
    val rows = spark.table("ss_join")
      .select(col("user_id"), col("o_orderkey")).as[(Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((1L, 100L)))
  }

  test("left-outer attribution join: converted impressions pair with their click, " +
       "unconverted ones emit NULL after the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val impMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val clkMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val joined = StreamingIngest.impressionAttributionJoin(
      impMem.toDF().toDF("its", "user_id", "imp_id"),
      clkMem.toDF().toDF("cts", "c_user_id", "click_id"))
    val q = joined.writeStream.format("memory").queryName("attr_join")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    impMem.addData(
      (t("2024-01-01 10:00:00"), 1L, 500L),  // converts (click at +10 min)
      (t("2024-01-01 10:00:00"), 2L, 501L),  // never clicks
      (t("2024-01-01 10:00:00"), 3L, 502L))  // clicks TWICE in-window
    clkMem.addData(
      (t("2024-01-01 10:10:00"), 1L, 900L),  // inside the 30-min window
      (t("2024-01-01 11:30:00"), 2L, 901L),  // user 2, but far past the window
      (t("2024-01-01 10:05:00"), 3L, 902L),
      (t("2024-01-01 10:20:00"), 3L, 903L))
    q.processAllAvailable()
    // push BOTH watermarks past 10:30 (wm = max event time - 1h), then run
    // another trigger: outer rows emit on the trigger AFTER the advance
    impMem.addData((t("2024-01-01 13:00:00"), 9L, 999L))
    clkMem.addData((t("2024-01-01 13:00:00"), 9L, 998L))
    q.processAllAvailable()
    impMem.addData((t("2024-01-01 13:00:01"), 9L, 997L))
    q.processAllAvailable()
    val rows = spark.table("attr_join")
      .select(col("imp_id"), col("click_id")).as[(Long, Option[Long])]
      .collect().toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    q.stop()
    assert(rows(500L) == Seq(Some(900L)), s"converted impression: $rows")
    assert(rows(501L) == Seq(None),
      s"unconverted impression must emit exactly one NULL row: $rows")
    assert(rows(502L).toSet == Set(Some(902L), Some(903L)),
      s"two in-window clicks must fan out to two rows, no NULL row: $rows")
  }

  test("session transition: gap break closes a session, timeout evicts the open one") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingIngest.{ClosedSession, SessionEvent, SessionState}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val gap = 1800000L // 30 min
    // one batch containing a within-gap extension AND a gap break: the
    // first session closes, the second stays open in state
    val live = TestGroupState.create[SessionState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val closed = StreamingIngest.sessionTransition(gap)(7L, Iterator(
      SessionEvent(7L, t("2024-01-01 10:00:00")),
      SessionEvent(7L, t("2024-01-01 10:10:00")),
      SessionEvent(7L, t("2024-01-01 12:00:00"))), live).toSeq
    assert(closed == Seq(ClosedSession(7L,
      t("2024-01-01 10:00:00"), t("2024-01-01 10:10:00"), 2L)))
    assert(live.get == SessionState(
      t("2024-01-01 12:00:00").getTime, t("2024-01-01 12:00:00").getTime, 1L))
    assert(live.getTimeoutTimestampMs.isPresent, "idle timeout must be armed")
    // timeout path: the open session is emitted once and the key evicted
    val timedOut = TestGroupState.create[SessionState](
      Optional.of(SessionState(1000L, 2000L, 3L)),
      GroupStateTimeout.ProcessingTimeTimeout,
      5000L, Optional.empty[Long](), hasTimedOut = true)
    val fin = StreamingIngest.sessionTransition(gap)(7L, Iterator.empty, timedOut).toSeq
    assert(fin == Seq(ClosedSession(7L,
      new java.sql.Timestamp(1000L), new java.sql.Timestamp(2000L), 3L)))
    assert(timedOut.isRemoved, "open-session state must be evicted on timeout")
  }

  test("sessionStream emits closed sessions exactly once across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingIngest.SessionEvent
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // NoTimeout here on purpose: ProcessingTimeTimeout + the default
    // zero-interval trigger spins empty micro-batches to check timers,
    // so processAllAvailable never quiesces in a test harness; the
    // timeout/eviction path is covered by the TestGroupState test above
    val mem = MemoryStream[SessionEvent]
    val q = StreamingIngest.sessionStream(mem.toDS(),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    mem.addData(SessionEvent(1L, t("2024-01-01 10:00:00")),
      SessionEvent(1L, t("2024-01-01 10:20:00")))
    q.processAllAvailable()
    assert(spark.table("sessions").isEmpty) // still open — nothing closed yet
    // a later batch breaks the gap: the first session closes exactly once
    mem.addData(SessionEvent(1L, t("2024-01-01 14:00:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .as[StreamingIngest.ClosedSession].collect().toSeq
    q.stop()
    assert(rows == Seq(StreamingIngest.ClosedSession(1L,
      t("2024-01-01 10:00:00"), t("2024-01-01 10:20:00"), 2L)))
  }

  test("runningUserStats rejects EventTimeTimeout up front (needs a timestamp policy)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val events = Seq(StreamingIngest.Event(1L, "click", 1.0)).toDS()
    intercept[IllegalArgumentException] {
      StreamingIngest.runningUserStats(events, GroupStateTimeout.EventTimeTimeout)
    }
  }

  test("conversionStream: error blocks, window expires, re-view re-arms; " +
       "each conversion exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingIngest.{Conversion, PatternEvent}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[PatternEvent]
    val q = StreamingIngest.conversionStream(mem.toDS(),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("conversions")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      PatternEvent(1L, 1L, "view", t("2024-01-01 10:00:00")),
      PatternEvent(1L, 2L, "purchase", t("2024-01-01 10:10:00")), // clean
      PatternEvent(2L, 3L, "view", t("2024-01-01 10:00:00")),
      PatternEvent(2L, 4L, "error", t("2024-01-01 10:05:00")),
      PatternEvent(2L, 5L, "purchase", t("2024-01-01 10:10:00"))) // blocked
    q.processAllAvailable()
    // state survives micro-batch boundaries: the re-view after the error
    // re-arms user 2; user 3's purchase is outside the 30-minute window
    mem.addData(
      PatternEvent(2L, 6L, "view", t("2024-01-01 10:20:00")),
      PatternEvent(2L, 7L, "purchase", t("2024-01-01 10:25:00")), // clean
      PatternEvent(3L, 8L, "view", t("2024-01-01 09:00:00")),
      PatternEvent(3L, 9L, "purchase", t("2024-01-01 10:00:00"))) // too late
    q.processAllAvailable()
    val rows = spark.table("conversions").as[Conversion].collect().toSet
    q.stop()
    assert(rows == Set(
      Conversion(1L, 2L, t("2024-01-01 10:00:00"), t("2024-01-01 10:10:00"), 600L),
      Conversion(2L, 7L, t("2024-01-01 10:20:00"), t("2024-01-01 10:25:00"), 300L)))
  }

  test("patternTransition keeps clicks-only keys OUT of the state store") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingIngest.{PatternEvent, PatternState}
    val gs = TestGroupState.create[PatternState](
      Optional.empty(), GroupStateTimeout.NoTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val out = StreamingIngest.patternTransition(1800L, useTimeout = false, 0L)(
      9L, Iterator(PatternEvent(9L, 1L, "click", new java.sql.Timestamp(0L)),
        PatternEvent(9L, 2L, "signup", new java.sql.Timestamp(1000L))), gs)
    assert(out.isEmpty)
    assert(!gs.exists && !gs.isUpdated,
      "no view/error history => no state-store row for this key")
  }

  test("conversionStream model check: random event sequences under random " +
       "batch boundaries match a reference state machine") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingIngest.{Conversion, PatternEvent, PatternState}
    val types = Array("view", "error", "purchase", "click")
    for (seed <- Seq(5, 61, 777)) {
      val rnd = new scala.util.Random(seed)
      val events = (1 to 60).map { i =>
        PatternEvent(1L, i.toLong, types(rnd.nextInt(types.length)),
          new java.sql.Timestamp(1700000000000L + i * rnd.nextInt(400000).toLong))
      }.sortBy(e => (e.ts.getTime, e.event_id))
      // reference machine over the FULL ordered sequence
      var view: Option[java.sql.Timestamp] = None
      var error: Option[java.sql.Timestamp] = None
      val expected = events.flatMap { e =>
        val hit = e.event_type match {
          case "purchase" => view.collect {
            case v if e.ts.getTime / 1000 - v.getTime / 1000 <= 1800 &&
                      error.forall(_.compareTo(v) < 0) =>
              (e.event_id, e.ts.getTime / 1000 - v.getTime / 1000)
          }
          case _ => None
        }
        if (e.event_type == "view") view = Some(e.ts)
        if (e.event_type == "error") error = Some(e.ts)
        hit
      }.toSet
      // operator: same events through RANDOM batch boundaries
      var state = Optional.empty[PatternState]()
      val got = scala.collection.mutable.Set.empty[(Long, Long)]
      var rest = events
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(7)
        val (batch, tail) = rest.splitAt(take)
        val gs = TestGroupState.create[PatternState](
          state, GroupStateTimeout.NoTimeout,
          1000L, Optional.empty[Long](), hasTimedOut = false)
        StreamingIngest.patternTransition(1800L, useTimeout = false, 0L)(
          1L, batch.iterator, gs).foreach { c: Conversion =>
          got += ((c.event_id, c.secs_to_convert))
        }
        state = if (gs.exists) Optional.of(gs.get) else Optional.empty()
        rest = tail
      }
      assert(got.toSet == expected, s"seed $seed conversion drift")
    }
  }

  test("conversionStream parity: identical rows to batch q65 on the harness " +
       "events fed as in-order micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingIngest.{Conversion, PatternEvent}
    val dir = "/root/testdata/sf0.001"
    val events = Queries.eventsTable(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[PatternEvent].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val batches = events.grouped(math.max(1, events.length / 3)).toSeq
    val mem = MemoryStream[PatternEvent]
    val q = StreamingIngest.conversionStream(mem.toDS(),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("conv_parity")
      .outputMode(OutputMode.Append()).start()
    batches.foreach { b => mem.addData(b.toIndexedSeq); q.processAllAvailable() }
    val streamed = spark.table("conv_parity").as[Conversion].collect()
      .map(c => (c.user_id, c.event_id, c.view_ts, c.purchase_ts, c.secs_to_convert))
      .toSet
    q.stop()
    val batch = SparkEntry.queries("q65_pattern_match")(spark, dir)
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "parity is vacuous — no conversions at this SF")
  }

  test("rateAnomalyStream: spike and drop each emitted exactly once; law vs segment model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingIngest.{RateAnomaly, RateEvent}
    val (alpha, thr, warmup, maxGap) = (0.3, 3.0, 5, 1440)
    // independent model: segment the key's minutes at >maxGap gaps, then
    // fold the EWMA chart over each segment's CLOSED minutes (first
    // through last-1, empty minutes as 0) — a different route to the
    // same contract than the incremental per-event state machine
    def model(keyTimes: Map[String, Seq[Long]]): Seq[RateAnomaly] =
      keyTimes.toSeq.flatMap { case (k, times) =>
        val ms = times.map(Math.floorDiv(_, 60000L)).sorted
        val counts = ms.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val distinct = ms.distinct
        val segments = distinct.tail.foldLeft(List(List(distinct.head))) {
          case (acc, m) if m - acc.head.head <= maxGap => (m :: acc.head) :: acc.tail
          case (acc, m) => List(m) :: acc
        }.map(_.reverse).reverse
        segments.flatMap { seg =>
          var (mean, varE) = (0.0, 0.0); var n = 0L
          (seg.head until seg.last).flatMap { m =>
            val c = counts.getOrElse(m, 0L)
            val sd = math.sqrt(varE); val dev = c - mean
            val hit = n >= warmup && sd > 0 && math.abs(dev / sd) >= thr
            val res = if (hit) Some(RateAnomaly(k,
              new java.sql.Timestamp(m * 60000L), c, mean, dev / sd)) else None
            mean += alpha * dev; varE = (1 - alpha) * varE + alpha * dev * dev
            n += 1
            res
          }
        }
      }
    def ev(k: String, minute: Int, secs: Int*) =
      secs.map(s2 => RateEvent(k, new java.sql.Timestamp(minute * 60000L + s2 * 1000L)))
    val load = // steady 2/min, a 30-event spike at minute 10, then steady
      (0 to 9).flatMap(m => ev("load", m, 5, 35)) ++
      ev("load", 10, (0 until 30).map(i => i * 2): _*) ++
      (11 to 13).flatMap(m => ev("load", m, 5, 35)) ++
      ev("load", 20, 5, 35) ++ ev("load", 21, 5)
    val drop = // steady 10/min, then silence — zeros closed by minute 13
      (0 to 9).flatMap(m => ev("drop", m, (0 until 10).map(i => i * 6): _*)) ++
      ev("drop", 13, 30)
    val err = (0 to 12).flatMap(m => ev("err", m, 7)) // steady control
    val all = load ++ drop ++ err
    val want = model(all.groupBy(_.event_type).view
      .mapValues(_.map(_.ts.getTime)).toMap)
    val mem = MemoryStream[RateEvent]
    val q = StreamingIngest.rateAnomalyStream(mem.toDS(),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("rate_anomalies")
      .outputMode(OutputMode.Append()).start()
    // per-key time order preserved across the splits; boundaries land
    // mid-minute so open-minute state must survive micro-batch edges
    val sorted = all.sortBy(_.ts.getTime)
    Seq(sorted.take(25), sorted.slice(25, 26 + 70), sorted.drop(96))
      .foreach { chunk => mem.addData(chunk: _*); q.processAllAvailable() }
    val got = spark.table("rate_anomalies").as[RateAnomaly].collect().toSeq
    q.stop()
    assert(got.sortBy(a => (a.event_type, a.minute_start.getTime)) ==
      want.sortBy(a => (a.event_type, a.minute_start.getTime)),
      s"got=$got want=$want")
    assert(got.exists(a => a.event_type == "load" &&
      a.minute_start.getTime == 10 * 60000L && a.z > 0), "spike caught")
    assert(got.exists(a => a.event_type == "drop" && a.count == 0L && a.z < 0),
      "silent drop caught")
    assert(!got.exists(_.event_type == "err"), "steady control stays quiet")
  }

  test("rateTransition: > maxGap silence scores the flatline onset then resets; " +
       "timeout reports the silence before evicting") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingIngest.{RateEvent, RateState}
    // tight chart (sd = 0.5) so the discard-scoring paths visibly fire
    val warmed = RateState(minute = 0L, count = 5L, mean = 10.0,
      varEwma = 0.25, nMinutes = 100L)
    val gs = TestGroupState.create[RateState](
      Optional.of(warmed), GroupStateTimeout.NoTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    // minute 2000 is 2000 > 1440 minutes past the open minute: a
    // backfill would close 1999 synthetic zero-minutes; instead the
    // pre-gap open minute and ONE silence-onset zero-minute are scored,
    // then the chart restarts cold at the new minute
    val out = StreamingIngest.rateTransition(0.3, 3.0, 5, 1440,
      useTimeout = false, 0L)(
      "load", Iterator(RateEvent("load", new java.sql.Timestamp(2000L * 60000L))), gs)
      .toSeq
    assert(out.map(a => (a.minute_start.getTime / 60000L, a.count)) ==
      Seq((0L, 5L), (1L, 0L)),
      s"pre-gap minute + silence onset scored, nothing else: $out")
    assert(out.forall(_.z < 0), "both are drop signals")
    assert(gs.get == RateState(2000L, 1L, 0.0, 0.0, 0L), "cold restart")
    // a permanently dead source: the idle timeout must REPORT the
    // flatline (open minute + silence onset), not silently evict
    val timedOut = TestGroupState.create[RateState](
      Optional.of(warmed), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.of(500L), hasTimedOut = true)
    val tOut = StreamingIngest.rateTransition(0.3, 3.0, 5, 1440,
      useTimeout = true, 3600000L)("load", Iterator.empty, timedOut).toSeq
    assert(tOut.map(a => (a.minute_start.getTime / 60000L, a.count)) ==
      Seq((0L, 5L), (1L, 0L)), s"timeout scores before evicting: $tOut")
    assert(timedOut.isRemoved, "idle key leaves the state store")
  }

  test("an empty first micro-batch leaves no store root, and the next " +
       "batch's view equals a full recompute (plain append, agg and " +
       "distinct maintenance)") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.StreamingQuery
    import spark.implicits._
    val events = Seq(("view", 1L, 10.0), ("click", 2L, 5.0), ("view", 2L, 7.0))
    val all = events.toDF("event_type", "user_id", "value")
    def rows(df: DataFrame): Set[Row] = df.collect().toSet
    val cases = Seq[(String, (DataFrame, String, String) => StreamingQuery,
                     String => Set[Row], Set[Row])](
      ("plain append", StreamingIngest.startIdempotentAppend(_, _, _),
        store => rows(spark.read.parquet(store)
          .select(col("event_type"), col("user_id"), col("value"))),
        rows(all)),
      ("agg maintenance", StreamingIngest.startAggMaintenance(_, _, _),
        store => rows(StreamingIngest.aggView(spark, store)),
        rows(all.groupBy(col("user_id")).agg(count(lit(1)).as("n"),
          sum(col("value")).as("sum_value")))),
      ("distinct maintenance", StreamingIngest.startDistinctMaintenance(_, _, _),
        store => rows(StreamingIngest.distinctView(spark, store)),
        rows(graft.Queries.hllEstimate(
            graft.Queries.hllRegisters(all, Seq("event_type")), Seq("event_type"))
          .select(col("event_type"), graft.Queries.hllHarmonic.as("est_distinct")))))
    for ((name, start, view, expected) <- cases) {
      val root = Files.createTempDirectory("graft_empty_first").toString
      val landing = s"$root/landing"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
      new java.io.File(landing).mkdirs()
      def drain(): Unit = start(spark.readStream
        .schema("event_type STRING, user_id LONG, value DOUBLE").csv(landing),
        store, ckpt).awaitTermination()
      Files.write(java.nio.file.Paths.get(s"$landing/b0.csv"), Array.emptyByteArray)
      drain()
      assert(new java.io.File(s"$ckpt/commits/0").exists, s"$name: batch 0 never ran")
      assert(!new java.io.File(store).exists,
        s"$name: an empty batch 0 left a store root behind")
      Files.write(java.nio.file.Paths.get(s"$landing/b1.csv"),
        events.map { case (k, u, v) => s"$k,$u,$v" }.mkString("\n").getBytes("UTF-8"))
      drain()
      assert(view(store) == expected, s"$name: view after batch 1")
    }
  }

  test("a batch write that throws fails the query with its own exception") {
    val root = Files.createTempDirectory("graft_failed_write").toString
    val landing = s"$root/landing"
    new java.io.File(landing).mkdirs()
    Files.write(java.nio.file.Paths.get(s"$landing/b0.csv"), "view,1,1.0".getBytes("UTF-8"))
    val src = spark.readStream.schema("event_type STRING, user_id LONG, value DOUBLE")
      .csv(landing)
      .withColumn("value", when(col("user_id") > 0,
        raise_error(lit("planted write failure"))).otherwise(col("value")))
    val q = StreamingIngest.startIdempotentAppend(src, s"$root/store", s"$root/ckpt")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(q.exception.exists(e => causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("planted write failure")))),
      s"the query must fail with the write's own exception: ${q.exception}")
  }

  test("a scrubbed-ingest batch against an existing store runs no job " +
       "before its write: no guard count() and no footer-inference read") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftBridge
    import spark.implicits._
    val store = Files.createTempDirectory("graft_scrub_jobs").toString + "/store"
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamingIngest.scrubbedIngestBatch(df(1L -> "alpha beta", 2L -> "gamma delta"), store, 0L)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      StreamingIngest.scrubbedIngestBatch(
        df(11L -> "alpha beta", 12L -> "epsilon zeta"), store, 1L)
      GraftBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    // the write's own query stages and broadcasts; a guard count() before
    // it would re-run the probe's stages, and an inferring store read
    // would add a footer job
    assert(jobs.get == 11, s"saw ${jobs.get} jobs")
  }

  test("the public store views read their declared layouts: building one " +
       "submits no footer-inference job, and _batch_id is a LongType") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val root = Files.createTempDirectory("graft_view_jobs").toString
    val scrubbed = s"$root/scrubbed"; val events = s"$root/events"
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamingIngest.scrubbedIngestBatch(df(1L -> "alpha beta"), scrubbed, 0L)
    StreamingIngest.snapshotDiffBatch(df(1L -> "alpha"), events, 0L)
    val sc = spark.sparkContext
    for ((name, view) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "scrubbedCorpus" -> (() => StreamingIngest.scrubbedCorpus(spark, scrubbed)),
        "snapshotEvents" -> (() => StreamingIngest.snapshotEvents(spark, events)),
        "snapshotState" -> (() => StreamingIngest.snapshotState(spark, events)))) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      GraftBridge.drainListeners(sc)
      sc.addSparkListener(listener)
      val v = try { val v = view(); GraftBridge.drainListeners(sc); v }
        finally sc.removeSparkListener(listener)
      assert(jobs.get == 0, s"$name: building the view submitted ${jobs.get} jobs")
      if (name != "snapshotState")
        assert(v.schema("_batch_id").dataType == LongType, s"$name: ${v.schema}")
    }
  }
}
