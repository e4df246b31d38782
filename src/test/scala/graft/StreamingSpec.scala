package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.Event

/** Streaming surface: watermarked dedup, session windows under
  * readStream, and the custom flatMapGroupsWithState sessionizer.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
    Event(2L, ts("2024-01-01 10:10:00"), 1L, "click", 2.0),
    Event(3L, ts("2024-01-01 11:30:00"), 1L, "view", 3.0),
    Event(4L, ts("2024-01-01 09:00:00"), 2L, "click", 4.0),
    // duplicate of event 4's (user, type) within the horizon
    Event(5L, ts("2024-01-01 09:10:00"), 2L, "click", 5.0),
  )

  private def streamDir(): String = {
    val dir = Files.createTempDirectory("graft_sj").toString
    events.toDF()
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/in")
    s"$dir/in"
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    ()
  }

  test("hllStream: register state crosses micro-batches, equals batch sketch") {
    val dir = Files.createTempDirectory("graft_hll").toString
    def drop(rows: Seq[Event]): Unit =
      rows.toDF()
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val batch1 = (1L to 40L).map(u =>
      Event(u, ts("2024-01-01 10:00:00"), u, "m", 1.0))
    val batch2 = (30L to 70L).map(u =>
      Event(100 + u, ts("2024-01-01 11:00:00"), u, "m", 1.0))
    drop(batch1); drop(batch2)
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    runToMemory(StreamingJobs.hllStream(in).toDF(), "sj_hll", "update")
    val last = spark.table("sj_hll").orderBy($"used".desc).limit(1)
      .select($"event_type", $"used", $"reg_sum", $"registers")
      .as[(String, Long, Long, Seq[Int])].collect().head
    // final streaming registers == the batch operator on the union
    val bat = graft.ext.Sketches.hllRegisters(
      (batch1 ++ batch2).toDF().select($"event_type", $"user_id"),
      "event_type", $"user_id")
      .select($"used", $"reg_sum", $"harm_hi", $"harm_lo")
      .as[(Long, Long, Long, Long)].collect().head
    assert(last._2 === bat._1)
    assert(last._3 === bat._2)
    // harm numerator derived from the streamed registers must equal
    // the batch split-bigint pair exactly (empties contribute 2^60)
    val harm = last._4.map(r => BigInt(1) << (60 - r)).sum
    assert(harm === (BigInt(bat._3) << 30) + BigInt(bat._4))
  }

  test("streaming dedup within watermark") {
    val in = StreamingJobs.readEvents(spark, streamDir())
    runToMemory(StreamingJobs.dedup(in), "sj_dedup", "append")
    // 3 distinct (user, type) pairs survive from 5 events:
    // (1,click), (1,view), (2,click)
    assert(spark.table("sj_dedup").count() == 3)
  }

  test("streaming session windows emit after watermark passes") {
    val in = StreamingJobs.readEvents(spark, streamDir())
    runToMemory(StreamingJobs.sessions(in, "30 minutes"),
      "sj_sessions", "append")
    // watermark after the single batch = max(ts) - 1h = 10:30; only
    // sessions that END before it are final and emitted in append mode:
    // user 2's 09:00-09:40 session. The others stay in state (would emit
    // on a later batch).
    val got = spark.table("sj_sessions")
      .orderBy("user_id", "session_start")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L)))
  }

  test("stream-stream interval join: purchases see prior clicks") {
    val rows = Seq(
      Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),
      Event(2L, ts("2024-01-01 10:20:00"), 1L, "click", 0.0),
      Event(3L, ts("2024-01-01 10:30:00"), 1L, "purchase", 99.0),
      Event(4L, ts("2024-01-01 12:00:00"), 1L, "purchase", 5.0), // no clicks in prior hour
      Event(5L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0),
      Event(6L, ts("2024-01-01 09:59:00"), 2L, "purchase", 7.0),
    )
    val dir = Files.createTempDirectory("graft_ssj").toString
    rows.toDF()
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/in")
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .parquet(s"$dir/in")
    runToMemory(StreamingJobs.purchaseContext(in), "sj_ssj", "append")
    val got = spark.table("sj_ssj")
      .groupBy("user_id", "p_ts", "p_value")
      .count()
      .orderBy("user_id", "p_ts")
      .select($"user_id", $"p_value", $"count")
      .as[(Long, Double, Long)].collect().toSeq
    // inner join: the no-prior-click purchase produces no row
    assert(got == Seq((1L, 99.0, 2L), (2L, 7.0, 1L)))
  }

  test("file-source integration: rate-limited stream == batch on real events") {
    // real sf0.001 events, split into files and streamed one file per
    // micro-batch (maxFilesPerTrigger) — the same EventsOps.tumbling
    // code must converge to the batch answer across several batches
    val e = Tables.events(spark, sf0001)
    val dir = Files.createTempDirectory("graft_fsi").toString
    e.repartition(4).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = graft.streaming.EventsOps.tumbling(stream, "1 hour")
      .writeStream.outputMode("complete").format("memory")
      .queryName("fsi_tumbling").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(nBatches >= 2, s"expected several micro-batches, got $nBatches")
    val got = spark.table("fsi_tumbling")
      .orderBy("window_start", "event_type")
      .select($"window_start".cast("string"), $"event_type", $"n_events",
        $"total_value")
      .as[(String, String, Long, Double)].collect().toSeq
    val want = graft.streaming.EventsOps.tumbling(e, "1 hour")
      .orderBy("window_start", "event_type")
      .select($"window_start".cast("string"), $"event_type", $"n_events",
        $"total_value")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("scd2Stream: cross-micro-batch incremental SCD2 maintenance") {
    // file 1: user 1 goes a -> b (closes interval a); file 2: -> c
    // (closes b). maxFilesPerTrigger=1 forces two micro-batches, so the
    // second close only appears if the open interval SURVIVED in state.
    val dir = Files.createTempDirectory("graft_scd2s").toString
    def drop(n: Int, rows: Seq[Event]): Unit =
      rows.toDF()
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    drop(1, Seq(
      Event(1L, ts("2024-01-01 10:00:00"), 1L, "a", 0.0),
      Event(2L, ts("2024-01-01 10:10:00"), 1L, "b", 0.0)))
    drop(2, Seq(
      Event(3L, ts("2024-01-01 10:20:00"), 1L, "c", 0.0)))
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    runToMemory(StreamingJobs.scd2Stream(in).toDF(), "sj_scd2", "append")
    val got = spark.table("sj_scd2").orderBy("version")
      .select($"attr", $"valid_from", $"valid_to", $"version")
      .as[(String, Timestamp, Timestamp, Long)].collect().toSeq
    assert(got == Seq(
      ("a", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 1L),
      ("b", ts("2024-01-01 10:10:00"), ts("2024-01-01 10:20:00"), 2L)))
  }

  test("scd2Stream batch drive agrees with the batch scd2 closed rows") {
    val ev = Seq(
      Event(1L, ts("2024-01-01 10:00:00"), 1L, "x", 0.0),
      Event(2L, ts("2024-01-01 10:05:00"), 1L, "x", 0.0),
      Event(3L, ts("2024-01-01 10:10:00"), 1L, "y", 0.0),
      Event(4L, ts("2024-01-01 10:20:00"), 1L, "x", 0.0),
      Event(5L, ts("2024-01-01 09:00:00"), 2L, "z", 0.0))
    val streamed = StreamingJobs.scd2Stream(ev.toDS())
      .select($"user_id", $"attr", $"valid_from", $"valid_to", $"version")
      .as[(Long, String, Timestamp, Timestamp, Long)].collect().toSet
    val batch = graft.streaming.EventsOps
      .scd2(ev.toDF().withColumnRenamed("event_type", "event_type"))
      .filter($"valid_to".isNotNull)
      .select($"user_id", $"event_type", $"valid_from", $"valid_to",
        $"version")
      .as[(Long, String, Timestamp, Timestamp, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("anomalyStream: warmup state survives micro-batch boundary") {
    // file 1 fills the n=5 window with flat 10.00s; file 2 holds the
    // spike — it can only flag if the window state crossed the batch
    // boundary (maxFilesPerTrigger=1 forces two micro-batches)
    val dir = Files.createTempDirectory("graft_anoms").toString
    def drop(rows: Seq[Event]): Unit =
      rows.toDF()
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    drop((1 to 5).map(i =>
      Event(i.toLong, ts(s"2024-01-01 10:0$i:00"), 1L, "m", 10.00)))
    drop(Seq(Event(6L, ts("2024-01-01 10:06:00"), 1L, "m", 10.40),
      Event(7L, ts("2024-01-01 10:07:00"), 1L, "m", 10.00)))
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    runToMemory(StreamingJobs.anomalyStream(in, n = 5, k = 3).toDF(),
      "sj_anom", "append")
    val got = spark.table("sj_anom").orderBy("event_id")
      .select($"event_id", $"x_cents", $"dev2", $"bound2")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // event 6: flat window -> bound2 0, dx = 5*1040-5*1000 = 200
    assert(got == Seq((6L, 1040L, 40000L, 0L)))
  }

  test("anomalyStream batch drive agrees with the batch anomalies operator") {
    val rnd = new scala.util.Random(23)
    val ev = (1 to 120).map(i => Event(i.toLong,
      ts(f"2024-01-01 ${10 + i / 60}%02d:${i % 60}%02d:00"),
      1L, if (i % 2 == 0) "a" else "b",
      math.round((5 + rnd.nextGaussian()) * 100) / 100.0))
    val streamed = StreamingJobs.anomalyStream(ev.toDS(), n = 10, k = 2)
      .select($"event_id", $"x_cents", $"dev2", $"bound2")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.streaming.EventsOps
      .anomalies(ev.toDF(), "event_type", n = 10, k = 2)
      .select($"event_id", $"x_cents", $"dev2", $"bound2")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("ewmaStream: O(1) state crosses micro-batches, matches batch fold") {
    // two micro-batches; the second can only continue the smoothing if
    // the (n, ewma) state survived the boundary
    val dir = Files.createTempDirectory("graft_ewma").toString
    def drop(rows: Seq[Event]): Unit =
      rows.toDF()
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    drop(Seq(Event(1L, ts("2024-01-01 10:01:00"), 1L, "m", 1.00),
      Event(2L, ts("2024-01-01 10:02:00"), 1L, "m", 2.00)))
    drop(Seq(Event(3L, ts("2024-01-01 10:03:00"), 1L, "m", 3.00)))
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    runToMemory(StreamingJobs.ewmaStream(in, aNum = 1, aDen = 2).toDF(),
      "sj_ewma", "update")
    // last update for the key: alpha=1/2 over cents 100,200,300 scaled
    // by 1e6 -> 100e6, 150e6, 225e6
    val last = spark.table("sj_ewma").orderBy($"n".desc).limit(1)
      .select($"user_id", $"n", $"ewma6")
      .as[(Long, Long, Long)].collect().head
    assert(last === ((1L, 3L, 225000000L)))
    // and the final state equals the batch operator on the same events
    val ev = Seq(
      Event(1L, ts("2024-01-01 10:01:00"), 1L, "m", 1.00),
      Event(2L, ts("2024-01-01 10:02:00"), 1L, "m", 2.00),
      Event(3L, ts("2024-01-01 10:03:00"), 1L, "m", 3.00))
    val batch = graft.streaming.EventsOps
      .ewmaFinal(ev.toDF(), "user_id", aNum = 1, aDen = 2)
      .select($"user_id", $"n", $"ewma6")
      .as[(Long, Long, Long)].collect().head
    assert(batch === ((1L, 3L, 225000000L)))
  }

  test("dauStream: per-day user dedup across micro-batches") {
    // user 1 appears in BOTH micro-batches on the same day — the
    // cross-batch dedup state must collapse them to one
    val dir = Files.createTempDirectory("graft_dau").toString
    def drop(rows: Seq[Event]): Unit =
      rows.toDF()
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    drop(Seq(Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      Event(2L, ts("2024-01-01 11:00:00"), 2L, "click", 1.0)))
    drop(Seq(Event(3L, ts("2024-01-01 12:00:00"), 1L, "view", 1.0),
      Event(4L, ts("2024-01-02 09:00:00"), 1L, "view", 1.0)))
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      // the horizon must cover the day bucket (enforced): a 1-hour
      // watermark would evict user 1's 10:00 dedup state before the
      // 12:00 event and double-count them
      .withWatermark("ts", "26 hours")
    intercept[IllegalArgumentException] {
      StreamingJobs.dauStream(
        spark.readStream.schema(StreamingJobs.eventSchema)
          .parquet(s"$dir/in").withWatermark("ts", "1 hour"))
    }
    runToMemory(StreamingJobs.dauStream(in), "sj_dau", "update")
    val out = spark.table("sj_dau")
      .groupBy($"day").agg(
        org.apache.spark.sql.functions.max($"n_active").as("n"))
      .orderBy($"day")
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(out === Seq((ts("2024-01-01 00:00:00"), 2L),
      (ts("2024-01-02 00:00:00"), 1L)))
  }

  test("purchaseContextOuter: unmatched purchase emits nulls after watermark") {
    val dir = Files.createTempDirectory("graft_oj").toString
    def drop(rows: Seq[Event]): Unit =
      rows.toDF()
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    drop(Seq(Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),
      Event(2L, ts("2024-01-01 10:30:00"), 1L, "purchase", 5.0),
      Event(3L, ts("2024-01-01 10:40:00"), 2L, "purchase", 7.0)))
    // the GLOBAL watermark is the min over BOTH inputs, so far-future
    // events must advance click AND purchase sides before the engine
    // can prove user 2's purchase has no match; the advanced watermark
    // takes effect on the NEXT micro-batch, so a third file triggers
    // the outer-null flush (the late purchase itself stays in state)
    drop(Seq(Event(4L, ts("2024-01-01 20:00:00"), 9L, "click", 0.0),
      Event(5L, ts("2024-01-01 20:00:00"), 9L, "purchase", 0.0)))
    drop(Seq(Event(6L, ts("2024-01-01 21:00:00"), 9L, "click", 0.0),
      Event(7L, ts("2024-01-01 21:00:00"), 9L, "purchase", 0.0)))
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    runToMemory(StreamingJobs.purchaseContextOuter(in), "sj_oj", "append")
    val out = spark.table("sj_oj")
      .filter($"user_id" <= 2).select($"user_id", $"c_ts")
      .orderBy($"user_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSeq
    assert(out === Seq(
      (1L, Some("2024-01-01 10:00:00.0")),
      (2L, None)))
  }

  test("nearDupStream: stream-static probe equals batch incremental " +
      "dedup across micro-batches") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val idx = Files.createTempDirectory("graft_ndx").toString + "/idx"
    graft.ext.Dedup.writeLshIndex(docs.filter(col("doc_id") >= 50),
      "doc_id", "text", path = idx)
    val batchDocs = docs.filter(col("doc_id") < 50)
    val want = graft.ext.Dedup.incrementalNearDups(spark, idx,
      batchDocs, "doc_id", "text")
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "fixture must produce at least one near-dup")
    // stream the same batch in several micro-batches
    val dir = Files.createTempDirectory("graft_nds").toString
    batchDocs
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .repartition(3).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
    val q = StreamingJobs.nearDupStream(spark, idx, stream,
      "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("sj_ndup").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val got = spark.table("sj_ndup")
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("nearDupRefreshing: index appended mid-stream is visible to " +
      "the NEXT micro-batch (snapshot join would miss it)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val idx = Files.createTempDirectory("graft_ndr").toString + "/idx"
    graft.ext.Dedup.writeLshIndex(docs.filter(col("doc_id") >= 100),
      "doc_id", "text", path = idx, portable = true)
    val fileA = docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
    val fileB = docs.filter(col("doc_id") < 25)
    // expectations computed with the batch operator at each index state
    val want0 = graft.ext.Dedup.incrementalNearDups(spark, idx, fileA,
      "doc_id", "text", portable = true)
      .as[(Long, Long, Double)].collect().toSet
    val dir = Files.createTempDirectory("graft_ndr_in").toString
    fileA.coalesce(1).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    // second input file lands after the first so AvailableNow +
    // maxFilesPerTrigger=1 processes A then B as separate batches
    fileB.coalesce(1).write.mode("append").parquet(s"$dir/in")
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Double)]]
    var want1 = Set.empty[(Long, Long, Double)]
    val q = StreamingJobs.nearDupRefreshing(idx, "doc_id", "text",
      portable = true)(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")) {
      (res, batchId) =>
        got.synchronized {
          got(batchId) = res.as[(Long, Long, Double)].collect().toSet
        }
        if (batchId == 0L) {
          // the daily-ingest append, mid-stream: 50..99 join the corpus
          graft.ext.Dedup.appendLshIndex(
            docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
            "doc_id", "text", path = idx, portable = true)
          want1 = graft.ext.Dedup.incrementalNearDups(spark, idx, fileB,
            "doc_id", "text", portable = true)
            .as[(Long, Long, Double)].collect().toSet
        }
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L) === want0)
    assert(got(1L) === want1)
    // and the refresh MATTERS: batch 1 found near-dups against the
    // mid-stream append that a query-start snapshot could never see
    assert(got(1L).exists(p => p._2 >= 50 && p._2 < 100),
      "fixture produced no near-dup against the appended 50..99 docs")
  }

  test("flatMapGroupsWithState sessionizer closes sessions on gap") {
    // batch Dataset drive of the same state function shape: sessions
    // close inline when a later event arrives past the gap
    val ds = events.toDS()
    val closed = StreamingJobs.sessionize(ds, gapMs = 30 * 60 * 1000L)
    val got = closed.orderBy("user_id", "session_start")
      .select($"user_id", $"n_events", $"total_value")
      .as[(Long, Long, Double)].collect().toSeq
    // only sessions closed by a subsequent event appear in batch mode
    // (the final open session per user stays in state)
    assert(got == Seq((1L, 2L, 3.0)))
  }

  test("transitionsStream: the boundary-crossing pair needs the O(1) " +
      "state, and the pair multiset equals the batch lag pass") {
    val dir = Files.createTempDirectory("graft_trans").toString
    def drop(rows: Seq[Event]): Unit =
      rows.toDF()
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    // user 1: v,c | then v in batch 2 -> pair (c, v) crosses batches;
    // user 2: single event per batch -> BOTH its pairs cross batches
    drop(Seq(Event(1L, ts("2024-01-01 10:01:00"), 1L, "v", 1.0),
      Event(2L, ts("2024-01-01 10:02:00"), 1L, "c", 1.0),
      Event(5L, ts("2024-01-01 10:01:00"), 2L, "e", 1.0)))
    drop(Seq(Event(3L, ts("2024-01-01 10:03:00"), 1L, "v", 1.0),
      Event(6L, ts("2024-01-01 10:02:00"), 2L, "v", 1.0)))
    drop(Seq(Event(7L, ts("2024-01-01 10:03:00"), 2L, "c", 1.0)))
    val in = spark.readStream.schema(StreamingJobs.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    runToMemory(StreamingJobs.transitionsStream(in).toDF(),
      "sj_trans", "append")
    val streamed = spark.table("sj_trans")
      .select($"user_id", $"prev_type", $"next_type")
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(streamed === Seq((1L, "v", "c"), (1L, "c", "v"),
      (2L, "e", "v"), (2L, "v", "c")).sorted)
    // aggregated, the streamed pairs reproduce the batch matrix
    val ev = Seq(
      Event(1L, ts("2024-01-01 10:01:00"), 1L, "v", 1.0),
      Event(2L, ts("2024-01-01 10:02:00"), 1L, "c", 1.0),
      Event(3L, ts("2024-01-01 10:03:00"), 1L, "v", 1.0),
      Event(5L, ts("2024-01-01 10:01:00"), 2L, "e", 1.0),
      Event(6L, ts("2024-01-01 10:02:00"), 2L, "v", 1.0),
      Event(7L, ts("2024-01-01 10:03:00"), 2L, "c", 1.0))
    val batch = graft.streaming.EventsOps.transitions(ev.toDF())
      .select($"prev_type", $"next_type", $"n_pair")
      .as[(String, String, Long)].collect().toSet
    val streamedAgg = spark.table("sj_trans")
      .groupBy($"prev_type", $"next_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_pair"))
      .as[(String, String, Long)].collect().toSet
    assert(batch.nonEmpty && streamedAgg === batch)
  }
}
