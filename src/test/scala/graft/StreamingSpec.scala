package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ParquetSource
import graft.streaming.EventsStream

/** Structured Streaming specs: a streaming run must agree with the batch
  * run of the same operator (or with its reference twin) when the
  * fixture is replayed as a bounded stream through the memory sink.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private lazy val events =
    ParquetSource.normalizeNanoTimestamps(spark.read.parquet(s"$sfDir/events.parquet"))

  // streaming source needs the pre-normalization schema (ts as ns-long)
  private lazy val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema

  test("windowed aggregation: streaming == batch") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.hourlyAgg(ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "hourly_test")
    val batch = EventsStream.hourlyAggBatch(events)
      .select(col("hour"), col("event_type"), col("n_events"), col("sum_value"))
    // append mode emits only watermark-closed windows; every emitted row
    // must match the batch result exactly
    val streamedRows = streamed.select("hour", "event_type", "n_events", "sum_value")
    assert(streamedRows.exceptAll(batch).count() == 0)
    assert(streamedRows.count() > 0)
  }

  test("session_window streaming sessionisation matches gap-based batch count") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.sessionWindow(ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "sessions_test")
    val batchSessions = EventsStream.sessionizeBatch(events)
    assert(streamed.count() > 0)
    // append mode emits a session only once the watermark passes it;
    // sessions still open at end-of-stream stay in state. So: every
    // EMITTED session must match a batch session exactly, and anything
    // batch-only must lie within watermark distance of the stream end.
    val emitted = streamed.select(col("user_id"), col("session_start"), col("n_events"))
    val batchKeyed = batchSessions.select(col("user_id"), col("session_start"), col("n_events"))
    assert(emitted.exceptAll(batchKeyed).count() == 0)
    val maxTs = events.agg(max("ts")).first().getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 2 * 3600 * 1000)
    val unEmitted = batchKeyed.exceptAll(emitted)
    assert(unEmitted.filter(col("session_start") < horizon).count() == 0,
      "only sessions near the stream end may be held back by the watermark")
  }

  test("watermark bounds state: aggregation emits with append semantics") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.hourlyAgg(ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "hourly_wm_test")
    // every emitted window start is hour-aligned
    val misaligned = streamed
      .filter(minute(col("hour")) =!= 0 || second(col("hour")) =!= 0)
    assert(misaligned.count() == 0)
  }

  test("parquet file sink: exactly-once via checkpoint, restart adds no duplicates") {
    import java.nio.file.Files
    val outDir = Files.createTempDirectory("graft_sink_out").toString
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    val srcDir = Files.createTempDirectory("graft_sink_src")
    Files.createSymbolicLink(
      srcDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet").toAbsolutePath)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(rawSchema).parquet(srcDir.toString)
      val q = EventsStream.hourlyAgg(ParquetSource.normalizeNanoTimestamps(stream))
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val firstCount = spark.read.parquet(outDir).count()
    assert(firstCount > 0, "watermark-closed windows should have flushed to the sink")
    // restart on the same checkpoint: source is exhausted, commit log
    // prevents re-emission — the sink must not grow
    runOnce()
    assert(spark.read.parquet(outDir).count() == firstCount)
    // emitted (closed) windows agree with the batch computation
    val batch = EventsStream.hourlyAggBatch(events)
    assert(spark.read.parquet(outDir).exceptAll(batch).count() == 0,
      "file sink contains windows the batch form does not")
  }

  test("stream-stream interval join matches batch equivalent") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.clickToPurchase(
        ParquetSource.normalizeNanoTimestamps(df), "inner"),
      queryName = "interval_join_test")
    val batch = EventsStream.clickToPurchase(events, "inner")
    assert(batch.count() > 0, "fixture should contain click→purchase pairs")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream LEFT OUTER interval join: matches exact, nulls only from expiry") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.clickToPurchase(
        ParquetSource.normalizeNanoTimestamps(df), "left"),
      queryName = "outer_interval_test")
    val batch = EventsStream.clickToPurchase(events, "left")
    val streamedMatched = streamed.filter(col("purchase_id").isNotNull)
    val batchMatched = batch.filter(col("purchase_id").isNotNull)
    // matched rows never wait on the watermark — they must be identical
    assert(streamedMatched.exceptAll(batchMatched).count() == 0)
    assert(batchMatched.exceptAll(streamedMatched).count() == 0)
    // null emissions come from state expiry: every one must be a click
    // the batch join also left unmatched (no false nulls), and clicks
    // the final watermark never passed are allowed to be missing
    val streamedNulls = streamed.filter(col("purchase_id").isNull).select("click_id")
    val batchNulls = batch.filter(col("purchase_id").isNull).select("click_id")
    assert(streamedNulls.exceptAll(batchNulls).count() == 0)
    assert(streamedNulls.count() > 0, "expiry should emit unconverted clicks")
  }

  test("stream-static anti-join screen matches batch equivalent, stateless") {
    import graft.streaming.DocsStream
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docsSchema = docs.schema
    val histFps = DocsStream.historyFingerprints(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/documents.parquet", docsSchema,
      df => DocsStream.screenNew(
        df.filter(pmod(col("doc_id"), lit(5)) === 0), histFps),
      queryName = "screen_stream_test")
    val batch = GraftQueries.st6ScreenStream(spark, sfDir)
    val streamedSel = streamed.select("doc_id", "lang", "source")
    assert(batch.count() > 0)
    assert(streamedSel.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamedSel).count() == 0)
  }

  test("chunk stream: stateless row-local projection — streaming == batch row-identical") {
    import graft.ops.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/documents.parquet", docs.schema,
      df => TextAnalysis.chunks(df, size = 32, stride = 32),
      queryName = "chunk_stream_test")
    val batch = TextAnalysis.chunks(docs, size = 32, stride = 32)
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("asset meta stream: stateless real-container decode — streaming == batch") {
    import graft.streaming.AssetsStream
    import graft.ops.Multimodal
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // synthesise the mixed-media assets once in batch, persist them as
    // the stream's source (a real ingest would receive these bytes)
    val assets = Multimodal.assetsFromDocuments(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft_assets_stream").toString
    assets.write.parquet(s"$dir/assets")
    val src = spark.read.parquet(s"$dir/assets")
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$dir/assets", src.schema,
      df => Multimodal.decodeMeta(df),
      queryName = "asset_meta_stream_test")
    val batch = Multimodal.decodeMeta(src)
    // every synthesised container decodes; the stream emits the exact
    // same rows (stateless narrow map — structural, but assert it)
    assert(batch.count() == docs.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    // and the continuous pipeline lands on the same per-type totals as
    // the oracle-gated batch summary
    val sumStream = AssetsStream.mediaSummary(streamed)
    val sumBatch = AssetsStream.mediaSummary(batch)
    assert(sumStream.exceptAll(sumBatch).count() == 0 &&
      sumBatch.exceptAll(sumStream).count() == 0)
  }

  test("watermark screen stream: stateless — streaming == batch; only flagged docs emitted") {
    import graft.ops.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/documents.parquet", docs.schema,
      df => TextAnalysis.watermarkAudit(df).filter(col("flagged")),
      queryName = "watermark_screen_test")
    val batch = TextAnalysis.watermarkAudit(docs).filter(col("flagged"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    // the screen must emit a strict subset (the fixture's natural text
    // should not all flag) and every emitted row must be flagged
    assert(batch.count() < docs.count())
    assert(batch.filter(!col("flagged")).count() == 0)
  }

  test("stream-static near-dup band screen matches batch equivalent, stateless") {
    import graft.streaming.DocsStream
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docsSchema = docs.schema
    val bands = DocsStream.corpusBandKeys(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/documents.parquet", docsSchema,
      df => DocsStream.nearDupScreen(
        df.filter(pmod(col("doc_id"), lit(5)) === 0), bands),
      queryName = "neardup_screen_stream_test")
    val batch = GraftQueries.st10NearDupScreen(spark, sfDir)
    val streamedSel = streamed.select("doc_id", "lang", "source")
    assert(batch.count() > 0)
    // the screen must actually screen something at this fixture
    assert(batch.count() <
      docs.filter(pmod(col("doc_id"), lit(5)) === 0).count())
    assert(streamedSel.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamedSel).count() == 0)
  }

  test("flatMapGroupsWithState first-seen dedup matches batch equivalent") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.firstSeenDedupStream(
        ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "dedup_state_test")
    val batch = EventsStream.firstSeenDedupBatch(events)
    // same dedup keys either way
    assert(streamed.select("user_id", "event_type").exceptAll(
      batch.select("user_id", "event_type")).count() == 0)
    assert(streamed.count() == batch.count())
    // the replayed fixture arrives in event_id order, so "first seen"
    // is exactly min(event_id)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("dropDuplicatesWithinWatermark dedup matches the batch distinct key set") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.dedupKeysStream(
        ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "dedup_wm_test")
    val batch = EventsStream.dedupKeysBatch(events)
    assert(streamed.exceptAll(batch).count() == 0, "streamed emitted extra keys")
    assert(batch.exceptAll(streamed).count() == 0, "streamed lost keys")
  }

  test("flatMapGroupsWithState streaming SCD2 matches the batch closed intervals") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.scd2Stream(
        ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "scd2_stream_test")
    val batch = EventsStream.scd2Batch(events)
    assert(batch.count() > 0, "fixture should contain type changes")
    assert(streamed.exceptAll(batch).count() == 0, "stream emitted extra intervals")
    assert(batch.exceptAll(streamed).count() == 0, "stream lost intervals")
  }

  test("mapGroupsWithState latest-per-key view matches batch equivalent") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.latestPerUserStream(
        ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "latest_state_test", outputMode = "update")
    val batch = EventsStream.latestPerUserBatch(events)
    // update-mode memory sink appends one row per (key, batch); the
    // single-file bounded replay is exactly one batch, so the table IS
    // the final state (a multi-batch source would need last-batch-wins
    // extraction here)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("anonymise stream: stateless — streaming == batch row-identical; pseudonyms consistent") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.anonymise(ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "anon_stream_test")
    val batch = EventsStream.anonymise(events)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
    // consistency without state: the pseudonym map is a function of the
    // user id alone (one pseudonym per user, no collisions) — distinct
    // pseudonym count must equal distinct user count
    assert(streamed.select("user_pseud").distinct().count() ==
      events.select("user_id").distinct().count())
  }

  test("per-user CUSUM drift: streaming state fold == batch prefix-min identity") {
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.userDriftStream(
        ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "user_drift_test", outputMode = "update")
    val batch = EventsStream.userDriftBatch(events)
    // single-batch bounded replay: the update-mode table IS final state
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
    assert(batch.filter(col("max_drift_cents") > 0).count() > 0,
      "fixture should show some positive drift")
  }

  test("late-data audit: streaming state fold == batch high-water-mark window") {
    val arrival = graft.ops.Sampling.bucket(col("event_id"), 1 << 20) *
      lit(1099511627776L) + col("event_id")
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.lateEventAuditStream(
        ParquetSource.normalizeNanoTimestamps(df), arrival),
      queryName = "late_audit_test", outputMode = "update")
    val batch = EventsStream.lateEventAuditBatch(events, arrival)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
    // the hash permutation must actually produce late arrivals, or the
    // audit is vacuous on the ordered fixture
    assert(batch.agg(sum(col("n_late"))).head().getLong(0) > 0)
  }

  test("one definition per mode: a batch frame's plan keeps no watermark") {
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    // the watermarked operators serve batch frames too because the
    // analyzer drops a watermark from a batch plan; planning only, no job
    for ((name, df) <- Seq(
        "sessionWindow" -> EventsStream.sessionWindow(events),
        "windowTopK" -> EventsStream.windowTopK(events),
        "clickToPurchase" -> EventsStream.clickToPurchase(events, "left"))) {
      val marks = df.queryExecution.optimizedPlan.collect { case w: EventTimeWatermark => w }
      assert(marks.isEmpty, s"$name: batch plan keeps $marks")
    }
  }

  test("ensureParallelism returns a streaming frame unchanged and starts no job") {
    import graft.ops.Partitioning
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_parallelism")
    java.nio.file.Files.createSymbolicLink(dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet").toAbsolutePath)
    val stream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val started = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => started.merge(g, 1, _ + _))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("parallelism-stream", "streaming frame")
      assert(Partitioning.ensureParallelism(stream) eq stream)
      // a sentinel job: the bus is ordered, so once it is seen any job
      // the call above started would have been seen too
      sc.setJobGroup("parallelism-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!started.containsKey("parallelism-sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(started.containsKey("parallelism-sentinel"), "the listener saw no sentinel job")
      assert(!started.containsKey("parallelism-stream"),
        s"the streaming call launched ${started.get("parallelism-stream")} job(s)")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("windowed MG sketch: streaming sketches satisfy the heavy-hitter guarantee") {
    val budget = EventsStream.TopKBudget
    val streamed = EventsStream.runOnceOnParquet(
      spark, s"$sfDir/events.parquet", rawSchema,
      df => EventsStream.windowTopK(ParquetSource.normalizeNanoTimestamps(df)),
      queryName = "window_topk_test")
    assert(streamed.count() > 0, "append mode should emit watermark-closed days")
    // every emitted day's sketch must contain all of that day's heavy
    // items (exact counts from batch) and stay within budget — the
    // merge-order-invariant MG guarantee; stream and batch sketch MAPS
    // may legitimately differ (merge order), the guarantee may not
    val exact = events
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val tot = exact.groupBy("day").agg(sum("cnt").as("n"))
    val verdicts = exact.join(tot, "day")
      .filter(col("cnt").cast("double") > col("n").cast("double") / (budget + 1.0))
      .join(streamed, "day") // inner: only emitted days are checkable
      .select(map_contains_key(col("mg"), col("event_type")).as("found"),
        (size(map_keys(col("mg"))) <= budget).as("size_ok"))
      .collect()
    assert(verdicts.nonEmpty)
    assert(verdicts.forall(r => r.getBoolean(0) && r.getBoolean(1)))
  }
}
