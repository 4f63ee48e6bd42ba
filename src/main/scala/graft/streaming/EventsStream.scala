package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the `events` table shape: watermarked
  * tumbling-window aggregation, sessionisation, interval joins and
  * keyed state.
  *
  * The reference has no streaming at all (its "streams" are JDBC cursors,
  * SURVEY.md §1.1); these are [EXT] operators. The correctness oracle
  * checks batch results; the streaming runs are driven in tests via the
  * memory sink + `processAllAvailable()`.
  *
  * One definition, both modes: `sessionWindow`, `windowTopK`,
  * `clickToPurchase` and `anonymise` are each one DataFrame program for
  * a streaming and a batch frame. Spark's analyzer drops a watermark
  * from a batch plan, so the batch plan is the one a watermark-free
  * copy would produce.
  *
  * A reference twin stays where the two modes cannot share one program:
  *   - the `*GroupsWithState` operators (`firstSeenDedupStream`,
  *     `latestPerUserStream`, `userDriftStream`, `lateEventAuditStream`,
  *     `scd2Stream`) fold keyed state; their `*Batch` twins compute the
  *     same answer with window functions or aggregates, and StreamingSpec
  *     compares the two;
  *   - `dedupKeysStream`: `dropDuplicatesWithinWatermark` throws on a
  *     batch frame, so `dedupKeysBatch` is the distinct key set;
  *   - `hourlyAgg`/`hourlyAggBatch` and `sessionizeBatch`: references
  *     with another algorithm (`date_trunc` grouping; a lag/running-sum
  *     sessioniser) that the specs compare the streaming runs against.
  */
object EventsStream {

  /** Tumbling-window counts/sums per event_type with a watermark for
    * state cleanup. Streaming form.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n_events"), col("sum_value"))

  /** Batch-equivalent of `hourlyAgg` (same grouping, no watermark). */
  def hourlyAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** The session gap of every sessioniser here, in minutes. */
  private val SessionGapMinutes = 30

  /** Gap-based sessionisation (batch form): a new session starts when the
    * gap to the previous event of the same user exceeds the session gap.
    * Window functions only — one shuffle on user_id.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapSec = SessionGapMinutes * 60L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapSec * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  /** Sessionisation with the NATIVE `session_window` operator (state
    * store on a stream; the watermark bounds that state and is dropped
    * from a batch plan). Session semantics: each event opens
    * `[ts, ts+gap)` and overlapping windows merge, so a gap of EXACTLY
    * the session gap starts a new session (end-exclusive) and
    * `session_end = last_ts + gap` — the contract the oracle's
    * gap-islands replay encodes with `>=` and `max(ts) + gap`. One
    * user-keyed shuffle; merge state is bounded per user like every
    * sessioniser here.
    */
  def sessionWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), s"$SessionGapMinutes minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming first-seen dedup with explicit state
    * (`flatMapGroupsWithState`): emit only the first event per
    * (user_id, event_type), remembering seen types per user. State is
    * bounded by a 2-hour event-time idle timeout against the watermark —
    * a user idle past the timeout has its state dropped, so state size
    * tracks the *active* key set, not the all-time one. (Event-time,
    * not processing-time, timeout: processing time "always advances",
    * which makes the micro-batch engine re-trigger empty batches
    * forever — on a bounded replay the query never settles.)
    * The custom-state streaming shape: the built-in `dropDuplicates`
    * covers the simple case; this is the template for arbitrary keyed
    * state.
    */
  def firstSeenDedupStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as[Long], col("event_type").as[String],
        col("event_id").as[Long], col("ts").as[java.sql.Timestamp])
      .as[(Long, String, Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Set[String], (Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[Set[String]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(Set.empty[String])
            var maxTs = Long.MinValue
            val out = rows.filter { case (_, tpe, _, ts) =>
              if (ts.getTime > maxTs) maxTs = ts.getTime
              if (seen(tpe)) false else { seen += tpe; true }
            }.map { case (uid, tpe, eid, _) => (uid, tpe, eid) }.toList
            state.update(seen)
            // timeout must sit at-or-after the current watermark
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), maxTs) +
                2 * 3600L * 1000L)
            out.iterator
          }
      }
      .toDF("user_id", "event_type", "event_id")
  }

  /** Batch-equivalent of the first-seen dedup (earliest event_id wins —
    * in the streaming form "first" is arrival order, which for the
    * replayed fixture equals event_id order per group).
    */
  def firstSeenDedupBatch(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type")
      .agg(min(col("event_id")).as("event_id"))
      .select("user_id", "event_type", "event_id")

  /** Streaming dedup via the NATIVE watermark-bounded operator
    * (`dropDuplicatesWithinWatermark`) — the platform path for turning
    * an at-least-once event feed effectively-once: duplicate keys
    * arriving within the 24-hour watermark delay are dropped, and the engine
    * expires key state automatically once the watermark passes it
    * (state tracks the active window, not the all-time key set).
    * Contrast `firstSeenDedupStream`, the explicit
    * `flatMapGroupsWithState` template for when the dedup rule needs
    * custom state; when plain key-dedup is the goal, the native
    * operator wins — no user state code, RocksDB-backed at scale.
    */
  def dedupKeysStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")

  /** Batch-equivalent of the native streaming dedup: the distinct key
    * set. (The streaming form may legitimately re-emit a key whose
    * duplicates arrive farther apart in event time than the watermark
    * delay; the fixture's replay spans well under that delay, so the
    * outputs are equal — spec-asserted. `dropDuplicatesWithinWatermark`
    * itself throws on a batch frame, hence this twin.)
    */
  def dedupKeysBatch(events: DataFrame): DataFrame =
    events.select("user_id", "event_type").distinct()

  /** Streaming materialised latest-per-key view — the streaming twin of
    * `Cdc.applyChangelog`'s latest-wins step: per user, the value of
    * the latest (ts, event_id) event so far. `mapGroupsWithState` in
    * Update mode; state is ONE tuple per key, so memory tracks key
    * cardinality (the semantics of a keyed view — state must outlive
    * any watermark, hence NoTimeout; bound the key space upstream if
    * the domain is unbounded).
    */
  def latestPerUserStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        col("event_id").as[Long], col("value").as[Double])
      .as[(Long, Long, Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long, Double)]) =>
          var cur = state.getOption.getOrElse((Long.MinValue, Long.MinValue, 0.0))
          for ((_, tsUs, eid, v) <- rows)
            if (tsUs > cur._1 || (tsUs == cur._1 && eid > cur._2)) cur = (tsUs, eid, v)
          state.update(cur)
          (uid, cur._2, cur._3)
      }
      .toDF("user_id", "latest_event_id", "latest_value")
  }

  /** Batch-equivalent of the latest-per-key view: lexicographic max of
    * (ts, event_id, value) per user — one partial+final aggregate, no
    * window sort.
    */
  def latestPerUserBatch(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(max(struct(unix_micros(col("ts")).as("ts_us"), col("event_id").as("eid"),
        col("value").as("v"))).as("m"))
      .select(col("user_id"), col("m.eid").as("latest_event_id"),
        col("m.v").as("latest_value"))

  /** The CUSUM drift detector's fixed target and alarm threshold. */
  private val DriftTargetCents = 5000L
  private val DriftThresholdCents = 20000L

  /** Per-user streaming CUSUM drift vs a FIXED target (Page's actual
    * formulation — the reference value is a known parameter, which is
    * exactly what makes the detector STREAMABLE: no data-dependent mean
    * to learn, so per-key state is three longs). Each user's event
    * values (cents) accumulate one-sided deviations against the
    * 5000-cent target; the recurrence S = max(0, S + (cents − target))
    * folds via (P, minP) so the state update is branch-free, and the
    * emitted row tracks the maximum drift score ever reached plus the
    * flag above 20000 cents. Update-mode latest-per-key emission (the
    * st3 contract); within a micro-batch rows sort by (ts, event_id),
    * across batches the contract is arrival order, which the bounded
    * replay satisfies (the firstSeenDedupStream posture).
    */
  def userDriftStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        col("event_id").as[Long],
        (col("value").cast("decimal(18,2)") * 100).cast("long").as[Long])
      .as[(Long, Long, Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Boolean)](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long, Long)]) =>
          // state = (P running deviation sum, min(0, min P), max S)
          var (p, minP, maxS) = state.getOption.getOrElse((0L, 0L, 0L))
          for ((_, _, _, cents) <- rows.toSeq.sortBy(r => (r._2, r._3))) {
            p += cents - DriftTargetCents
            if (p < minP) minP = p
            val sNow = p - minP
            if (sNow > maxS) maxS = sNow
          }
          state.update((p, minP, maxS))
          (uid, maxS, maxS > DriftThresholdCents)
      }
      .toDF("user_id", "max_drift_cents", "drift_flag")
  }

  /** Batch-equivalent of [[userDriftStream]]: the per-user prefix-min
    * identity over one (ts, event_id)-ordered window — S_i = P_i −
    * min(0, min_{j≤i} P_j) — then a mergeable per-user max.
    */
  def userDriftBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("dev",
        (col("value").cast("decimal(18,2)") * 100).cast("long") - DriftTargetCents)
      .withColumn("p", sum(col("dev")).over(w))
      .withColumn("s", col("p") - min(least(col("p"), lit(0L))).over(w))
      .groupBy("user_id")
      .agg(max(col("s")).as("max_drift_cents"))
      .select(col("user_id"), col("max_drift_cents"),
        (col("max_drift_cents") > DriftThresholdCents).as("drift_flag"))
  }

  /** The late-data audit's allowance: one hour, in microseconds. */
  private val AllowedLateUs = 3600000000L

  /** LATE-DATA AUDIT — the observability every watermarked pipeline
    * needs: per user, how many events arrived with an event time more
    * than one hour behind that user's event-time HIGH-WATER
    * MARK at their arrival, and the worst observed lateness. "Arrival
    * order" is the fixture's monotone `event_id` (the st1 posture);
    * a watermarked aggregation would have DROPPED exactly these rows,
    * so the audit quantifies the loss a given watermark would cause —
    * run it before choosing the delay. Per-key state is two longs
    * plus the two counters.
    *
    * `arrivalCol` must be a UNIQUE long encoding arrival order (the
    * catalog query feeds a hash-permuted `event_id` to simulate network
    * reordering, since the fixture itself arrives perfectly ordered).
    */
  def lateEventAuditStream(events: DataFrame, arrivalCol: Column): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        arrivalCol.as[Long])
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long, Long, Long)]) =>
          // state = (event-time high-water mark, n_events, n_late, max lateness)
          var (hwm, n, nLate, maxLate) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L))
          for ((_, tsUs, _) <- rows.toSeq.sortBy(_._3)) {
            n += 1
            if (hwm != Long.MinValue && tsUs < hwm - AllowedLateUs) {
              nLate += 1
              if (hwm - tsUs > maxLate) maxLate = hwm - tsUs
            }
            if (tsUs > hwm) hwm = tsUs
          }
          state.update((hwm, n, nLate, maxLate))
          (uid, n, nLate, maxLate)
      }
      .toDF("user_id", "n_events", "n_late", "max_late_us")
  }

  /** Batch-equivalent of [[lateEventAuditStream]]: the high-water mark
    * is a per-user running max over the PRECEDING rows in arrival
    * order, then one mergeable aggregate.
    */
  def lateEventAuditBatch(events: DataFrame, arrivalCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(arrivalCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = col("hwm").isNotNull &&
      col("ts_us") < col("hwm") - AllowedLateUs
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("hwm", max(col("ts_us")).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(late, 1L).otherwise(0L)).as("n_late"),
        coalesce(max(when(late, col("hwm") - col("ts_us"))), lit(0L))
          .as("max_late_us"))
  }

  /** Streaming SCD Type-2 history — the streaming twin of
    * `Cdc.scd2Merge`: per user, track the current `event_type` version;
    * when the type CHANGES, emit the CLOSED interval
    * (user_id, event_type, valid_from_us, valid_to_us). Open intervals
    * live only in state (Append mode can't retract), so the stream
    * yields exactly the closed subset of the batch history.
    * `flatMapGroupsWithState` with ONE (type, since) tuple per key —
    * state size tracks key cardinality like the latest-per-key view
    * (NoTimeout for the same keyed-view reason). Rows are sorted by
    * (ts, event_id) within each micro-batch; like `firstSeenDedupStream`
    * the cross-batch contract is arrival order, which the bounded
    * replay satisfies.
    */
  def scd2Stream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        col("event_id").as[Long], col("event_type").as[String])
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(String, Long), (Long, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(String, Long)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var cur = state.getOption
          val out = scala.collection.mutable.ListBuffer
            .empty[(Long, String, Long, Long)]
          for ((_, tsUs, _, tpe) <- sorted) cur match {
            case Some((t, since)) if t != tpe =>
              out += ((uid, t, since, tsUs))
              cur = Some((tpe, tsUs))
            case Some(_) => // same type: the open interval continues
            case None    => cur = Some((tpe, tsUs))
          }
          cur.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "event_type", "valid_from_us", "valid_to_us")
  }

  /** Batch-equivalent of the streaming SCD2: run-length compress each
    * user's type sequence with a lag filter, close intervals with lead,
    * keep the closed ones. Both window passes share the user_id
    * partitioning — one shuffle.
    */
  def scd2Batch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("__prev").isNull || col("__prev") =!= col("event_type"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("valid_to_us").isNotNull)
      .select("user_id", "event_type", "valid_from_us", "valid_to_us")
  }

  /** Interval self-join: purchases within 30 minutes of a click by the
    * same user. `joinType` is `"inner"` (st2, the converted pairs) or
    * `"left"` (st9, every click, null `purchase_id` when none followed).
    *
    * On a stream, watermarks on BOTH sides plus the time bound let the
    * engine expire join state — without them a stream-stream join
    * buffers both inputs forever. Equi-key is user_id, so the shuffle
    * is one hash partition per side; the time bound is a post-join
    * filter, not a range explosion.
    *
    * In the left form the engine buffers a click until the WATERMARK
    * proves no matching purchase can still arrive, then emits it
    * null-extended: the null side is produced by state EXPIRY, not by a
    * scan finishing. On a bounded replay, clicks the final watermark
    * never passes stay buffered and are dropped on stop — the spec
    * compares accordingly (matched rows must be identical, null
    * emissions must be a subset of the batch's null set).
    */
  def clickToPurchase(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(col("click_id"), col("purchase_id"))
  }

  /** Streaming CDC upsert: commit each micro-batch as one [[KeyedTable]]
    * delta, keyed by the engine's batchId. The table's rename-commit +
    * replay no-op turns the engine's at-least-once `foreachBatch`
    * contract into an exactly-once TABLE — a restart that replays a
    * batch finds its delta already committed. Each batch is first
    * reduced to its own latest-per-key (a batch-local aggregate) so a
    * delta holds one row per touched key; cross-batch resolution
    * happens on the read side via version-max.
    *
    * Monotonic-batchId contract: batchIds come from THIS query's
    * checkpoint. Restarting the same checkpoint replays ids (safe:
    * replay no-op); pointing a FRESH checkpoint at an existing table
    * restarts ids at 0, and every upsert at-or-below the table's
    * compaction watermark is REFUSED (`KeyedTable.upsert` returns
    * false) rather than silently dropped — use a new table dir or keep
    * the checkpoint when re-deploying.
    */
  def upsertStream(changes: DataFrame, table: KeyedTable,
                   keyCols: Seq[String], versionCols: Seq[String],
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val payload = df.columns.filterNot(keyCols.contains).toSeq
        val packed = versionCols ++ payload.filterNot(versionCols.contains)
        val reduced = df.groupBy(keyCols.map(col): _*)
          .agg(max(struct(packed.map(col): _*)).as("__m"))
          .select(df.columns.toIndexedSeq.map(c =>
            if (keyCols.contains(c)) col(c) else col(s"__m.$c")): _*)
        table.upsert(reduced, id)
        ()
      }
      .start()

  /** Stateless streaming anonymisation — continuous anonymised
    * replication of an event stream, the reference engine's core
    * operation lifted onto an unbounded source: user ids pseudonymise
    * through a consistent keyed digest (same user → same pseudonym in
    * EVERY micro-batch with no shared state — the seeded-deterministic
    * o11 consistency recipe, which is exactly what makes consistency
    * possible on a stream: a driver-side lookup map could never be
    * shared across batches or executors), and PII masks in-place in
    * the JSON payload via the t7 scrub chain.
    *
    * No watermark, no state store: anonymisation is a narrow map, so
    * one Column program serves a streaming and a batch frame
    * (stream == batch asserted exactly in StreamingSpec).
    */
  def anonymise(events: DataFrame): DataFrame =
    graft.ops.TextAnalysis.scrubPii(events, "props")
      .select(col("event_id"),
        substring(md5(col("user_id").cast("string")), 1, 16).as("user_pseud"),
        col("event_type"),
        col("n_pii"),
        md5(col("scrubbed")).as("props_scrubbed_md5"))

  /** The Misra–Gries sketch budget of [[windowTopK]]: at most this many
    * items per day, and every item above n/(budget+1) of a day's
    * events is guaranteed present.
    */
  val TopKBudget = 4

  /** Per-day heavy-hitter SKETCHES maintained by the state store: the
    * mergeable Misra–Gries aggregator runs as a tumbling-window
    * aggregate, so on a stream each day's bounded sketch accretes
    * across micro-batches and is emitted once when the watermark closes
    * the window (append mode) — the streaming form of q_approx_topk.
    * State per window is the sketch's own budget (a ≤ [[TopKBudget]]-
    * entry map), never the item cardinality: this is exactly why
    * heavy-hitter sketches matter on an unbounded stream.
    *
    * Merge-order caveat (same as q_approx_topk): MG counters depend on
    * merge order, so stream and batch sketches need not be map-equal —
    * what is invariant, and what specs/oracles assert, is the
    * GUARANTEE: every item above n/(budget+1) is present and the
    * sketch stays within budget.
    */
  def windowTopK(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.functions.MisraGriesAgg.column(col("event_type"), TopKBudget).as("mg"))
      .select(col("w.start").as("day"), col("mg"))

  /** Drive a streaming DataFrame built by `build` over the fixture
    * parquet as a bounded stream, collect via the memory sink.
    */
  def runOnceOnParquet(spark: SparkSession, path: String, schema: StructType,
                       build: DataFrame => DataFrame, queryName: String,
                       outputMode: String = "append"): DataFrame = {
    // FileStreamSource requires a directory; expose a single-file fixture
    // through a temp dir containing a symlink to it
    val p = java.nio.file.Paths.get(path)
    val dir =
      if (java.nio.file.Files.isDirectory(p)) path
      else {
        val d = java.nio.file.Files.createTempDirectory(s"graft_stream_$queryName")
        java.nio.file.Files.createSymbolicLink(d.resolve(p.getFileName), p.toAbsolutePath)
        d.toString
      }
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = build(stream).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }
}
