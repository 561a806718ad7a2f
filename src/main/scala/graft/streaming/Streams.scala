package graft.streaming

import graft.Tables
import graft.functions.{FrequentItemsSketch, TopKAggregate}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** C1–C3: Structured Streaming operators, written so the identical
  * aggregation logic runs in batch (where the DuckDB oracle can check it)
  * and as a stream (exercised with MemoryStream in StreamingSpec).
  *
  * Scale notes (SURVEY §4): watermarks bound all state; sessionization
  * state is keyed by user, so its size tracks *active users*, not events.
  */
object Streams {

  // ---------- C1: tumbling window ----------

  /** Shared batch/stream tumbling aggregation (1-hour event-time windows). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,4)")).as("sum_value"))

  /** C1 query (batch mode — identical semantics to the streaming form). */
  def tumbling(s: SparkSession, d: String): DataFrame =
    tumblingAgg(Tables.events(s, d))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_s", "event_type")

  /** C3: streaming wiring — watermarked event stream through the same agg.
    * Late data beyond 2 hours is dropped and window state is reclaimed.
    */
  def tumblingStream(events: DataFrame): DataFrame =
    tumblingAgg(events.withWatermark("ts", "2 hours"))

  /** C6 shared agg: 1-hour windows sliding every 30 minutes — each event
    * lands in exactly 2 overlapping windows. Spark's `window(ts, len,
    * slide)` expands the assignment inside the row projection (no
    * self-join against a window table), so the only shuffle is the
    * (window, type) aggregation itself, with map-side partials; state per
    * open window is one agg buffer, bounded by the watermark in the
    * streaming form.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,4)")).as("sum_value"))

  /** C6 query (batch mode — identical semantics to the streaming form). */
  def sliding(s: SparkSession, d: String): DataFrame =
    slidingAgg(Tables.events(s, d))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_s", "event_type")

  /** C6 streaming wiring — watermarked; a window's state is dropped once
    * the watermark passes its END, so ≤ 2·(len/slide) windows per type
    * are ever open.
    */
  def slidingStream(events: DataFrame): DataFrame =
    slidingAgg(events.withWatermark("ts", "2 hours"))

  /** C3: rate-limited file-source wiring — tail a directory of event
    * parquet files as a stream (`maxFilesPerTrigger` bounds per-batch
    * intake — new files landing in the dir become micro-batches), with
    * the same ns→µs timestamp normalization as the batch catalog.
    */
  def eventStream(s: SparkSession, eventsDir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    val rawSchema = s.read.parquet(eventsDir).schema
    val raw = s.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(eventsDir)
    rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  // ---------- C11: stream-static dimension enrichment ----------

  /** C11 shared batch/stream core: the ingest-time dimension join every
    * event pipeline runs (event → user → market segment). The dimension
    * side is STATIC — Spark re-plans it per micro-batch (a dim update is
    * picked up at the next trigger) and broadcasts it, so the join holds
    * NO state: no watermark interplay, no join-state store, nothing to
    * reclaim. The windowed rollup after it is the only stateful node.
    * At 100 TB of events the dim stays dim-sized; this is the shape that
    * keeps enrichment off the shuffle entirely.
    */
  def enrichAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,4)")).as("sum_value"))

  /** C11 query (batch mode — identical semantics to the streaming form). */
  def enrich(s: SparkSession, d: String): DataFrame =
    enrichAgg(Tables.events(s, d),
      Tables.customer(s, d).select("c_custkey", "c_mktsegment"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_s"),
        col("c_mktsegment"), col("n"), col("sum_value"))
      .orderBy("hour_s", "c_mktsegment")

  /** C11 streaming wiring — watermarked events through the same join+agg. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    enrichAgg(events.withWatermark("ts", "2 hours"), dim)

  // ---------- C2: sessionization ----------

  /** C2 query: gap-based sessions via Spark's native `session_window`
    * (streaming-capable as-is). 30-minute gap; duration floored to whole
    * seconds so µs-vs-ns storage precision can't split hairs with the
    * oracle.
    */
  def sessionize(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("user_id"), col("ts"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(col("user_id"),
        date_format(col("t0"), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        col("n_events"),
        (unix_timestamp(col("t1")) - unix_timestamp(col("t0"))).as("duration_sec"))
      .orderBy("user_id", "start_s")

  // ---------- C5: stream-stream interval join ----------

  /** Stream⋈stream join with an event-time interval: each `left` row
    * matches `right` rows of the same key whose timestamp lands in
    * [left.ts, left.ts + window]. Both sides are watermarked so the join
    * state is bounded: a buffered left row can be dropped once the right
    * watermark passes its interval end (attribution joins — click →
    * purchase — are this exact shape).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   window: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val l = left.select(left.columns.map(c => col(c).as(s"l_$c")).toIndexedSeq: _*)
      .withWatermark("l_ts", watermark)
    val r = right.select(right.columns.map(c => col(c).as(s"r_$c")).toIndexedSeq: _*)
      .withWatermark("r_ts", watermark)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"))
  }

  /** C5 query: the SAME `intervalJoin` run in batch mode (`withWatermark`
    * is a no-op on batch plans, the join predicate is identical) —
    * purchase events attributed to each click of the same user within the
    * following hour. This is the oracle-checked form; the streaming form
    * with bounded state runs in StreamingSpec.
    */
  def intervalJoinQuery(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    intervalJoin(clicks, purchases, "user_id")
      .select(col("l_event_id").as("click_id"), col("r_event_id").as("purchase_id"),
        col("l_user_id").as("user_id"),
        date_format(col("l_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("r_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
      .orderBy("click_id", "purchase_id")
  }

  // ---------- C4: streaming dedup ----------

  /** Streaming exact dedup: first arrival of each key wins; duplicate
    * state is dropped once the event-time watermark passes, so state is
    * bounded by keys-per-watermark-window, not stream length. The
    * streaming member of the D1 family (same keep-first semantics).
    */
  def streamingDedup(df: DataFrame, tsCol: String, keys: Seq[String],
                     watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** C7: the streaming front door of the curation pipeline — the E1
    * quality gates (word-count bounds + stopword floor, the same
    * predicates as `Curate.query`) applied as STATELESS column filters,
    * then first-arrival exact dedup on the normalized content hash. The
    * only stateful operator is the dedup, whose state the watermark
    * bounds; every gate runs per-row inside codegen before anything
    * touches the state store — at ingest rates the filters drop most
    * volume before the single keyed shuffle, which is what keeps a
    * continuous corpus feed at pace with a batch backfill.
    */
  /** C7's stateless front half — quality gates + normalized-content hash,
    * all per-row inside codegen (shared by the stream and its PlanOnly
    * batch twin).
    */
  def ingestGated(docs: DataFrame): DataFrame = {
    val w = split(lower(col("text")), " ")
    docs
      .withColumn("n_tok", size(w))
      .withColumn("n_stop", size(filter(w, t =>
        graft.ops.TextAnalysis.stopwords("en").map(x => t === x).reduce(_ || _))))
      .filter(col("n_tok").between(20, 500) && col("n_stop") >= 1)
      .withColumn("h", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
  }

  def ingestStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    streamingDedup(ingestGated(docs), "ts", Seq("h"), watermark)
      .select("doc_id", "n_tok", "ts")

  /** C8: streaming frequent tokens — the E11 Misra-Gries sketch inside a
    * watermarked windowed aggregation. The TypedImperativeAggregate's
    * serialize/deserialize is exactly what the state store round-trips
    * between micro-batches, so the sketch accumulates across batches with
    * O(k) state per open window; the watermark closes windows and emits
    * one (window, candidates, n_tok) row each. The per-window candidate
    * set carries the same ⊇-heavy-hitters guarantee as the batch form —
    * downstream exact recount (E11's second pass) runs batch-side.
    */
  def streamTokenSketch(docs: DataFrame, watermark: String = "2 hours"): DataFrame =
    docs.withWatermark("ts", watermark)
      .select(col("ts"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(FrequentItemsSketch.column(col("tok"), 64).as("cand"),
        count(lit(1)).as("n_tok"))

  /** C9: streaming per-window top-k — the B30 bounded TopKAggregate
    * inside a watermarked windowed aggregation: its serialize/merge IS
    * the state-store round trip, so the running top-3 events by value
    * accumulates across micro-batches with O(k) state per open window
    * (never a buffered row set), and the watermark closes each window
    * into its final exact top-k. Batch counterpart `q_topk_group` (B30)
    * carries the full SQL oracle; the heap's total order makes the
    * emitted top-k independent of batch arrival boundaries — pinned in
    * StreamingSpec by splitting the same events across batches.
    */
  def streamTopEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .select(col("ts"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("value_x100"),
        col("event_id"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(TopKAggregate.column(col("value_x100"), col("event_id"), 3).as("top"),
        count(lit(1)).as("n_events"))

  /** C4 batch query: the same keep-first-per-key semantics, oracle-checked.
    * The streaming form (above) keeps the first ARRIVAL; the deterministic
    * batch form keeps the first EVENT-TIME occurrence per (user_id,
    * event_type), tie-broken by event_id — one shuffle + window, the same
    * plan shape as the as-of join.
    */
  def streamDedupQuery(s: SparkSession, d: String): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
    graft.Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .withColumn("rn", row_number().over(byKey))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
      .orderBy("user_id", "event_type")
  }

  // ---------- C2 streaming form: custom state via flatMapGroupsWithState ----------

  final case class Ev(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(startUs: Long, lastUs: Long, n: Int)
  final case class Session(user_id: Long, startUs: Long, n_events: Int, duration_sec: Long)

  private val GapUs = 30L * 60 * 1000000

  /** Per-user session assembly with explicit state: closed sessions are
    * emitted as soon as a batch proves a gap; the open tail stays in
    * (watermark-bounded) state and flushes on event-time timeout.
    */
  def sessionizeStateful(events: Dataset[Ev]): Dataset[Session] = {
    val sq = events.sparkSession; import sq.implicits._
    // The state function must close over plain locals only — capturing the
    // Dataset or the enclosing object would fail task serialization.
    val isStreaming = events.isStreaming
    val gapUs = GapUs
    def fn(userId: Long, it: Iterator[Ev], state: GroupState[SessionState]): Iterator[Session] = {
      if (!state.exists && !it.hasNext) return Iterator.empty
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        return Iterator.single(Session(userId, st.startUs, st.n, st.lastUs / 1000000 - st.startUs / 1000000))
      }
      val evs = it.map(e => e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000).toArray.sorted
      val out = Seq.newBuilder[Session]
      // Merge-sweep the stored session (an interval) and the new events in
      // event-time order: a watermark-permitted late event inside — or
      // within one gap of — the stored session folds in (the start can
      // move EARLIER, matching the batch sort); a late event more than one
      // gap BEFORE the stored session becomes its own closed earlier
      // session instead of silently stretching the stored one (r5 — the
      // previous fold coarsened exactly this case). Only the last interval
      // stays open.
      val items: Array[SessionState] =
        (state.getOption.toArray ++ evs.map(us => SessionState(us, us, 1)))
          .sortBy(iv => (iv.startUs, iv.lastUs))
      var cur = items.head
      items.tail.foreach { iv =>
        if (iv.startUs - cur.lastUs > gapUs) {
          out += Session(userId, cur.startUs, cur.n, cur.lastUs / 1000000 - cur.startUs / 1000000)
          cur = iv
        } else
          cur = SessionState(cur.startUs, math.max(cur.lastUs, iv.lastUs), cur.n + iv.n)
      }
      if (isStreaming) {
        state.update(cur)
        // The watermark is GLOBAL across keys: a group whose newest event
        // is older than other groups' traffic can compute a timeout below
        // the current watermark, which Spark rejects and KILLS the query
        // (found by the checkpoint-restart spec's multi-file batch order).
        // Clamp to watermark+1ms — the already-expired session then times
        // out at the next watermark advance, the earliest legal moment.
        state.setTimeoutTimestamp(
          math.max(cur.lastUs / 1000 + gapUs / 1000, state.getCurrentWatermarkMs() + 1))
      } else {
        // Batch execution never fires timeouts, so the open tail would be
        // silently dropped — emit it now (matches Streams.sessionize).
        out += Session(userId, cur.startUs, cur.n, cur.lastUs / 1000000 - cur.startUs / 1000000)
        if (state.exists) state.remove()
      }
      out.result().iterator
    }
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ---------- C10: streaming SCD Type-2 (the A22 build as a stream) ----------

  final case class Scd2Ev(user_id: Long, event_id: Long, event_type: String,
                          ts: java.sql.Timestamp)
  final case class Scd2State(attr: String, startUs: Long, lastUs: Long,
                             n: Long, version: Long)
  final case class Scd2Row(user_id: Long, version: Long, event_type: String,
                           valid_from_sec: Long, valid_to_sec: Option[Long],
                           is_current: Boolean, n_events: Long)

  /** Streaming SCD Type-2 maintenance: per key, the OPEN version lives in
    * state; a batch that proves an attribute change emits the closed
    * interval immediately (Append — closed intervals are immutable
    * facts) and rolls the state to the new version. The current row is
    * never emitted by the stream: it IS the state (a real deployment
    * reads it from the state store or a compacted sink); batch execution
    * emits it with is_current = true, which makes the batch run
    * bit-identical to A22's `scd2_history` and puts this exact state
    * function under the same DuckDB oracle.
    *
    * State is O(#entities) — one open version per key, the dimension
    * size, NOT the event count — so there is no watermark timeout to
    * tune: a dimension row stays open until its next change, however far
    * apart changes are. Events inside a micro-batch are sorted
    * (any within-batch disorder is handled exactly); cross-batch parity
    * holds for per-key event-time-ordered delivery, and a cross-batch
    * straggler older than the open run folds into it at
    * max(us, open.lastUs) — already-emitted intervals are never
    * retro-split (the same repair bound sessionizeStateful documents).
    */
  def scd2Stream(events: Dataset[Scd2Ev]): Dataset[Scd2Row] = {
    val sq = events.sparkSession; import sq.implicits._
    val isStreaming = events.isStreaming
    def fn(userId: Long, it: Iterator[Scd2Ev],
           state: GroupState[Scd2State]): Iterator[Scd2Row] = {
      val evs = it.map(e =>
          (e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000, e.event_id, e.event_type))
        .toArray.sortBy(e => (e._1, e._2))
      if (evs.isEmpty && !state.exists) return Iterator.empty
      val out = Seq.newBuilder[Scd2Row]
      var open = state.getOption.orNull
      evs.foreach { case (rawUs, _, attr) =>
        if (open == null)
          open = Scd2State(attr, rawUs, rawUs,
            n = 1, version = state.getOption.map(_.version).getOrElse(0L) + 1)
        else {
          val us = math.max(rawUs, open.lastUs) // cross-batch straggler clamp
          if (attr == open.attr)
            open = open.copy(startUs = math.min(open.startUs, rawUs), lastUs = us,
              n = open.n + 1)
          else {
            out += Scd2Row(userId, open.version, open.attr, open.startUs / 1000000,
              Some(us / 1000000), is_current = false, open.n)
            open = Scd2State(attr, us, us, n = 1, version = open.version + 1)
          }
        }
      }
      if (isStreaming) state.update(open)
      else { // batch never times out: surface the current version too
        out += Scd2Row(userId, open.version, open.attr, open.startUs / 1000000,
          None, is_current = true, open.n)
        if (state.exists) state.remove()
      }
      out.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** C10 query: the streaming state function run in batch mode, shaped
    * exactly like `scd2_history` — same DuckDB oracle, so the stream's
    * core logic is value-checked, not just spec-eyeballed.
    */
  def scd2StreamQuery(s: SparkSession, d: String): DataFrame = {
    val sq = s; import sq.implicits._
    val evs = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[Scd2Ev]
    scd2Stream(evs).toDF()
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_sec"), col("valid_to_sec"), col("is_current"),
        col("n_events"))
      .orderBy("user_id", "version")
  }

  /** C2 query (r5): the CUSTOM-STATE sessionizer run in batch mode over
    * the events table, formatted to the same shape as `sessionize` — so
    * the flatMapGroupsWithState logic itself sits under the DuckDB
    * oracle, not just the native session_window path.
    */
  def sessionizeStatefulQuery(s: SparkSession, d: String): DataFrame = {
    val sq = s; import sq.implicits._
    val evs = Tables.events(s, d).select(col("user_id"), col("ts")).as[Ev]
    sessionizeStateful(evs).toDF()
      .select(col("user_id"),
        date_format(timestamp_micros(col("startUs")), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        col("n_events").cast("long").as("n_events"),
        col("duration_sec"))
      .orderBy("user_id", "start_s")
  }

  // ---------- C13: sliding-window exact distinct users ----------

  /** C13 shared batch/stream core: exact unique users per 6-hour window
    * sliding hourly — B37's rolling-distinct made continuous. The
    * sliding `window()` IS the bounded explode (≤6 windows per event,
    * planned natively), the per-(user, window) dedup is the map-side
    * collapse that keeps repeat events off the wire, and the final count
    * is a plain windowed aggregate. In streaming BOTH stateful stages
    * are watermark-bounded: the dedup key includes the event-time window
    * struct so its state drops with the watermark, and the count's
    * window state closes the same way (Spark's chained
    * stateful-operator support in append mode; StreamingSpec drives the
    * chain across micro-batches, repeats included).
    */
  def rollingDistinctAgg(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), window(col("ts"), "6 hours", "1 hour").as("win"))
      .dropDuplicates("user_id", "win")
      .groupBy("win")
      .agg(count(lit(1)).as("n_users"))

  /** C13 query (batch mode — identical semantics to the streaming form). */
  def rollingDistinct(s: SparkSession, d: String): DataFrame =
    rollingDistinctAgg(Tables.events(s, d))
      .select(date_format(col("win.start"), "yyyy-MM-dd HH:00").as("win_s"),
        col("n_users"))
      .orderBy("win_s")

  val rollingDistinctOracleSql: String = """
    WITH x AS (SELECT DISTINCT user_id,
        date_trunc('hour', ts) - to_hours(CAST(unnest(range(0, 6)) AS BIGINT)) AS win_start
      FROM events)
    SELECT strftime(win_start, '%Y-%m-%d %H:00') AS win_s,
      CAST(count(*) AS BIGINT) AS n_users
    FROM x GROUP BY win_start ORDER BY win_s"""

  /** C13 streaming wiring — watermarked events through the same
    * dedup+agg chain.
    */
  def rollingDistinctStream(events: DataFrame): DataFrame =
    rollingDistinctAgg(events.withWatermark("ts", "2 hours"))

  // ---------- C14: continuous data-quality monitoring ----------

  /** C14 shared batch/stream core: A27's rule discipline on a moving
    * stream — per hour window, total rows plus one violation counter per
    * rule, all as `sum(when)` columns inside ONE windowed aggregate (the
    * same adding-rules-adds-columns contract as the batch audit; nothing
    * ever collects violating rows). In streaming this is a single
    * watermark-bounded stateful operator; the per-row rule predicates run
    * stateless in codegen before it.
    */
  def dqAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1).otherwise(0)).as("v_null_value"),
        sum(when(col("value") < 0, 1).otherwise(0)).as("v_negative_value"),
        sum(when(col("event_type").isin("click", "view", "purchase", "signup"), 0)
          .otherwise(1)).as("v_unknown_type"),
        sum(when(col("user_id").isNull, 1).otherwise(0)).as("v_null_user"))

  /** C14 query (batch mode — identical semantics to the streaming form). */
  def dq(s: SparkSession, d: String): DataFrame =
    dqAgg(Tables.events(s, d))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_s"),
        col("n_rows"), col("v_null_value"), col("v_negative_value"),
        col("v_unknown_type"), col("v_null_user"))
      .orderBy("hour_s")

  val dqOracleSql: String = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_s,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_value,
      CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_negative_value,
      CAST(sum(CASE WHEN event_type IN ('click','view','purchase','signup')
        THEN 0 ELSE 1 END) AS BIGINT) AS v_unknown_type,
      CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_user
    FROM events GROUP BY date_trunc('hour', ts) ORDER BY hour_s"""

  /** C14 streaming wiring — watermarked events through the same audit. */
  def dqStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    dqAgg(events.withWatermark("ts", watermark))

  // ---------- C12: streaming decontamination gate ----------

  /** C12: the in-stream half of benchmark decontamination (D17b's bloom,
    * applied at ingest). The eval suite's distinct shingles collapse to
    * ONE fixed-size Bloom filter snapshot at stream LAUNCH — a single
    * driver-side head() of a 128 KiB scalar, once per stream, never per
    * batch or per row — which then rides the stream's codegen as a
    * foldable literal (a scalar subquery cannot cross the batch→stream
    * boundary; a snapshot literal is exactly how a production gate pins
    * its filter at deploy time). Each incoming doc counts its distinct
    * shingles the bloom says MAYBE belong to the eval set, entirely
    * map-side and stateless:
    *
    *   - `route = quarantine` when ≥ minHits shingles are maybe-eval: the
    *     doc goes to the offline EXACT verify (D17's join) before any
    *     training use;
    *   - `route = clean` is a PROOF, not a guess: a truly contaminated
    *     doc shares ≥ minHits distinct shingles with some eval doc, the
    *     bloom has NO false negatives, so every one of those shingles
    *     tests maybe and the doc cannot route clean. False positives only
    *     ever over-quarantine (bounded by numBits), never leak.
    *
    * StreamingSpec pins the invariant against the batch exact join on a
    * contaminated corpus split across micro-batches.
    */
  def quarantineGate(evalDocs: DataFrame, minHits: Int = 8,
      estItems: Long = 1L << 16, numBits: Long = 1L << 20): Column => Column = {
    import graft.ops.Dedup.{bloomAgg, mightContain}
    val bloomBytes = graft.ops.Dedup.withShingles(evalDocs)
      .select(explode(col("sh")).as("shingle"))
      .agg(bloomAgg(xxhash64(col("shingle")), estItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    // The probe side carries PER-GATE state (this gate's bloom bytes):
    // spliced into the expression tree as a foldable literal, each gate
    // closure owns its own bloom, no session state at all.
    val bloomLit = lit(bloomBytes)
    // caller passes a BOUND words-array column (projected once per row —
    // an inline split() here would re-evaluate per lambda reference, the
    // no-CSE-in-HOF trap shinglesOfWords documents)
    (words: Column) => {
      val maybeHits = size(filter(graft.ops.Dedup.shinglesOfWords(words), t =>
        mightContain(bloomLit, xxhash64(t))))
      when(maybeHits >= minHits, "quarantine").otherwise("clean")
    }
  }

  /** C12 streaming wiring: stateless gate column over a doc stream —
    * every row routes inside whole-stage codegen, no state store, no
    * watermark interplay; the only state in a full ingest pipeline
    * remains C7's dedup.
    */
  def quarantineStream(docs: DataFrame, evalDocs: DataFrame, minHits: Int = 8,
      estItems: Long = 1L << 16, numBits: Long = 1L << 20): DataFrame = {
    val gate = quarantineGate(evalDocs, minHits, estItems, numBits)
    docs.withColumn("graft_w", split(lower(col("text")), " "))
      .withColumn("route", gate(col("graft_w")))
      .select("doc_id", "ts", "route")
  }

  // ---------- C7/C8/C9/C12 driver-oracled REAL streaming runs ----------
  //
  // The four operators above were "spec-only by nature": their streaming
  // executions ran under ScalaTest while the driver gate checked batch
  // twins. StreamRun closes that gap — each query below EXECUTES the
  // stream (file source, maxFilesPerTrigger=1 micro-batches, state-store
  // round-trips, sentinel-flushed watermark) and hands the sink to the
  // DuckDB oracle, so the streaming path itself is now rows+schema+hash
  // gated. Output columns are chosen to be ARRIVAL-INVARIANT (exact-
  // deterministic under any micro-batch partitioning), so the oracle
  // stays an equality, not a tolerance.

  /** Synthetic event time for the document corpus (documents.parquet
    * carries no timestamp): doc_id minutes past 2024-01-01 UTC —
    * deterministic, replayable by the DuckDB oracle, and it spreads the
    * corpus across hours so windowed/stateful operators see real
    * multi-window shapes.
    */
  private[graft] def docTs =
    expr("timestamp_micros(1704067200000000 + doc_id * 60000000)")
  private val docTsSql = "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) MINUTE"

  /** A watermark delay exceeding the input's whole event-time span, plus
    * the sentinel timestamp that still closes every real window. The
    * file source does NOT guarantee ts-ascending micro-batches (part-file
    * listing order is mtime/path lore) — with a short delay, one
    * out-of-order batch would advance the watermark over earlier files
    * and their rows would be DROPPED as late. A span-exceeding delay
    * makes every in-data row on-time under any arrival order (watermark
    * after any batch ≤ min(ts) − 1 h), and the sentinel at
    * max + delay + 2 h pushes the final watermark to max + 2 h —
    * strictly past every real window's end, while the sentinel's own
    * window stays open and unemitted. Short-delay eviction behavior is
    * pinned separately in StreamingSpec with ordered MemoryStream feeds.
    */
  private def spanningWatermark(input: DataFrame, tsCol: String): (String, java.sql.Timestamp) = {
    val mm = input.agg(min(col(tsCol)), max(col(tsCol))).head()
    val (minTs, maxTs) = (mm.getTimestamp(0), mm.getTimestamp(1))
    val delayMin = (maxTs.getTime - minTs.getTime) / 60000 + 60
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + (delayMin + 120) * 60000)
    (s"$delayMin minutes", sentinelTs)
  }

  /** C7 driver-oracled run: the REAL ingest stream (gates → watermarked
    * first-arrival dedup through the state store) over the corpus split
    * into 3 micro-batches. WHICH member of a duplicate group survives is
    * arrival-order-dependent (first arrival wins — that's the operator's
    * contract), so the output is the arrival-invariant image of the kept
    * set: the normalized-content hash and token count of each surviving
    * doc — one row per unique gated content, whatever the batch layout.
    * The watermark horizon EXCEEDS the corpus's synthetic time span
    * (spanningWatermark — a fixed horizon re-emitted duplicates at the
    * self-run sf1, whose replica key-shift stretches doc_id minutes
    * across centuries), so no dedup state expires mid-run and the kept
    * set is exactly one-per-hash; the short-horizon re-emission behavior
    * is pinned separately in StreamingSpec.
    */
  def streamIngestQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), docTs.as("ts"))
    val (delay, _) = spanningWatermark(docs, "ts")
    val kept = graft.streaming.StreamRun.toSink(s, docs, "ts", 3,
      df => ingestStream(df, watermark = delay))
    kept.join(Tables.documents(s, d).select("doc_id", "text"), Seq("doc_id"))
      .select(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"),
        col("n_tok").cast("long").as("n_tok"))
      .orderBy("h")
  }

  val streamIngestOracleSql: String = """
    WITH t AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
             list_has_any(string_split(lower(text), ' '),
                          ['the', 'a', 'of', 'and', 'to']) AS has_stop
      FROM documents)
    SELECT h, min(n_tok) AS n_tok FROM t
    WHERE n_tok BETWEEN 20 AND 500 AND has_stop
    GROUP BY h ORDER BY h"""

  /** C8 driver-oracled run: the REAL windowed Misra-Gries stream (sketch
    * buffers serialize through the state store between micro-batches, a
    * sentinel closes every window). The candidate SET is sketch-order-
    * dependent by design, so the gated output is the pair of facts that
    * are exact: the per-window token count carried by the same aggregate
    * row, and `superset_ok` — a batch-side exact recount proving every
    * true heavy hitter (freq > N/65, the k=64 Misra-Gries bound) appears
    * among the streamed candidates. The oracle pins `superset_ok` to
    * literal true: if the sketch ever dropped a heavy hitter across a
    * state-store round-trip, the hash gate fails.
    */
  def streamTokenSketchQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(docTs.as("ts"), col("text"))
    val (delay, sentinelTs) = spanningWatermark(docs, "ts")
    val sentinel = s.range(1).select(lit(sentinelTs).as("ts"), lit("").as("text"))
    val sunk = graft.streaming.StreamRun.toSink(s, docs, "ts", 3,
      df => streamTokenSketch(df, watermark = delay), Some(sentinel))
    val toks = docs
      .select(col("ts"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(window(col("ts"), "1 hour"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val hh = toks
      .withColumn("n_exact", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("window")))
      .filter(col("cnt") * 65 > col("n_exact"))
      .groupBy("window").agg(collect_list("tok").as("hh"))
    sunk.join(hh, Seq("window"), "left")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_s"),
        col("n_tok"),
        (col("hh").isNull || size(array_except(col("hh"), col("cand"))) === 0)
          .as("superset_ok"))
      .orderBy("hour_s")
  }

  val streamTokenSketchOracleSql: String = s"""
    WITH t AS (
      SELECT date_trunc('hour', $docTsSql) AS w,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM documents)
    SELECT strftime(w, '%Y-%m-%d %H:00') AS hour_s,
      CAST(count(*) AS BIGINT) AS n_tok, true AS superset_ok
    FROM t WHERE tok <> '' GROUP BY w ORDER BY hour_s"""

  /** C9 driver-oracled run: the REAL windowed top-k stream — the bounded
    * heap accumulates across 5 micro-batches through the state store and
    * a sentinel closes every real window (the sentinel's own window is
    * never emitted: the watermark stops 2 h short of it). Unlike C7/C8
    * the full output is already arrival-invariant — the heap keeps a
    * TOTAL order (value desc, event_id asc), so the exact per-window
    * top-3 and event count go under B30's row_number oracle unchanged.
    */
  def streamTopkQuery(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "value")
    val (delay, sentinelTs) = spanningWatermark(ev, "ts")
    val sentinel = s.range(1).select(lit(-1L).as("event_id"),
      lit(sentinelTs).as("ts"), lit(0.0).cast(ev.schema("value").dataType).as("value"))
    val sunk = graft.streaming.StreamRun.toSink(s, ev, "ts", 4,
      df => streamTopEvents(df, watermark = delay), Some(sentinel))
    sunk
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_s"),
        col("n_events"), posexplode(col("top")))
      .select(col("hour_s"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.payload").as("event_id"), col("col.sort_key").as("value_x100"),
        col("n_events"))
      .orderBy("hour_s", "rnk")
  }

  val streamTopkOracleSql: String = """
    WITH e AS (SELECT event_id,
        CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS value_x100,
        date_trunc('hour', ts) AS w
      FROM events),
    r AS (SELECT w, event_id, value_x100,
        row_number() OVER (PARTITION BY w ORDER BY value_x100 DESC, event_id) AS rnk,
        count(*) OVER (PARTITION BY w) AS n_events
      FROM e)
    SELECT strftime(w, '%Y-%m-%d %H:00') AS hour_s, CAST(rnk AS BIGINT) AS rnk,
      event_id, value_x100, CAST(n_events AS BIGINT) AS n_events
    FROM r WHERE rnk <= 3 ORDER BY hour_s, rnk"""

  /** C12 driver-oracled run: the REAL quarantine stream (per-gate bloom
    * Literal inside whole-stage codegen, stateless — 3 micro-batches)
    * followed by the offline exact verify the `quarantine` route exists
    * to feed: shingle-join only the quarantined docs against the eval
    * set. Because the bloom has NO false negatives, every contaminated
    * doc routes quarantine, so the verified output is bit-identical to
    * D17's full exact join — same oracle. A false positive costs a
    * doomed verify probe, never a wrong row; a false NEGATIVE (a
    * contaminated doc slipping through as `clean`) would drop rows the
    * oracle expects and fail the hash gate — the no-leak guarantee,
    * driver-checked. Bloom sized 2^20 items / 2^24 bits so the prefilter
    * stays selective at self-run sf1 (~3M eval shingles).
    */
  def streamQuarantineQuery(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    val evalDocs = all.filter(col("doc_id") % 23 === 0).select("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), docTs.as("ts"), col("text"))
    val routed = graft.streaming.StreamRun.toSink(s, corpus, "ts", 3,
      df => quarantineStream(df, evalDocs, minHits = 8,
        estItems = 1L << 20, numBits = 1L << 24))
    val qIds = routed.filter(col("route") === "quarantine").select("doc_id")
    val sh = graft.ops.Dedup.withShingles(all).select("doc_id", "sh")
    val evalSh = sh.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("shingle"))
    val corpusSh = sh.join(qIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    corpusSh.join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= 8)
      .orderBy("doc_id", "eval_id")
  }

  /** C3 driver-oracled run: crash-recovery as a correctness fact, not a
    * spec assertion. The tumbling aggregation runs through a REAL
    * checkpoint restart (StreamRun.throughRestart: 6 ts-ordered file
    * batches, graceful stop after 3 — by which point a quarter-span
    * watermark has already committed real windows to the parquet sink —
    * then a brand-new query on the same checkpoint rebuilds watermark +
    * window state and drains the rest + sentinel). The sink's
    * `_spark_metadata` manifest is the exactly-once contract: every
    * window appears once across both legs, and the final sink must
    * hash-match the batch aggregation of the whole table — C1's oracle,
    * now gating recovery. Hard-kill chaos (task-level SIGKILL at random
    * batch boundaries) stays in the ScalaTest chaos specs.
    */
  def streamRecoveryQuery(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "event_type", "value")
    val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
    val (minTs, maxTs) = (mm.getTimestamp(0), mm.getTimestamp(1))
    val delayMin = (maxTs.getTime - minTs.getTime) / 60000 / 4 + 60
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + (delayMin + 120) * 60000)
    val sentinel = s.range(1).select(lit(-1L).as("event_id"),
      lit(sentinelTs).as("ts"), lit("sentinel").as("event_type"),
      lit(0.0).cast(ev.schema("value").dataType).as("value"))
    val (sunk, _) = graft.streaming.StreamRun.throughRestart(s, ev, "ts", 6, 3,
      df => tumblingAgg(df.withWatermark("ts", s"$delayMin minutes")), sentinel)
    sunk.select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_s", "event_type")
  }

  // ---------- C15: stream-stream as-of join ----------

  /** One tagged row of the unioned (orders ∪ events) stream. Money rides
    * as exact cents; `is_order` discriminates the sides.
    */
  final case class AsofIn(k: Long, ts: java.sql.Timestamp, is_order: Boolean,
                          o_orderkey: Long, total_cents: Long, event_id: Long)
  final case class AsofOrd(tUs: Long, orderKey: Long, totalCents: Long)
  final case class AsofPending(orders: List[AsofOrd], events: List[(Long, Long)])
  final case class AsofMatch(event_id: Long, user_id: Long, ts_us: Long,
                             matched_order: Option[Long], matched_total_cents: Option[Long])

  /** C15: stream-stream AS-OF join — each event matched to the latest
    * order of the same key at-or-before its timestamp, with B13's exact
    * tie rule (an order at the event's own instant matches; among equal
    * times the larger order key wins). Structured Streaming has no
    * native as-of join (stream-stream joins need range conditions both
    * ways); this is the `flatMapGroupsWithState` form over the tagged
    * union of both streams.
    *
    * Event rows wait in state until the WATERMARK passes their
    * timestamp — only then is "no earlier order can still arrive" a
    * theorem, so every emitted match is final (Append-mode facts, never
    * retracted). Order state then prunes to ONE row at-or-below the
    * watermark (the only below-horizon order any future event can match
    * — larger times dominate) plus the in-horizon tail: state is
    * O(active keys × in-horizon traffic) + one dimension row per key,
    * the same contract scd2Stream documents. Late EVENTS beyond the
    * watermark are dropped by the standard contract; a late ORDER below
    * the watermark is dropped with it — already-emitted matches are
    * never retro-corrected (the sessionizeStateful repair bound).
    *
    * Batch execution (no watermark ⇒ cutoff = +∞) emits every match in
    * one pass — bit-identical to B13's union-window form, which puts
    * THIS state machine under the same DuckDB oracle (`asof_stateful`).
    */
  def asofStream(input: Dataset[AsofIn]): Dataset[AsofMatch] = {
    val sq = input.sparkSession; import sq.implicits._
    val isStreaming = input.isStreaming
    def fn(k: Long, it: Iterator[AsofIn], state: GroupState[AsofPending]): Iterator[AsofMatch] = {
      val st = state.getOption.getOrElse(AsofPending(Nil, Nil))
      val (newOrders, newEvents) = it.toArray.partition(_.is_order)
      def us(t: java.sql.Timestamp) = t.getTime * 1000 + (t.getNanos / 1000) % 1000
      // orders ascending by (t, orderKey): the LAST entry ≤ an event's t
      // is the match — B13's DESC/DESC row_number(1) mirrored
      val orders = (st.orders ++ newOrders.map(o => AsofOrd(us(o.ts), o.o_orderkey, o.total_cents)))
        .sortBy(o => (o.tUs, o.orderKey))
      val events = (st.events ++ newEvents.map(e => (us(e.ts), e.event_id)))
        .sortBy(identity)
      val cutoffUs = if (isStreaming) state.getCurrentWatermarkMs() * 1000 else Long.MaxValue
      // STRICTLY below the watermark. Measured (StreamingSpec's boundary
      // test): Spark's late filter for this operator drops rows AT the
      // watermark (non-strict), so a same-instant order can never be
      // admitted later — but the strict emission rule makes "every
      // emitted match is final" independent of which side of the exact
      // boundary Spark drops, so a Spark behavior change cannot open a
      // 1 µs finality hole here. Cost: an event landing exactly on the
      // watermark pends one batch longer (measure-zero case). Batch mode
      // (cutoff = +∞) is unaffected: every finite time is strictly below.
      val (ready, pending) = events.partition(_._1 < cutoffUs)
      val out = ready.map { case (tUs, eventId) =>
        val m = orders.takeWhile(_.tUs <= tUs).lastOption
        AsofMatch(eventId, k, tUs, m.map(_.orderKey), m.map(_.totalCents))
      }
      if (isStreaming) {
        // prune: one best order at-or-below the horizon + the tail above it
        val (below, above) = orders.partition(_.tUs <= cutoffUs)
        val kept = below.lastOption.toList ++ above
        if (kept.isEmpty && pending.isEmpty) state.remove()
        else {
          state.update(AsofPending(kept, pending))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.head._1 / 1000 + 1, state.getCurrentWatermarkMs() + 1))
          // order-only state is dimension state: no timeout, lives until
          // the next event or order for the key (O(#keys), like scd2)
        }
      } else if (state.exists) state.remove()
      out.iterator
    }
    input.withWatermark("ts", "2 hours")
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** C15 query (batch mode): the SAME state machine over orders ∪ events,
    * producing B13's exact relation under B13's oracle. Null-key/date
    * orders can match nothing and are dropped; null-key/ts events (none
    * in this catalog — the branch unions empty here) bypass the keyed
    * operator stateless with null-extended output, matching the oracle's
    * left-join semantics.
    */
  def asofStatefulQuery(s: SparkSession, d: String): DataFrame = {
    val sq = s; import sq.implicits._
    val o = Tables.orders(s, d)
      .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
      .select(col("o_custkey").as("k"), col("o_orderdate").cast("timestamp").as("ts"),
        lit(true).as("is_order"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"),
        lit(-1L).as("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
    val keyed = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as("k"), col("ts"),
        lit(false).as("is_order"), lit(-1L).as("o_orderkey"),
        lit(0L).as("total_cents"), col("event_id"))
    val matches = asofStream(o.unionByName(keyed).as[AsofIn]).toDF()
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("matched_order"), col("matched_total_cents"))
    // null-key/ts events can match nothing: stateless null-extended bypass
    val bypass = ev.filter(col("user_id").isNull || col("ts").isNull)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        lit(null).cast("long").as("matched_order"),
        lit(null).cast("long").as("matched_total_cents"))
    matches.unionByName(bypass)
      .select(col("event_id"), col("user_id"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("matched_order"),
        (col("matched_total_cents").cast("decimal(20,0)") / 100).cast("decimal(12,2)")
          .as("matched_total"))
      .orderBy("event_id")
  }
}
