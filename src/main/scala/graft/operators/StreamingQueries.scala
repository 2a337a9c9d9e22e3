package graft.operators

import graft.{QueryDef, Tables}
import graft.streaming.EventsStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming + session-window query surface (SURVEY.md §2.9).
  *
  * q33 runs a REAL Structured Streaming query (file source → watermark →
  * tumbling window → memory sink) drained to completion; its oracle is
  * the equivalent batch SQL — streaming/batch equivalence is the
  * correctness claim. q34 is Spark's gap-based session_window in batch
  * mode, oracled by a gaps-and-islands SQL formulation.
  */
object StreamingQueries {

  val q33StreamTumbling: QueryDef = QueryDef(
    "q33_stream_tumbling",
    (s, dir) => {
      val events = EventsStream.readEvents(s, dir)
      EventsStream.runToCompletion(s, EventsStream.hourlyAgg(events))
        .orderBy("hour_w", "event_type")
    },
    Some("""SELECT
           |  strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
           |           '%Y-%m-%d %H:%M:%S') AS hour_w,
           |  event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
           |FROM events GROUP BY 1, 2 ORDER BY hour_w, event_type""".stripMargin))

  // Gap-based sessionization (30-min inactivity gap). Spark semantics:
  // an event extends the session iff ts < prev_ts + gap, so a new
  // session starts when the gap is >= 30 min — mirrored exactly in the
  // oracle's gaps-and-islands break flag. Both engines work on the
  // µs-truncated timestamp.
  val q34Sessionize: QueryDef = QueryDef(
    "q34_sessionize",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType)
            .as("total"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n"), col("total"))
        .orderBy("user_id", "session_start"),
    Some("""WITH e AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
           |m AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
           |         THEN 1 ELSE 0 END AS brk
           |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |sess AS (
           |  SELECT user_id, ts, value,
           |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
           |                   ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM m)
           |SELECT user_id,
           |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
           |FROM sess GROUP BY user_id, sid
           |ORDER BY user_id, session_start""".stripMargin))

  // STREAMING sessionization — q34's session_window run as a real
  // Structured Streaming query (file source → watermark → merging
  // session state → memory sink, drained to completion). The batch/
  // stream split matters here more than for fixed windows: streaming
  // session state merges ranges as events arrive and the watermark
  // closes sessions (state eviction), while batch sessionizes in one
  // sort — identical final answers is exactly the equivalence claim,
  // and q34's gaps-and-islands SQL is the oracle for both.
  val q121StreamSessionize: QueryDef = QueryDef(
    "q121_stream_sessionize",
    (s, dir) => {
      val events = EventsStream.readEvents(s, dir)
      EventsStream.runToCompletion(s, EventsStream.sessionAgg(events))
        .orderBy("user_id", "session_start")
    },
    q34Sessionize.oracle)

  // Streaming keyed dedup (dropDuplicatesWithinWatermark): WHICH event
  // survives per (user_id, event_type) is arrival-order-dependent, but
  // the surviving COUNT per key is exactly the distinct-key count —
  // aggregate that and the result is oracle-checkable.
  val q41StreamDedup: QueryDef = QueryDef(
    "q41_stream_dedup",
    (s, dir) => {
      val events = EventsStream.readEvents(s, dir)
      val deduped = EventsStream.dedupWithinWatermark(events)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("distinct_users"))
      EventsStream.runToCompletion(s, deduped)
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  // Sliding windows (1 h window, 15 min slide): every event lands in
  // exactly 4 overlapping windows. Window starts align to the epoch
  // 15-min grid in both engines; emitted as epoch seconds to avoid
  // timezone-dependent formatting of DuckDB's to_timestamp.
  val q43Sliding: QueryDef = QueryDef(
    "q43_sliding_window",
    (s, dir) =>
      graft.Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("total"))
        .select(unix_timestamp(col("window.start")).as("w_start_s"),
          col("event_type"), col("n"), col("total"))
        .orderBy("w_start_s", "event_type"),
    Some("""WITH g AS (
           |  SELECT epoch(CAST(ts AS TIMESTAMP)) AS es, event_type, value
           |  FROM events),
           |e AS (
           |  SELECT es, event_type, value, unnest(range(0, 4)) AS k FROM g)
           |SELECT CAST(floor(es / 900) * 900 - k * 900 AS BIGINT)
           |         AS w_start_s,
           |       event_type, COUNT(*) AS n,
           |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
           |         AS total
           |FROM e GROUP BY 1, 2 ORDER BY w_start_s, event_type""".stripMargin))

  // HLL approximate distinct (free via Catalyst, SURVEY §2.4 "HLL
  // distinct *(not in reference)*"). HLL sketches differ across engines,
  // so the raw estimate can't hash-match an oracle — instead the query
  // emits the exact distinct count alongside an in-query assertion that
  // the HLL estimate lands within 5% of it (rsd=0.02 → ~2σ bound). The
  // oracle pins the exact counts and the assertion's expected outcome,
  // upgrading this from a rows-only check to a full hash match.
  val q44ApproxDistinct: QueryDef = QueryDef(
    "q44_approx_distinct",
    (s, dir) =>
      graft.Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          (abs(col("approx") - col("exact_users"))
            .cast("double") / col("exact_users") <= 0.05).as("approx_ok"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
           |  COUNT(DISTINCT user_id) AS exact_users,
           |  COUNT(*) AS n, true AS approx_ok
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  // Stream-stream interval join (click → purchase attribution within
  // 10 min, same user), run as a REAL two-stream watermarked join
  // drained through an append-mode memory sink. The inner-join result
  // set is deterministic, so the oracle is the equivalent batch range
  // join — streaming/batch equivalence again.
  val q50StreamJoin: QueryDef = QueryDef(
    "q50_stream_join",
    (s, dir) => {
      val events = EventsStream.readEvents(s, dir)
      EventsStream.runToCompletion(s,
        EventsStream.clickToPurchase(events), mode = "append")
        .orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
           |  p.event_id AS purchase_id, p.value
           |FROM events c JOIN events p
           |  ON c.event_type = 'click' AND p.event_type = 'purchase'
           | AND c.user_id = p.user_id
           | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
           | AND CAST(p.ts AS TIMESTAMP) <=
           |     CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
           |ORDER BY click_id, purchase_id""".stripMargin))

  // LEFT-OUTER stream-stream join with watermark state expiry — the
  // outer member of the stream-join family (q50 is inner): clicks with
  // no purchase within 10 min surface as null-extended rows once the
  // watermark passes their match window. Emission timing makes raw
  // output watermark-dependent at the stream TAIL: a click whose match
  // window the final watermark never passes is still undecided when
  // the source drains (neither matched nor expired), so the oracle-
  // checked result restricts BOTH engines to the DECIDED cohort —
  // clicks at least (join window + watermark delay + 1 min margin)
  // before the slower stream's max event time. Inside that cohort
  // streaming/batch equivalence is exact: matched rows emit on match,
  // null rows emit on expiry, and the batch left-outer range join is
  // the oracle. The watermark cutoff scalar is a driver-side metadata
  // collect (same class as chunk bounds), mirrored by the oracle's
  // scalar subquery.
  val q120StreamJoinOuter: QueryDef = QueryDef(
    "q120_stream_join_outer",
    (s, dir) => {
      val events = EventsStream.readEvents(s, dir)
      val out = EventsStream.runToCompletion(s,
        EventsStream.clickToPurchaseOuter(events), mode = "append")
      val cutoff = Tables.load(s, dir, "events")
        .agg(least(
          max(when(col("event_type") === "click", col("ts"))),
          max(when(col("event_type") === "purchase", col("ts"))))
          .as("mx"))
        .head.getTimestamp(0)
      out.filter(col("c_ts") <=
          lit(cutoff) - expr("interval 21 minutes"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("value"))
        .orderBy("click_id", "purchase_id")
    },
    Some("""WITH m AS (
           |  SELECT least(
           |    max(CASE WHEN event_type = 'click'
           |             THEN CAST(ts AS TIMESTAMP) END),
           |    max(CASE WHEN event_type = 'purchase'
           |             THEN CAST(ts AS TIMESTAMP) END)) AS mx
           |  FROM events),
           |c AS (
           |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events WHERE event_type = 'click'),
           |p AS (
           |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
           |  FROM events WHERE event_type = 'purchase')
           |SELECT c.user_id, c.event_id AS click_id,
           |  p.event_id AS purchase_id, p.value
           |FROM c
           |LEFT JOIN p ON c.user_id = p.user_id
           |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
           |WHERE c.ts <= (SELECT mx FROM m) - INTERVAL 21 MINUTE
           |ORDER BY click_id, purchase_id""".stripMargin))

  // Stream-static enrichment — the third Structured Streaming join
  // pattern (alongside the windowed agg and the stream-stream interval
  // join): a live event stream joined to a broadcast static dimension
  // (customer) and aggregated per segment. The static side is planned
  // ONCE and re-broadcast per micro-batch — no stream-side state at
  // all, which is why this is the default enrichment shape at any
  // scale. Complete-mode memory sink, batch-equivalence oracle (same
  // rows as the batch join by construction).
  val q76StreamEnrich: QueryDef = QueryDef(
    "q76_stream_enrich",
    (s, dir) => {
      val events = EventsStream.readEvents(s, dir)
      val cust = broadcast(graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val agg = events
        .join(cust, events("user_id") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("total"))
      EventsStream.runToCompletion(s, agg).orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
           |FROM events JOIN customer ON user_id = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  // First-threshold-crossing alert (flatMapGroupsWithState emitting
  // MID-stream, not on expiry — see [[graft.streaming.ThresholdMonitor]]):
  // per user, the first event at which the cumulative value reaches
  // 3000.00. Exact integer-cents state makes the running total
  // engine-identical; the oracle is the batch running-sum formulation.
  val q82StreamThreshold: QueryDef = QueryDef(
    "q82_stream_threshold",
    (s, dir) => {
      import s.implicits._
      val rows = EventsStream.readEvents(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsUs"),
          (col("value").cast(DecimalType(12, 2)) * 100)
            .cast(LongType).as("cents"))
        .as[graft.streaming.CumRow]
      val crossings =
        graft.streaming.ThresholdMonitor.firstCrossing(rows, 300000L)
      EventsStream.runToCompletion(s, crossings.toDF(), mode = "append")
        .select(col("user_id"),
          date_format(timestamp_micros(col("cross_ts_us")),
            "yyyy-MM-dd HH:mm:ss").as("cross_ts"),
          col("n_at_cross"),
          (col("cum_cents").cast(DoubleType) / 100d).as("cum_at_cross"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
           |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           |    CAST(value AS DECIMAL(12,2)) AS v
           |  FROM events),
           |r AS (
           |  SELECT user_id, ts,
           |    SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                 ROWS UNBOUNDED PRECEDING) AS cum,
           |    ROW_NUMBER() OVER (PARTITION BY user_id
           |                       ORDER BY ts, event_id) AS rn
           |  FROM e),
           |c AS (
           |  SELECT user_id, ts, rn, cum,
           |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS rk
           |  FROM r WHERE cum >= 3000.00)
           |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS cross_ts,
           |  rn AS n_at_cross, CAST(cum AS DOUBLE) AS cum_at_cross
           |FROM c WHERE rk = 1 ORDER BY user_id""".stripMargin))

  /** The q83 funnel run as a STREAM: per-user state machine
    * (flatMapGroupsWithState, Update mode) over the file-stream source,
    * progress rows reduced to each user's final state with a plain max
    * (emissions are monotone — see [[graft.streaming.FunnelTracker]]),
    * then the same three counts. Shares q83's oracle verbatim:
    * stream/batch equivalence IS the correctness claim, exactly like
    * q33 vs its batch aggregation.
    */
  val q90StreamFunnel: QueryDef = QueryDef(
    "q90_stream_funnel",
    (s, dir) => {
      import s.implicits._
      val stepUs = 6L * 3600L * 1000000L
      val events = EventsStream.readEvents(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tsUs"),
          col("event_type"))
        .as[graft.streaming.FunnelEvent]
      val progress = graft.streaming.FunnelTracker.track(events, stepUs)
      EventsStream.runToCompletion(s, progress.toDF(), mode = "update",
          requireSingleBatch = true)
        .groupBy("user_id")
        .agg(max(struct(col("stage"), col("t1"), col("t2"), col("t3")))
          .as("f"))
        .agg(count(when(col("f.stage") >= 1, 1)).as("viewed"),
          count(when(col("f.stage") >= 2, 1)).as("clicked"),
          count(when(col("f.stage") >= 3, 1)).as("purchased"))
    },
    EventAnalytics.q83Funnel.oracle)

  /** STREAMING curation — the q61 composition (quality gate →
    * content dedup → retention accounting) run over the documents
    * table as a continuous stream, the shape a live-crawl ingest
    * pipeline actually runs. Quality gate is stateless per-row;
    * dedup is streaming dropDuplicates keyed on
    * (lang, source, content-hash) — deterministic because every
    * duplicate of a hash carries identical accounted values, so
    * arrival order cannot change the aggregate; accounting is a
    * complete-mode group count. Dedup state here is the distinct-hash
    * set (unbounded); a production deployment bounds it with
    * dropDuplicatesWithinWatermark on ingest time, exactly as q41
    * does for events.
    */
  val q107StreamCuration: QueryDef = QueryDef(
    "q107_stream_curation",
    (s, dir) => {
      val docs = EventsStream.readDocuments(s, dir)
        .withColumn("n_tokens", size(split(lower(col("text")), " ")))
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 80)
        .withColumn("h", md5(col("text")))
        .dropDuplicates("lang", "source", "h")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("chars"))
      EventsStream.runToCompletion(s, docs)
        .orderBy("lang", "source")
    },
    Some("""WITH d AS (
           |  SELECT DISTINCT lang, source, md5(text) AS h, n_chars
           |  FROM documents
           |  WHERE len(string_split(lower(text), ' '))
           |        BETWEEN 20 AND 80)
           |SELECT lang, source, COUNT(*) AS docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM d GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin))

  /** [[q107StreamCuration]] with BOUNDED dedup state — the production
    * form its scaladoc promises: `dropDuplicatesWithinWatermark` keyed
    * on the same (lang, source, content-hash), with a deterministic
    * ingest timestamp and a 10 s watermark. State for a hash is
    * evicted once the watermark passes its event time + delay, so a
    * year-long ingest holds hours of state, not the full distinct-hash
    * history (`DropDuplicatesWatermarkSpec` drives eviction across
    * micro-batches and proves a late re-arrival passes through). The
    * fixture replay lands in one micro-batch with all ingest times
    * inside one delay window, so the output — and the oracle — are
    * exactly q107's.
    */
  val q112StreamCurationWm: QueryDef = QueryDef(
    "q112_stream_curation_wm",
    (s, dir) => {
      val docs = EventsStream.readDocuments(s, dir)
        .withColumn("n_tokens", size(split(lower(col("text")), " ")))
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 80)
        .withColumn("h", md5(col("text")))
        // deterministic ingest time: all rows within one 10 s window
        .withColumn("ing_ts", expr(
          "timestamp_micros(1700000000000000 + (doc_id % 5) * 1000000)"))
        .withWatermark("ing_ts", "10 seconds")
        .dropDuplicatesWithinWatermark("lang", "source", "h")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("chars"))
      EventsStream.runToCompletion(s, docs)
        .orderBy("lang", "source")
    },
    q107StreamCuration.oracle)

  /** The q90 funnel WITHOUT the single-batch assumption: the
    * watermark-BUFFERED tracker holds each user's events in group
    * state until the event-time watermark passes them, folds them in
    * event-time order on release (event-time timeouts drain the tail
    * through Spark's no-data batch), and so stays correct when
    * delivery splits across micro-batches or reorders within the
    * watermark delay — the capability q90's loud single-batch guard
    * exists to flag. Shares q83's batch oracle like q90;
    * `FunnelTrackerSpec` drives the multi-batch and cross-batch
    * out-of-order cases MemoryStream-side.
    */
  val q114StreamFunnelBuffered: QueryDef = QueryDef(
    "q114_stream_funnel_buffered",
    (s, dir) => {
      import s.implicits._
      val stepUs = 6L * 3600L * 1000000L
      val events = EventsStream.readEvents(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tsUs"),
          col("event_type"))
        .as[graft.streaming.FunnelEvent]
      val progress =
        graft.streaming.BufferedFunnelTracker.track(events, stepUs)
      EventsStream.runToCompletion(s, progress.toDF(), mode = "update")
        .groupBy("user_id")
        .agg(max(struct(col("stage"), col("t1"), col("t2"), col("t3")))
          .as("f"))
        .agg(count(when(col("f.stage") >= 1, 1)).as("viewed"),
          count(when(col("f.stage") >= 2, 1)).as("clicked"),
          count(when(col("f.stage") >= 3, 1)).as("purchased"))
    },
    EventAnalytics.q83Funnel.oracle)

  /** The q86 value histogram maintained INCREMENTALLY over the event
    * stream — the live-dashboard distribution monitor. Bin assignment
    * is stateless per-row; the complete-mode aggregate keeps one
    * running (count, sum) per (type, bin) — state bounded by the bin
    * grid, not the stream. Shares q86's oracle verbatim: stream/batch
    * equivalence, the q90 pattern.
    */
  val q110StreamHistogram: QueryDef = QueryDef(
    "q110_stream_histogram",
    (s, dir) => {
      val binned = EventsStream.readEvents(s, dir)
        .select(col("event_type"),
          floor(col("value") / 50d).cast("long").as("bin"),
          col("value"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          graft.Round4(sum("value")).as("sum_value"))
      EventsStream.runToCompletion(s, binned)
        .orderBy("event_type", "bin")
    },
    EventAnalytics.q86Histogram.oracle)

  /** Continuous-ingest decontamination — the eval-leak monitor a
    * training pipeline keeps running while it crawls: every incoming
    * candidate TRAIN document is checked against the bounded, static
    * eval suite's 5-gram set, and per-language leak counts accumulate.
    * The q138 Bloom bitset (built once over the eval grams at query
    * construction, a plan constant) prunes the stream's grams IN-ROW
    * inside every micro-batch plan, so only might-match grams reach the
    * stream-static left-semi verify against the exact eval gram
    * relation — per-batch join cost tracks the batch's true overlap,
    * not its size, and the static side re-broadcasts bounded eval
    * grams, never state. Leaked docs dedup across batches via
    * streaming dropDuplicates on doc_id (the q41 state mechanism;
    * bounded by the leaked set, which a healthy pipeline keeps tiny),
    * then a complete-mode per-lang count. Arrival order and batch
    * boundaries cannot change the answer: the semi verify is
    * stateless per row, dedup is idempotent, the count is a monotone
    * fold — so the batch oracle (train docs sharing ANY 5-gram with
    * test, per lang) applies to any replay schedule.
    */
  /** q141's static side: the exact eval-gram verify relation
    * (persisted) and its Bloom bitset. Shared by the QueryDef and
    * `StreamRestartSpec`'s kill/restart drive.
    */
  private[graft] def decontamStatics(s: org.apache.spark.sql
      .SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame,
        graft.plans.FrozenTable[Array[Long]]) = {
    import s.implicits._
    val testG = graft.Caches.persist(
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 100 >= 90)
        .select(explode(graft.functions.VectorOps.shingleHashes(
          lower(col("text")), 5)).as("g")).distinct())
    val bloom = new graft.functions.BloomSketchAggregator(
      graft.functions.BloomDefaults.NumBits,
      graft.functions.BloomDefaults.NumHashes)
    val bits = testG.as[Long].select(bloom.toColumn).head()
    (testG, graft.plans.FrozenTable.ofLongs(s, bits, bits.length))
  }

  /** q141's per-batch pipeline over an arbitrary (doc_id, lang, text)
    * relation — streaming or batch (every stage is batch-legal, which
    * is what makes the batch oracle apply).
    */
  private[graft] def streamDecontam(
      testG: org.apache.spark.sql.DataFrame,
      bits: graft.plans.FrozenTable[Array[Long]],
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.VectorOps.shingleHashes(
          lower(col("text")), 5)).as("g"))
      .filter(graft.functions.VectorOps.bloomContains(col("g"), bits,
        graft.functions.BloomDefaults.NumHashes))
      .join(testG, Seq("g"), "left_semi")
      .select(col("doc_id"), col("lang"))
      .dropDuplicates("doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("leaked"))

  val q141StreamDecontam: QueryDef = QueryDef(
    "q141_stream_decontam",
    (s, dir) => {
      val (testG, bits) = decontamStatics(s, dir)
      val leaked = streamDecontam(testG, bits,
        EventsStream.readDocuments(s, dir)
          .filter(col("doc_id") % 100 < 80))
      EventsStream.runToCompletion(s, leaked).orderBy("lang")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w
           |  FROM documents
           |  WHERE len(string_split(lower(text), ' ')) >= 5),
           |sh AS (
           |  SELECT DISTINCT doc_id, lang,
           |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
           |      w[i+3] || ' ' || w[i+4] AS g
           |  FROM (SELECT doc_id, lang, w,
           |        unnest(range(1, len(w)-3)) AS i FROM tok) u),
           |test AS (SELECT DISTINCT g FROM sh WHERE doc_id % 100 >= 90),
           |leak AS (
           |  SELECT DISTINCT doc_id, lang FROM sh
           |  WHERE doc_id % 100 < 80 AND g IN (SELECT g FROM test))
           |SELECT lang, COUNT(*) AS leaked
           |FROM leak GROUP BY lang ORDER BY lang""".stripMargin))

  // Streaming PII-scrub monitor — q149's cleaning pass running inside
  // every micro-batch (the q141 discipline: each stage is batch-legal,
  // so the batch oracle applies verbatim to the drained stream): a
  // continuous ingest pipeline scrubs text before anything downstream
  // persists it, and this monitor is the per-language accounting of
  // what the scrub touched. Per-batch work is STATELESS row-local
  // regex arithmetic; the only streaming state is the per-lang running
  // counters (O(langs)) — the per-doc digest q149 adds in batch is
  // deliberately absent (it would hold one hash per document in state,
  // unbounded at 100 TB). StreamRestartSpec proves the counter state
  // restores across a kill/restart; oracle = q149's counts columns.
  val q156StreamPiiRedact: QueryDef = QueryDef(
    "q156_stream_pii_redact",
    (s, dir) => {
      val counts = TextAnalysis.piiScrubCounts(
        EventsStream.readPiiDocs(s))
      EventsStream.runToCompletion(s, counts).orderBy("lang")
    },
    Some(s"""WITH s1 AS (
            |  SELECT lang,
            |    len(regexp_extract_all(text, '${TextAnalysis.EmailRe}'))
            |      AS n_emails,
            |    regexp_replace(text, '${TextAnalysis.EmailRe}',
            |      '<EMAIL>', 'g') AS t1
            |  FROM read_parquet('${graft.Fixtures.piiDocsPath}')),
            |s2 AS (
            |  SELECT lang, n_emails,
            |    len(regexp_extract_all(t1, '${TextAnalysis.Ipv4Re}'))
            |      AS n_ips,
            |    regexp_replace(t1, '${TextAnalysis.Ipv4Re}',
            |      '<IP>', 'g') AS t2
            |  FROM s1),
            |s3 AS (
            |  SELECT lang, n_emails, n_ips,
            |    len(regexp_extract_all(t2, '${TextAnalysis.PhoneRe}'))
            |      AS n_phones
            |  FROM s2)
            |SELECT lang, COUNT(*) AS docs,
            |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
            |  CAST(SUM(n_ips) AS BIGINT) AS n_ips,
            |  CAST(SUM(n_phones) AS BIGINT) AS n_phones
            |FROM s3 GROUP BY lang ORDER BY lang""".stripMargin))

  // Streaming quality-classifier gate — q166's distilled model as a
  // CONTINUOUS-ingest monitor (the shape a crawl pipeline actually
  // deploys the classifier in: score every arriving document, watch
  // keep rates and teacher disagreement per language drift): documents
  // arrive as a real file-stream source, the gopher rule columns and
  // the codegen'd HashedLogit score are STATELESS in-row work fused
  // into each micro-batch plan, and streaming state is O(langs)
  // complete-mode counters (the q156 state discipline — per-doc data
  // never enters the state store). Batch boundaries are provably
  // irrelevant: per-row scoring is stateless and the counters are
  // associative, so the batch q166-rollup oracle applies to any
  // delivery schedule.
  val q172StreamQualityGate: QueryDef = QueryDef(
    "q172_stream_quality_gate",
    (s, dir) => {
      val model = graft.Fixtures.qualityClassifier(s)
      val scored = TextAnalysis
        .gopherCols(s, EventsStream.readDocuments(s, dir))
        .withColumn("kept",
          graft.functions.VectorOps.hashedLogit(Classifier.featureText,
            model) > graft.plans.HashedLogit.threshold(model.value))
      def cnt(c: org.apache.spark.sql.Column, name: String) =
        sum(when(c, 1L).otherwise(0L)).as(name)
      val agg = scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          cnt(col("kept"), "kept"),
          cnt(col("pass"), "teacher_pass"),
          cnt(col("kept") && !col("pass"), "false_pos"),
          cnt(!col("kept") && col("pass"), "false_neg"))
      EventsStream.runToCompletion(s, agg).orderBy("lang")
    },
    Some(s"""WITH ${TextAnalysis.GopherDocSql},
           |${Classifier.FeatureTextSql},
           |w AS (SELECT bucket, w_mu
           |      FROM read_parquet('${graft.Fixtures.qualityClassifierPath}')
           |      WHERE bucket >= 0),
           |b AS (SELECT w_mu AS bias
           |      FROM read_parquet('${graft.Fixtures.qualityClassifierPath}')
           |      WHERE bucket = -1),
           |th AS (SELECT w_mu AS thr
           |       FROM read_parquet('${graft.Fixtures.qualityClassifierPath}')
           |       WHERE bucket = -2),
           |tk AS (SELECT doc_id, unnest(string_split(ftext, ' ')) AS tk
           |       FROM ft),
           |f AS (SELECT doc_id,
           |        CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT) %
           |          ${graft.tools.TrainQualityClassifier.Dim} AS bucket
           |      FROM tk),
           |sc AS (SELECT f.doc_id, SUM(w.w_mu) AS s
           |       FROM f JOIN w USING (bucket) GROUP BY 1),
           |lg AS (SELECT gd.lang, gd.pass,
           |         (COALESCE(sc.s, 0) + (SELECT bias FROM b)) >
           |           (SELECT thr FROM th) AS kept
           |       FROM gd LEFT JOIN sc ON gd.doc_id = sc.doc_id)
           |SELECT lang, COUNT(*) AS docs,
           |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
           |    AS kept,
           |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
           |    AS teacher_pass,
           |  CAST(SUM(CASE WHEN kept AND NOT pass THEN 1 ELSE 0 END)
           |       AS BIGINT) AS false_pos,
           |  CAST(SUM(CASE WHEN NOT kept AND pass THEN 1 ELSE 0 END)
           |       AS BIGINT) AS false_neg
           |FROM lg GROUP BY lang ORDER BY lang""".stripMargin))

  // Streaming arm of the modern selection capstone — q165's CCNet
  // gate + DSIR selection as a CONTINUOUS-ingest pipeline (the
  // deployment shape: model and cutpoints are FROZEN artifacts
  // trained on a reference corpus; arriving documents score, gate and
  // select statelessly). The per-doc metrics that batch spells as
  // explode → join(model) → groupBy(doc_id) — unbounded per-doc state
  // inside micro-batches — run instead through the codegen'd in-row
  // [[graft.plans.UnigramDsirScore]] (the model a broadcast
  // FrozenTable, like every table kernel's), so each
  // micro-batch plan is map-only scoring + integer compares against
  // driver-collected cutpoint literals (langs-sized + one scalar —
  // the "broadcast cutpoints from the static model" contract), and
  // streaming state is O(langs) complete-mode counters (q156/q172).
  // Stateless scoring + associative counters make batch boundaries
  // provably irrelevant, so the batch gate+select rollup is the
  // oracle verbatim; the budget/packing stages deliberately STAY
  // batch (they need the full ordered corpus — exactly the split a
  // production pipeline makes between its streaming filter tier and
  // its batch selection job).
  /** The frozen artifacts a deployed q176 filter tier ships: the
    * collected model handle, the per-lang gate cutpoint expression,
    * and the global DSIR cutpoint — derived ONCE from the static
    * corpus with the SAME in-row scorer the stream runs
    * (scorer-internal consistency: the gate compare and its cutpoint
    * share one float-rounding surface).
    */
  private[graft] def frozenSelectArtifacts(s: SparkSession,
      dir: String): (graft.plans.FrozenTable[graft.plans.DsirModelTable],
        org.apache.spark.sql.Column, Double) = {
    val model = TextAnalysis.dsirModelTable(s, dir)
    val staticScored = graft.Caches.persist(TextAnalysis.dsirScored(
      Tables.load(s, dir, "documents"), model))
    val cuts = Cutpoints.cutpointOf(
        staticScored, Seq("lang"), "bu", Seq(2.0 / 3))
      .withColumnRenamed("cut0", "c2").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("c2"))
      .toMap
    val c2Expr = coalesce((cuts.map { case (l, c) =>
      when(col("lang") === l, lit(c)) }.toSeq :+
      lit(Double.NegativeInfinity)): _*)
    val c80 = Cutpoints.cutpointOf(
      staticScored.filter(col("bu") <= c2Expr),
      Nil, "iwu", Seq(0.8)).collect()(0).getAs[Double]("cut0")
    (model, c2Expr, c80)
  }

  /** Score + gate + select + per-lang counters over `docs` (batch or
    * stream — every stage is stateless row work, the counters
    * associative). One definition for q176, its batch twin, and the
    * restart spec.
    */
  private[graft] def selectGateAgg(docs: DataFrame,
      model: graft.plans.FrozenTable[graft.plans.DsirModelTable],
      c2Expr: org.apache.spark.sql.Column, c80: Double): DataFrame =
    TextAnalysis.dsirScored(docs, model)
      .withColumn("gated", col("bu") <= c2Expr)
      .withColumn("sel", col("gated") && col("iwu") > lit(c80))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("gated"), 1L).otherwise(0L)).as("gated"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("selected"),
        sum(when(col("sel"), col("nt")).otherwise(0L))
          .as("sel_tokens"))

  val q176StreamSelect: QueryDef = QueryDef(
    "q176_stream_select",
    (s, dir) => {
      val (model, c2Expr, c80) = frozenSelectArtifacts(s, dir)
      val agg = selectGateAgg(
        EventsStream.readDocuments(s, dir), model, c2Expr, c80)
      EventsStream.runToCompletion(s, agg).orderBy("lang")
    },
    Some(s"""WITH ${TextAnalysis.unigramOracleCtes},
            |${TextAnalysis.dsirModelOracleCtes},
            |pd AS (
            |  SELECT toks.doc_id, toks.lang,
            |    CAST(FLOOR(AVG(-LOG2(CAST(cr AS DOUBLE) / nr))
            |      * 1000000 + 0.5) AS BIGINT) AS bu,
            |    CAST(FLOOR(AVG(LOG2(CAST(ct + 1 AS DOUBLE) / (ntt + v))
            |        - LOG2(CAST(cr AS DOUBLE) / nr))
            |      * 1000000 + 0.5) AS BIGINT) AS iwu,
            |    COUNT(*) AS nt
            |  FROM toks JOIN model ON toks.t = model.t
            |  GROUP BY 1, 2),
            |cu AS (SELECT lang, quantile_cont(bu, 2.0 / 3) AS c2
            |       FROM pd GROUP BY lang),
            |gated AS (
            |  SELECT pd.* FROM pd JOIN cu ON pd.lang = cu.lang
            |  WHERE bu <= c2),
            |c80 AS (SELECT quantile_cont(iwu, 0.8) AS c80 FROM gated)
            |SELECT pd.lang, COUNT(*) AS docs,
            |  CAST(SUM(CASE WHEN bu <= cu.c2 THEN 1 ELSE 0 END)
            |    AS BIGINT) AS gated,
            |  CAST(SUM(CASE WHEN bu <= cu.c2 AND iwu > c80.c80
            |           THEN 1 ELSE 0 END) AS BIGINT) AS selected,
            |  CAST(SUM(CASE WHEN bu <= cu.c2 AND iwu > c80.c80
            |           THEN nt ELSE 0 END) AS BIGINT) AS sel_tokens
            |FROM pd JOIN cu ON pd.lang = cu.lang CROSS JOIN c80
            |GROUP BY pd.lang ORDER BY pd.lang""".stripMargin))

  // Streaming crawl frontier — q180's URL tier as continuous ingest
  // (the shape a crawler's URL-dispatch tier actually runs: every
  // discovered link canonicalizes, gates against the frozen deny
  // list, and checks the frontier's SEEN-SET before a fetch is ever
  // scheduled). Two streaming passes over the manifest: (1) per-host
  // raw counters — stateless in-row dress (Urls.crawlDress, shared
  // verbatim with the batch capstone) + O(hosts) complete-mode
  // counters; (2) the frontier itself — `dropDuplicates(canon)`,
  // whose state is the canonical seen-set BY DESIGN (that set IS the
  // crawl frontier's data structure; at web scale it lives in the
  // RocksDB state store keyed by canonical hash, size ∝ unique pages
  // — unlike an accidental unbounded aggregation, a frontier that
  // forgets seen URLs re-fetches the web). First-seen rows drain in
  // append mode and roll up batch-side. The drained audit equals the
  // batch capstone's — they share ONE oracle.
  val q182StreamCrawlFrontier: QueryDef = QueryDef(
    "q182_stream_crawl_frontier",
    (s, dir) => {
      val domains = graft.Fixtures.read(s,
        graft.Fixtures.domainBlocklistPath)
        .collect().map(_.getString(0)).toSeq
      val counters = Urls.crawlDress(EventsStream.readUrls(s), domains)
        .groupBy(col("host"))
        .agg(count(lit(1)).as("total_urls"),
          sum(when(col("blocked"), 1L).otherwise(0L))
            .as("blocked_urls"),
          sum(when(!col("blocked"), 1L).otherwise(0L))
            .as("kept_urls"))
      val a = EventsStream.runToCompletion(s, counters)
      val firstSeen = Urls.crawlDress(EventsStream.readUrls(s), domains)
        .filter(!col("blocked"))
        .select(col("host"), col("canon"))
        .dropDuplicates("canon")
      val b = EventsStream.runToCompletion(s, firstSeen, mode = "append")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("unique_pages"))
      a.join(b, Seq("host"), "left")
        .select(col("host"), col("total_urls"), col("blocked_urls"),
          col("kept_urls"),
          coalesce(col("unique_pages"), lit(0L)).as("unique_pages"))
        .orderBy("host")
    },
    Some(Urls.crawlAuditOracleSql))

  // Streaming chat-ingest gate — q190's role-schema validation as a
  // CONTINUOUS monitor (the shape an SFT data intake actually runs:
  // conversations arrive from collection endpoints, the gate scores
  // each against the chat-template contract and watches per-source
  // failure-mode rates). The dressing is Chat.dress — ONE definition
  // with the batch arm, stateless in-row list ops per micro-batch —
  // and streaming state is O(sources) complete-mode counters (the
  // q156/q172 state discipline: no per-conversation data enters the
  // state store). Batch boundaries are provably irrelevant: dressing
  // is stateless and the counters associative, so the batch oracle
  // over the same fixture applies to any delivery schedule.
  val q194StreamChatGate: QueryDef = QueryDef(
    "q194_stream_chat_gate",
    (s, dir) => {
      val agg = Chat.gateCounts(EventsStream.readChatConvos(s))
      EventsStream.runToCompletion(s, agg).orderBy("source")
    },
    Some(s"""WITH ${Chat.dressedSql}
            |SELECT source, COUNT(*) AS convos,
            |  CAST(SUM(valid) AS BIGINT) AS valid,
            |  CAST(SUM(bad_role) AS BIGINT) AS bad_role,
            |  CAST(SUM(misplaced_system) AS BIGINT) AS misplaced_system,
            |  CAST(SUM(bad_ends) AS BIGINT) AS bad_ends,
            |  CAST(SUM(non_alt) AS BIGINT) AS non_alt
            |FROM d GROUP BY source ORDER BY source""".stripMargin))

  // Streaming SFT intake with a DEDUPED PROMPT LEDGER — the third
  // streaming-state shape of the chat tier (q194 keeps O(sources)
  // counters; q182's frontier keeps a seen-SET; this keeps a keyed
  // min_by LEDGER): conversations arrive continuously, each micro-
  // batch validates and renders statelessly (Chat.dress + the q192
  // template + in-plan BPE count), and the streaming aggregation
  // maintains per prompt_key the EARLIEST conversation with its
  // source and token count — the deduped intake ledger a continuous
  // SFT collection actually serves training from. min_by aggregation
  // state is one row per unique prompt (bounded by the prompt space,
  // not arrivals) and, unlike arrival-order dropDuplicates, its
  // answer is DELIVERY-SCHEDULE-INVARIANT — which is exactly what
  // makes the batch oracle apply to any replay. The per-source
  // rollup runs batch-side on the drained ledger (the q182 move).
  val q203StreamSftIntake: QueryDef = QueryDef(
    "q203_stream_sft_intake",
    (s, dir) => {
      val merges = graft.Fixtures.bpeMerges(s)
      val rendered = array_join(
        transform(col("m"), x => concat(lit("<|"),
          x.getField("role"), lit("|>"), x.getField("content"))), "")
      val ledger = Chat.dress(EventsStream.readChatConvos(s))
        .filter(col("valid") === 1)
        .withColumn("nt",
          graft.functions.VectorOps.bpeCount(rendered, merges)
            .cast("long"))
        .groupBy(Chat.promptKey.as("prompt_key"))
        .agg(min(col("conv_id")).as("keeper"),
          expr("min_by(source, conv_id)").as("source"),
          expr("min_by(nt, conv_id)").as("kept_nt"),
          count(lit(1)).as("candidates"))
      EventsStream.runToCompletion(s, ledger)
        .groupBy("source")
        .agg(count(lit(1)).as("unique_prompts"),
          sum(col("kept_nt")).as("kept_tokens"),
          sum(col("candidates")).as("candidates"))
        .orderBy("source")
    },
    Some(s"""WITH ${Chat.dressedSql},
            |k AS (
            |  SELECT conv_id, source,
            |    ${Chat.PromptKeySql} AS prompt_key
            |  FROM d WHERE valid = 1),
            |led AS (
            |  SELECT prompt_key,
            |    arg_min(conv_id, conv_id) AS keeper,
            |    arg_min(source, conv_id) AS source,
            |    COUNT(*) AS candidates
            |  FROM k GROUP BY prompt_key),
            |lt AS (
            |  SELECT led.source, f.ref_tokens AS kept_nt,
            |    led.candidates
            |  FROM led JOIN read_parquet(
            |    '${graft.Fixtures.chatConvosPath}') f
            |    ON led.keeper = f.conv_id)
            |SELECT source, COUNT(*) AS unique_prompts,
            |  CAST(SUM(kept_nt) AS BIGINT) AS kept_tokens,
            |  CAST(SUM(candidates) AS BIGINT) AS candidates
            |FROM lt GROUP BY source ORDER BY source""".stripMargin))

  val all: Seq[QueryDef] = Seq(q194StreamChatGate, q203StreamSftIntake,
    q172StreamQualityGate, q176StreamSelect,
    q33StreamTumbling, q34Sessionize, q182StreamCrawlFrontier,
    q41StreamDedup, q43Sliding, q44ApproxDistinct, q50StreamJoin,
    q76StreamEnrich, q82StreamThreshold, q90StreamFunnel,
    q107StreamCuration, q110StreamHistogram, q112StreamCurationWm,
    q114StreamFunnelBuffered, q120StreamJoinOuter, q121StreamSessionize,
    q141StreamDecontam, q156StreamPiiRedact)
}
