package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.Row

import graft.Tables

/** Streaming analytics over the `events` table (SURVEY.md §2.11):
  * tumbling/sliding windows, session windows, and a Structured
  * Streaming pipeline with watermarks. The same transformations run in
  * batch (fixture tests, DuckDB oracle) and streaming (readStream)
  * mode — Spark's unified Dataset semantics.
  *
  * The fixture parquet stores `ts` as TIMESTAMP(NANOS). Two reader
  * configurations produce two input shapes, both normalized by
  * [[withEventTime]]: with `spark.sql.legacy.parquet.nanosAsLong=true`
  * (every session in this repo) the column arrives as a nanos LONG and
  * is integer-divided to a microsecond timestamp (truncation matches
  * the oracle's `date_trunc('microseconds', ts)`); a micros-precision
  * fixture read under Spark's NTZ inference arrives as TIMESTAMP_NTZ
  * and is cast to TIMESTAMP — which is only value-preserving in a UTC
  * session, so [[withEventTime]] asserts the session timezone rather
  * than silently shifting every event time.
  */
/** Streaming state for [[EventStreams.runningUserTotals]]. */
case class UserTotals(n: Long, sum: Double)

object EventStreams {

  /** Normalize the raw events frame to an event-time-capable `ts`:
    * nanos-long (legacy fixture) or TIMESTAMP_NTZ (micros fixture read
    * under Spark's NTZ inference) → TIMESTAMP. The NTZ wall-clock cast
    * reinterprets the naive timestamp IN THE SESSION TIMEZONE — only
    * value-identical to the oracle's UTC fixture when the session runs
    * UTC, so a non-UTC session FAILS LOUDLY here instead of shifting
    * every event time by the local UTC offset. */
  def withEventTime(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType =>
        // integer division: ns epoch values exceed 2^53, double
        // arithmetic would lose microseconds
        events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"withEventTime: NTZ→TIMESTAMP cast requires spark.sql.session.timeZone=UTC " +
            s"(got '$tz') — a non-UTC session would silently shift all event times")
        events.withColumn("ts", col("ts").cast(TimestampType))
      case _ => events
    }

  def load(spark: SparkSession, dir: String): DataFrame =
    withEventTime(Tables.parquet(spark, s"$dir/events.parquet"))

  /** Tumbling-window counts/sums per event type. */
  def tumbling(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window event counts (each event lands in width/slide
    * windows). */
  def sliding(events: DataFrame, width: String = "10 minutes", slide: String = "5 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))

  /** Exact distinct-user and event counts per type. */
  def userCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** HLL-sketch distinct counts — the 100 TB form of [[userCounts]]
    * (fixed-size state instead of a distinct shuffle); engine-specific
    * sketch, so checked rows-only, with the exact form as its test. */
  def approxUserCounts(events: DataFrame, rsd: Double = 0.01): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        count(lit(1)).as("n_events"))

  /** [[approxUserCounts]] cross-checked against the exact distinct
    * count in the same aggregation. The HLL estimate itself is
    * engine-specific (no other engine reproduces Spark's sketch
    * bit-for-bit), so the checkable contract is: the exact count, plus
    * the sketch landing within `tolerance` relative error of it. At
    * scale the exact column would be dropped and only the sketch kept;
    * here it doubles as the oracle for the sketch's error bound. */
  def approxUserCountsChecked(events: DataFrame, rsd: Double = 0.01,
                              tolerance: Double = 0.05): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), rsd).as("__approx"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        (abs(col("__approx") - col("n_users")).cast("double") / col("n_users")
          <= tolerance).as("hll_ok"))

  /** Event dedup, batch form: keep the earliest event (by ts, then
    * event_id for determinism) per key set. The batch oracle of
    * [[streamingDedup]]. */
  def dedupEvents(events: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts"), col("event_id"))
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming dedup with bounded state: duplicates arriving within the
    * watermark delay are dropped, and per-key state expires once the
    * watermark passes — the only dedup shape that survives an unbounded
    * stream (a plain dropDuplicates would hold every key forever). */
  def streamingDedup(spark: SparkSession, dir: String, keys: Seq[String],
                     lateness: String = "10 minutes"): DataFrame = {
    val schema = Tables.schemaOf(spark, s"$dir/events.parquet")
    val stream = withEventTime(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    stream.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)
  }

  /** Stream-static enrichment: join the event stream to a static
    * dimension frame on `key`. The static side is planned per
    * micro-batch (Spark re-resolves it, so a dimension backed by a
    * table picks up new snapshots), is broadcast when small, and adds
    * no streaming state — the standard shape for decorating a 100
    * TB/day stream with reference data. `how` may be "inner" or
    * "left_outer" (events with no dimension row survive as nulls). */
  def enrich(stream: DataFrame, dim: DataFrame, key: Seq[String],
             how: String = "left_outer"): DataFrame = {
    require(Seq("inner", "left_outer").contains(how),
      s"stream-static enrich supports inner/left_outer, got $how")
    stream.join(broadcast(dim), key, how)
  }

  /** Session windows per user: a session closes after `gap` of
    * inactivity. Start = min ts; batch- and stream-compatible. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Structured Streaming form of [[sessions]]: watermarked session
    * windows with bounded state — sessions whose gap has passed the
    * watermark close and emit, open sessions stay in the store. The
    * one windowing mode whose state size depends on data (sessions
    * merge), which is why the watermark is mandatory here. */
  def streamingSessions(spark: SparkSession, dir: String,
                        gap: String = "30 minutes",
                        lateness: String = "10 minutes"): DataFrame = {
    val schema = Tables.schemaOf(spark, s"$dir/events.parquet")
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    withEventTime(stream)
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** Structured Streaming form of [[tumbling]] with a watermark: late
    * events beyond `lateness` are dropped, state is bounded — the
    * property that matters on an unbounded 100 TB/day stream. */
  def streamingTumbling(spark: SparkSession, dir: String,
                        width: String = "10 minutes",
                        lateness: String = "10 minutes"): DataFrame = {
    val schema = Tables.schemaOf(spark, s"$dir/events.parquet")
    // FileStreamSource wants a directory; glob-filter to the events file
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    withEventTime(stream)
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))
  }

  /** Microseconds of a `"<n> <unit>"` interval string (the subset the
    * bucketing join needs — no months/years, which have no fixed
    * microsecond width). */
  private def intervalMicros(s: String): Long = {
    val m = """(\d+)\s+(second|minute|hour|day)s?""".r
    s.trim match {
      case m(n, unit) =>
        val base = unit match {
          case "second" => 1000000L
          case "minute" => 60L * 1000000L
          case "hour"   => 3600L * 1000000L
          case "day"    => 86400L * 1000000L
        }
        n.toLong * base
      case _ => sys.error(s"Unsupported interval for bucketed join: $s")
    }
  }

  /** Floor time-bucket id of width `micros` (pmod keeps the floor
    * semantics for pre-epoch timestamps; the subtraction makes the
    * double division exact — the operands are exact multiples). */
  private def timeBucket(ts: Column, micros: Long): Column = {
    val us = unix_micros(ts)
    ((us - pmod(us, lit(micros))) / lit(micros)).cast("long")
  }

  /** Interval (range) join: for each `leftType` event, the `rightType`
    * events of the same user within `[ts, ts + horizon)`.
    *
    * Scale shape: the equi-join key is `(user_id, time_bucket)`, not
    * bare `user_id`. Bucket width = horizon; each left event's window
    * spans at most two buckets, so the left side is duplicated into its
    * own and the following bucket and the range predicate then filters
    * exactly. A hot user's events no longer produce a per-user
    * quadratic pair blowup — candidate pairs are bounded per (user,
    * bucket), and the shuffle spreads one user across many buckets.
    * Each qualifying pair matches exactly once (the right event lives
    * in exactly one bucket). The streaming form is
    * [[streamingIntervalJoin]] (watermarked stream-stream join). */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
                   horizon: String = "10 minutes"): DataFrame = {
    val h = intervalMicros(horizon)
    val l = events.filter(col("event_type") === leftType)
      .select(col("user_id"), col("event_id").as("left_id"), col("ts").as("left_ts"))
      .withColumn("__b", explode(array(timeBucket(col("left_ts"), h),
        timeBucket(col("left_ts"), h) + 1)))
    val r = events.filter(col("event_type") === rightType)
      .select(col("user_id"), col("event_id").as("right_id"), col("ts").as("right_ts"))
      .withColumn("__b", timeBucket(col("right_ts"), h))
    l.join(r, Seq("user_id", "__b"))
      .filter(col("right_ts") >= col("left_ts") &&
        col("right_ts") < col("left_ts") + expr(s"INTERVAL $horizon"))
      .select("user_id", "left_id", "right_id")
  }

  /** Stream-stream interval join with watermarks: both sides bounded,
    * state expires once the watermark passes the join horizon. */
  def streamingIntervalJoin(spark: SparkSession, dir: String,
                            leftType: String, rightType: String,
                            horizon: String = "10 minutes",
                            lateness: String = "10 minutes"): DataFrame = {
    val schema = Tables.schemaOf(spark, s"$dir/events.parquet")
    def side(tpe: String, idAs: String, tsAs: String) = withEventTime(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .filter(col("event_type") === tpe)
      .select(col("user_id"), col("event_id").as(idAs), col("ts").as(tsAs))
      .withWatermark(tsAs, lateness)
    val l = side(leftType, "left_id", "left_ts")
    val r = side(rightType, "right_id", "right_ts")
    l.join(r,
      l("user_id") === r("user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") < col("left_ts") + expr(s"INTERVAL $horizon"))
      .select(l("user_id"), col("left_id"), col("right_id"))
  }

  /** As-of join: for each `leftType` event, the most recent `rightType`
    * event of the same user at or before its timestamp (-1 when none).
    *
    * Composed, not a custom operator (SURVEY.md §7.3 preference (a)):
    * both sides are unioned and the latest right id is carried forward
    * with `last(..., ignoreNulls)` over a (user, time) window — one
    * shuffle + one sort, no per-row range join blowup. At equal
    * timestamps the right side sorts first (as-of-or-equal semantics);
    * event_id breaks remaining ties deterministically. */
  def asofJoin(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === rightType, lit(0)).otherwise(lit(1)).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("right_id",
        coalesce(last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w), lit(-1L)))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id").as("left_id"), col("right_id"))
  }

  /** Funnel analysis: how many users reach each stage of an ordered
    * event sequence, where stage `k+1` counts only events strictly
    * after the user's first stage-`k` event (the standard ordered
    * conversion funnel).
    *
    * Shape: one min-aggregate per stage keyed on `user_id`, chained by
    * an equi-join on `user_id` + a timestamp filter — every shuffle is
    * on the same uniform key, so consecutive stages reuse the
    * partitioning (no exchange between them in the physical plan), and
    * per-stage state is one row per surviving user. Stage frames only
    * ever shrink, so the deepest stage is the cheapest. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val first = events.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val stageDfs = stages.tail.scanLeft(first) { (prev, stage) =>
      events.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("t").as("__pt")), "user_id")
        .filter(col("ts") > col("__pt"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    }
    stages.zip(stageDfs).zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("stage_idx"), lit(name).as("stage"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** Per-user running totals via explicit streaming state
    * (`flatMapGroupsWithState`) — the custom-state hook for logic that
    * windowed aggregation can't express. State is one small case class
    * per user (bounded); emits an updated running row per input batch
    * and times out idle users after `idleTimeout` of processing time. */
  def runningUserTotals(spark: SparkSession, dir: String,
                        idleTimeout: Option[String] = Some("1 hour")): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val schema = Tables.schemaOf(spark, s"$dir/events.parquet")
    val stream = withEventTime(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val typed = stream.select(col("user_id"), col("value")).as[(Long, Double)]
    def update(user: Long, rows: Iterator[(Long, Double)],
               state: GroupState[UserTotals]): Iterator[(Long, Long, Double)] = {
      if (state.hasTimedOut) {
        state.remove(); Iterator.empty
      } else {
        val prev = state.getOption.getOrElse(UserTotals(0L, 0.0))
        val batch = rows.toSeq
        val next = UserTotals(prev.n + batch.size, prev.sum + batch.map(_._2).sum)
        state.update(next)
        idleTimeout.foreach(state.setTimeoutDuration)
        Iterator((user, next.n, next.sum))
      }
    }
    // pending processing-time timers keep the query alive (and
    // processAllAvailable never latches), so NoTimeout when not evicting
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append, timeoutConf)(update)
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Drive a streaming frame to completion against the in-memory sink
    * (test harness: batch parquet replayed as a stream). */
  def runToMemorySink(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .start()
    // drain everything currently available, then stop — awaitTermination
    // would hang for queries that keep state timers alive (e.g.
    // flatMapGroupsWithState with processing-time timeouts)
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }

  /** Per-type window-count anomaly score: tumbling-window event counts
    * z-scored against that event type's own mean/variance across all
    * windows. The monitoring primitive for a 100 TB event firehose —
    * "which 10-minute windows were unusual for this signal?".
    *
    * Determinism across engines: the only aggregates are integer
    * counts and integer sums (`S = Σc`, `Q = Σc²` as longs — exact,
    * partition-order-free); mean/variance/z are then pure IEEE
    * arithmetic on those exact integers, so any engine reproduces the
    * doubles bit-for-bit. Spark's own `stddev` (Welford merge, float
    * accumulation order) is deliberately avoided.
    *
    * Two aggregations: windows (shuffle on type+window), then per-type
    * moments (type-keyed, broadcast-able back). `minAbsZ` keeps only
    * anomalous windows — at scale the output is alerts, not the full
    * window set. */
  def windowZscore(events: DataFrame, width: String = "10 minutes",
                   minAbsZ: Double = 0.0): DataFrame = {
    val counts = windowCounts(events, width)
    counts.join(zscoreMoments(counts), "event_type")
      .withColumn("zscore", zExpr)
      .filter(abs(col("zscore")) >= minAbsZ)
      .select(col("win_start"), col("event_type"), col("n_events"), col("zscore"))
  }

  /** Tumbling-window event counts per type — the shared input of the
    * batch and streaming z-score forms. */
  private def windowCounts(events: DataFrame, width: String): DataFrame =
    events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))

  /** Per-type integer moments of the window counts: `(__n, __s, __q)`
    * = window count, Σc, Σc² as exact longs. This is the trained
    * "model" of [[streamingZscore]] — computed offline on history,
    * broadcast online. */
  def zscoreMoments(counts: DataFrame): DataFrame =
    counts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__n"),
        sum(col("n_events")).as("__s"),
        sum(col("n_events") * col("n_events")).as("__q"))

  private def zExpr: Column = {
    val mean = col("__s").cast("double") / col("__n")
    val variance = col("__q").cast("double") / col("__n") - mean * mean
    when(variance > 0.0, (col("n_events").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
  }

  /** The online deployment of [[windowZscore]]: score a live stream's
    * watermark-closed windows against moments trained offline (the
    * standard split — global statistics cannot be computed on an
    * unbounded stream, so the model is a static broadcast side and the
    * stream contributes only bounded windowed state). */
  def streamingZscore(spark: SparkSession, dir: String, moments: DataFrame,
                      width: String = "10 minutes",
                      lateness: String = "10 minutes"): DataFrame = {
    val schema = Tables.schemaOf(spark, s"$dir/events.parquet")
    val stream = withEventTime(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    stream.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))
      .join(broadcast(moments), "event_type")
      .withColumn("zscore", zExpr)
      .select(col("win_start"), col("event_type"), col("n_events"), col("zscore"))
  }

  /** RFM user segmentation — the classic recency / frequency /
    * monetary census: per user the days since last activity (vs the
    * corpus's max day), the event count, and the DECIMAL-exact value
    * sum; each dimension buckets 0/1/2 at its EXACT tercile cutpoints
    * (the two-pass histogram order statistic — no global sort, no
    * approximate percentiles), and the output is the ≤27-cell segment
    * census (r_bucket, f_bucket, m_bucket, n_users).
    *
    * Scale shape: one event scan into a user-keyed aggregate; ALL six
    * tercile cuts come from ONE multi-quantile histogram pass over the
    * dimension-unpivoted user table (kthSmallestByKeyMulti keyed by
    * dimension — the old per-cut form ran the whole histogram
    * machinery six times: six redundant scans of the user table at any
    * scale, and six separate ~8-stage plans at bench scale); the 1-row
    * cutpoint table folds back on a constant key (hash join).
    * Deterministic: the cutpoints are actual data values, ties bucket
    * low. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val e = withEventTime(events)
    val anchor = e.agg(max(to_date(col("ts"))).as("__anchor"))
      .withColumn("__k", lit(1))
    val perUser = e.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,4)")).as("__m"))
      .withColumn("__k", lit(1))
      .join(broadcast(anchor), Seq("__k"))
      .select(col("user_id"),
        datediff(col("__anchor"), col("__last")).cast("long").as("recency"),
        col("frequency"), col("__m").cast("double").as("monetary"))
      .localCheckpoint() // feeds the quantile pass + the bucketing
    // unpivot to (dim, value): each dimension is its own stratum, so
    // one multi-quantile call computes every cutpoint — per-stratum
    // values are exactly the old per-column inputs, hence identical
    // cutpoints
    val long = perUser.select(explode(array(
        struct(lit("r").as("d"), col("recency").cast("double").as("v")),
        struct(lit("f").as("d"), col("frequency").cast("double").as("v")),
        struct(lit("m").as("d"), col("monetary").as("v")))).as("__dv"))
      .select(col("__dv.d").as("__dim"), col("__dv.v").as("__v"))
    val q = graft.ops.Scale
      .kthSmallestByKeyMulti(long, "__v", "__dim", Seq(1.0 / 3, 2.0 / 3))
    def cut(d: String, p: Double) =
      max(when(col("__dim") === d && col("p") === p, col("quantile")))
    val cuts = q.agg(
      cut("r", 1.0 / 3).as("r1"), cut("r", 2.0 / 3).as("r2"),
      cut("f", 1.0 / 3).as("f1"), cut("f", 2.0 / 3).as("f2"),
      cut("m", 1.0 / 3).as("m1"), cut("m", 2.0 / 3).as("m2"))
      .withColumn("__k", lit(1))
    def bucket(v: Column, t1: Column, t2: Column) =
      when(v <= t1, 0L).when(v <= t2, 1L).otherwise(2L)
    perUser.withColumn("__k", lit(1)).join(broadcast(cuts), Seq("__k"))
      .select(
        bucket(col("recency").cast("double"), col("r1"), col("r2")).as("r_bucket"),
        bucket(col("frequency").cast("double"), col("f1"), col("f2")).as("f_bucket"),
        bucket(col("monetary"), col("m1"), col("m2")).as("m_bucket"))
      .groupBy("r_bucket", "f_bucket", "m_bucket")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Retention cohort matrix — the product-analytics staple: users
    * grouped by FIRST-activity day (the cohort), counted on each
    * later day they return. Output (cohort, day_offset, n_users);
    * offset 0 is the cohort's own size.
    *
    * Scale shape: the event stream collapses to distinct
    * (user, active-day) pairs first (keyed shuffle with map-side
    * partials — the table is bounded by users × days, not events);
    * first-activity is a user-keyed aggregate joined back on the
    * user; no countDistinct anywhere. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val e = withEventTime(events)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    e.join(first, Seq("user_id"))
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
