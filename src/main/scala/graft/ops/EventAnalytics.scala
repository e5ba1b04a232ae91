package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The rest of the canonical log-analytics family downstream of a router
  * (with [[Sessionize]], [[Funnel]], [[Retention]]): event-type Markov
  * transitions, trailing-window rate-anomaly detection, last-touch
  * attribution, and exact distributed percentiles.
  *
  * Shared design rule (the 100 TB contract every operator here obeys):
  * the CORPUS is touched exactly once, either by a map-side-combinable
  * hash aggregate onto a BOUNDED key space (type pairs, type×hour
  * buckets, type×value-vocabulary) or by one user-key exchange whose
  * window frames are streaming (lag / running max — O(1) buffer per
  * row). Everything after the first aggregate is model-sized: windows
  * partition on keys bounded by vocabulary or retention, never by
  * corpus size. All derived ratios are computed in integer arithmetic
  * (floored parts-per-million) so cross-engine compares can't flip on a
  * last-ulp float difference.
  */
object EventAnalytics {

  private def tUs(tsCol: String): Column =
    unix_micros(col(tsCol).cast("timestamp"))

  /** Markov event-type transition counts: for each observed (prev_type →
    * event_type) adjacency in a user's (ts, id)-ordered stream, the pair
    * count `n_pairs`, the source total `n_from`, and the transition
    * probability as floored parts-per-million (`p_ppm` — integer
    * arithmetic end-to-end).
    *
    * Scale shape: ONE data-sized exchange (the user key) feeding a
    * streaming lag frame; the pair aggregate map-side combines onto
    * ≤ |types|² keys, and the `n_from` window runs over that
    * vocabulary-sized frame. */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col("_t_us"), col(idCol))
    val pairs = events
      .select(col(userCol), tUs(tsCol).as("_t_us"), col(idCol), col(typeCol))
      .withColumn("_prev", lag(col(typeCol), 1).over(w))
      .where(col("_prev").isNotNull)
      .groupBy(col("_prev").as("prev_type"), col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val wp = Window.partitionBy("prev_type")
    pairs
      .withColumn("n_from", sum(col("n_pairs")).over(wp))
      .withColumn("p_ppm", expr("(n_pairs * 1000000L) div n_from"))
  }

  /** Trailing-window rate-anomaly detection over per-(type, hour) event
    * counts: an hour is a spike iff its count exceeds `factor` × the
    * trailing `windowHours`-hour mean — evaluated as the INTEGER
    * comparison n · W > factor · Σ(trailing counts), so absent (zero)
    * hours weigh in exactly and no float mean is ever formed. The first
    * `windowHours` hours of each type are warmup and not judged.
    *
    * Scale shape: the corpus collapses via ONE map-side-combinable hash
    * aggregate onto (type, hour) — bounded by vocabulary × retention
    * hours, not volume; the trailing RANGE frame and the warmup-min
    * window both ride that bounded frame's single exchange. */
  def rateAnomaly(events: DataFrame, typeCol: String, tsCol: String,
      windowHours: Int = 24, factor: Int = 3): DataFrame = {
    require(windowHours > 0 && factor > 0, "windowHours and factor must be positive")
    val counts = events
      .select(col(typeCol).as("event_type"),
        tUs(tsCol).as("_t_us"))
      .withColumn("hour_id", expr("_t_us div 3600000000L"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy("event_type")
    val trail = byType.orderBy("hour_id")
      .rangeBetween(-windowHours.toLong, -1L)
    counts
      .withColumn("trail_n", coalesce(sum(col("n")).over(trail), lit(0L)))
      .withColumn("_first", min(col("hour_id")).over(byType))
      .where(col("hour_id") >= col("_first") + windowHours)
      .withColumn("is_spike",
        when(col("n") * windowHours > col("trail_n") * factor, 1L)
          .otherwise(0L))
      .select("event_type", "hour_id", "n", "trail_n", "is_spike")
  }

  /** Threshold alerting with HYSTERESIS — the debounced form real
    * monitoring uses so an alert doesn't flap at the threshold: per
    * (type, hour), the alert turns ON when the count reaches `high`,
    * stays on until an hour falls BELOW `low`, and hours in between
    * carry the previous state. The hour axis is DENSIFIED per type
    * (min..max observed hour), so a completely quiet hour counts as 0
    * and can clear an alert — absent-as-zero is load-bearing, exactly
    * as in [[rateAnomaly]]'s RANGE frames.
    *
    * The state machine needs no sequential fold: rows where the state
    * is FORCED (n ≥ high → on; n < low → off) are marked, hours in the
    * dead band carry null, and the state is the last non-null forced
    * value in hour order (default off) — the carried-payload idiom
    * [[graft.ops.AsOf.asofJoin]] uses, fully parallel per type.
    *
    * Scale shape: the corpus collapses via ONE map-side-combinable
    * aggregate onto (type, hour) — bounded by vocabulary × retention
    * hours; the densify explode, the carry window and the edge lag all
    * ride that bounded frame. Output: (event_type, hour_id, n, state,
    * alert_started) — `alert_started` marks rising edges for paging. */
  def hysteresisAlerts(events: DataFrame, typeCol: String, tsCol: String,
      high: Long, low: Long): DataFrame = {
    require(high > low && low >= 0, s"need high > low >= 0, got $high/$low")
    val counts = events
      .select(col(typeCol).as("event_type"), tUs(tsCol).as("_t_us"))
      .withColumn("hour_id", expr("_t_us div 3600000000L"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))
    val hours = counts.groupBy("event_type")
      .agg(min("hour_id").as("_h0"), max("hour_id").as("_h1"))
      .withColumn("hour_id", explode(expr("sequence(_h0, _h1)")))
      .select("event_type", "hour_id")
    val w = Window.partitionBy("event_type").orderBy("hour_id")
    val carryW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hours
      .join(counts, Seq("event_type", "hour_id"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("_forced",
        when(col("n") >= high, lit("on"))
          .when(col("n") < low, lit("off")))
      .withColumn("state",
        coalesce(last(col("_forced"), ignoreNulls = true).over(carryW),
          lit("off")))
      .withColumn("alert_started",
        col("state") === "on" &&
          coalesce(lag(col("state"), 1).over(w), lit("off")) === "off")
      .select("event_type", "hour_id", "n", "state", "alert_started")
  }

  /** Last-touch attribution: each `conversion` event is credited to the
    * LATEST strictly-preceding touch event (type ∈ `touches`) of the
    * same user within `horizonSec`, or to the `"none"` bucket. Returns
    * the per-touch-type rollup: conversions, exact revenue cents, and
    * the summed conversion lag (µs).
    *
    * Scale shape: one user-key exchange; the "latest preceding touch" is
    * a running `max(struct(t, id, type))` frame (streaming, O(1) buffer —
    * never a per-user buffered event list), and the horizon test needs
    * only that single struct: if the NEWEST touch is older than the
    * horizon, every touch is. The rollup map-side combines onto
    * ≤ |touches|+1 keys. */
  def lastTouch(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, valueCol: String,
      conversion: String, touches: Seq[String],
      horizonSec: Long): DataFrame = {
    require(touches.nonEmpty && !touches.contains(conversion),
      "touches must be non-empty and exclude the conversion type")
    val w = Window.partitionBy(userCol).orderBy(col("_t_us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col(typeCol).isin(touches: _*)
    events
      .select(col(userCol), tUs(tsCol).as("_t_us"), col(idCol),
        col(typeCol), round(col(valueCol) * 100).cast("long").as("_vc"))
      .withColumn("_lt",
        max(when(isTouch, struct(col("_t_us").as("t"), col(idCol).as("i"),
          col(typeCol).as("y")))).over(w))
      .where(col(typeCol) === lit(conversion))
      .withColumn("touch_type",
        when(col("_lt").isNotNull
          .and(col("_t_us") - col("_lt.t") <= horizonSec * 1000000L),
          col("_lt.y")).otherwise(lit("none")))
      .withColumn("_lag_us",
        when(col("touch_type") =!= lit("none"), col("_t_us") - col("_lt.t"))
          .otherwise(lit(0L)))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conv"),
        sum(col("_vc")).as("revenue_c"),
        sum(col("_lag_us")).as("lag_us_sum"))
  }

  /** Session entry paths: the first `depth` event types of each gap
    * session, in (ts, id) order, joined with `">"` — then the global
    * per-path session counts (TOTAL: every observed path is emitted;
    * the output is bounded by |types|^depth, so no top-k cut is
    * needed).
    *
    * Scale shape: [[Sessionize.sessionize]]'s one user-key exchange
    * numbers the sessions; the "first depth events" selection is a
    * plain (user, session) window that REUSES that exchange — the
    * per-user flood bound is already set by sessionize's own window
    * (its scaladoc pins it as inherent to the semantics), so a salted
    * rank here would add exchanges without adding protection; the
    * ≤ depth survivors per session fold via a deterministic rank-sorted
    * array (array_sort on (rank, type) — rank is unique per session, so
    * collect_list order cannot leak in); the final path count map-side
    * combines onto the bounded path vocabulary. */
  def sessionPaths(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, gapSec: Long,
      depth: Int = 3): DataFrame = {
    require(depth > 0, "depth must be positive")
    val slim = Sessionize.sessionize(events, userCol, tsCol, idCol, gapSec)
      .select(col(userCol), col("session_seq"),
        tUs(tsCol).as("_t_us"), col(idCol), col(typeCol))
    // first `depth` events per session: a PLAIN window over
    // (user, session_seq) — it reuses sessionize's user-key exchange
    // (HashPartitioning(user) satisfies the clustered distribution of
    // (user, session)), so no new shuffle, and WindowGroupLimit prunes
    // the sort to the top-depth rows. The salted two-phase rank this
    // replaces (r5) bought skew protection for a flood that sessionize's
    // OWN user window upstream already concentrates — its scaladoc pins
    // the per-user bound as inherent to the semantics — while paying two
    // extra event-table exchanges for it (plan: 6 → 4 Exchanges).
    val w = Window.partitionBy(col(userCol), col("session_seq"))
      .orderBy(col("_t_us"), col(idCol))
    val firstK = slim
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= depth)
    firstK
      .groupBy(col(userCol), col("session_seq"))
      .agg(concat_ws(">",
        transform(array_sort(collect_list(struct(col("_rank"),
          col(typeCol).as("_ty")))), x => x.getField("_ty"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Daily active users with calendar-month stickiness: per day, the
    * distinct `userCol` count, that month's distinct count, and
    * DAU/MAU as floored parts-per-million (integer arithmetic).
    *
    * Scale shape: ONE corpus-sized operation — the (day, user) distinct,
    * a map-side-combinable hash aggregate (the corpus collapses to the
    * active-pairs frame); dau, the (month, user) distinct and mau all
    * derive from that frame, and the day⋈month join is
    * months-sized-broadcast against a days-sized probe. */
  def dauStickiness(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val du = events
      .select(to_date(col(tsCol).cast("timestamp")).as("_d"), col(userCol))
      .distinct()
    val dau = du.groupBy(col("_d")).agg(count(lit(1)).as("dau"))
    val mau = du
      .select(trunc(col("_d"), "month").as("_m"), col(userCol))
      .distinct()
      .groupBy(col("_m")).agg(count(lit(1)).as("mau"))
    dau
      .join(broadcast(mau), trunc(col("_d"), "month") === col("_m"))
      .select(date_format(col("_d"), "yyyy-MM-dd").as("day"),
        col("dau"), col("mau"))
      .withColumn("stickiness_ppm", expr("(dau * 1000000L) div mau"))
  }

  /** Exact per-key percentiles WITHOUT a corpus-size sort: `valueCol` is
    * floored to integer cents (a bounded value vocabulary), the corpus
    * collapses via one map-side-combinable (key, cents) count, and each
    * requested percentile p is the smallest cents value whose cumulative
    * count reaches ⌈p·n/100⌉ — the discrete (type-1) percentile, in
    * integer arithmetic end-to-end.
    *
    * Scale shape: the only corpus-sized operation is the hash aggregate;
    * the cumulative window and the final per-key fold run over the
    * vocabulary-sized frame. This is the operator's advantage over
    * sort-based percentile at 100 TB: no global or per-key data sort
    * ever happens, so a hot key floods nothing. */
  def percentilesByKey(df: DataFrame, keyCol: String, valueCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "percentiles must be in [1, 100]")
    val counts = df
      .select(col(keyCol), round(col(valueCol) * 100).cast("long").as("_vc"))
      .groupBy(col(keyCol), col("_vc"))
      .agg(count(lit(1)).as("_cnt"))
    val byKey = Window.partitionBy(keyCol)
    val cum = counts
      .withColumn("_cum", sum(col("_cnt")).over(
        byKey.orderBy("_vc")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum(col("_cnt")).over(byKey))
    val pCols = pcts.map { p =>
      min(when(col("_cum") >= expr(s"(_n * $p + 99) div 100"), col("_vc")))
        .as(s"p${p}_c")
    }
    val aggs = max(col("_n")).as("n") +: pCols
    cum.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic per-key rate limiting (quota enforcement): keep the
    * first `quota` events of each (user, time-window) by (ts, id) —
    * the throttle a log pipeline applies to a runaway device before the
    * data reaches anything expensive. Returns the KEPT stream (the
    * production output: one pass, filter in place).
    *
    * Flood shape: the quota key (user, window) is exactly where a
    * runaway source floods, so ranking must not sort a hot key's rows
    * in one task — the selection reuses [[Ranks.topKPerGroup]]'s salted
    * two-phase rank (order (ts, id) is total, so the result equals the
    * naive per-key window exactly). Deterministic under any
    * partitioning: the order, the salt, and the window id are pure
    * functions of row values. */
  def rateLimit(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, quota: Int, windowUs: Long): DataFrame = {
    require(quota > 0 && windowUs > 0, "quota and windowUs must be positive")
    val e = events
      .withColumn("_t_us", tUs(tsCol))
      .withColumn("_win", expr(s"_t_us div ${windowUs}L"))
    Ranks.topKPerGroup(e, struct(col(userCol), col("_win")), col(idCol),
        Seq(col("_t_us").asc, col(idCol).asc), quota, "_rk", salts = 16)
      .drop("_rk", "_t_us", "_win")
  }

  /** Schema-drift profile over a JSON payload column: one row per
    * (group, field key, JSON value type) with its occurrence count —
    * the monitoring table that catches a producer silently adding a
    * field, changing a field's type, or emitting garbage. Malformed /
    * non-object payloads land in the ("_malformed", "-") bucket, so the
    * per-group counts always sum to the input rows × their field counts
    * — a TOTAL accounting (the malformed counter is the hotdog
    * error.log_parse idiom applied to payloads).
    *
    * Scale shape: ONE parse per row inside whole-stage codegen
    * ([[graft.hotdog.exprs.jsonFieldProfile]] emits (key, vtype) entries in a
    * single pass — the builtin alternative re-parses per field), a
    * zero-shuffle explode, and one map-side-combinable hash aggregate
    * onto the bounded (groups × keys × types) vocabulary. The corpus
    * never shuffles. */
  def jsonProfile(df: DataFrame, groupCol: String, jsonCol: Column): DataFrame = {
    val entries = graft.hotdog.exprs.jsonFieldProfile(jsonCol)
    df.select(col(groupCol), explode(entries).as("_f"))
      .groupBy(col(groupCol), col("_f.key").as("key"),
        col("_f.vtype").as("vtype"))
      .agg(count(lit(1)).as("n"))
  }

  /** Log template mining (Drain-style, deterministic): cluster
    * single-space-tokenized messages by (token count, first token) — the
    * classic Drain prefix-tree first levels — and within each cluster
    * replace every position whose token VARIES with the `<*>` wildcard.
    * Output: one row per cluster, `(template, n_msgs)` — the table a log
    * platform builds so 10^12 raw lines become a few hundred patterns
    * with counts (cf. reference's per-topic routing: this is the
    * discovery step that writes those rules). Unlike real Drain, the
    * verdict is order-independent (a position is wildcard iff min(tok) ≠
    * max(tok) over the whole cluster), so the result is a pure function
    * of the multiset — identical on any cluster size or partitioning.
    *
    * Scale shape: zero-shuffle posexplode, then ONE map-side-combinable
    * hash aggregate onto the (n_tok, tok0, pos) key — bounded by
    * template vocabulary × message length, never corpus size (the corpus
    * never shuffles); the reassembly aggregate and sort run over that
    * vocabulary-sized frame. A flooded template (a runaway producer
    * repeating one line) floods a combinable hash aggregate, never a
    * sort or a window. */
  def logTemplates(df: DataFrame, msgCol: Column): DataFrame = {
    val pos = df
      .select(posexplode(split(msgCol, " ")).as(Seq("pos", "tok")),
        size(split(msgCol, " ")).as("n"),
        substring_index(msgCol, " ", 1).as("tok0"))
      .groupBy("n", "tok0", "pos")
      .agg(min("tok").as("lo"), max("tok").as("hi"), count(lit(1)).as("cnt"))
    pos
      .groupBy("n", "tok0")
      .agg(
        array_join(transform(array_sort(collect_list(struct(
          col("pos"),
          when(col("lo") === col("hi"), col("lo")).otherwise(lit("<*>"))
            .as("t")))), e => e.getField("t")), " ").as("template"),
        max(when(col("pos") === 0, col("cnt"))).as("n_msgs"))
      .select("template", "n_msgs")
  }

  /** Per-type admission summary for [[rateLimit]]: (event_type, n_total,
    * n_kept, n_dropped) — the monitoring table next to the throttle.
    * Two bounded aggregates joined on the ≤|types| key; the totals pass
    * re-reads the input, which a production job folds into the same
    * pass with `observe()` (the Stats idiom) instead. */
  def rateLimitSummary(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, quota: Int,
      windowUs: Long): DataFrame = {
    val kept = rateLimit(events, userCol, tsCol, idCol, quota, windowUs)
      .groupBy(col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n_kept"))
    events.groupBy(col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("event_type"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("n_dropped", col("n_total") - col("n_kept"))
  }

  /** Consecutive-duplicate run collapse — syslogd's "last message
    * repeated N times" as a batch operator: within each key's (ts, id)
    * stream, maximal runs of CONSECUTIVE equal values collapse to one
    * row (key, value, run_seq, n_events, first/last event-time µs).
    * Σ n_events = input rows (a TOTAL accounting, the Stats idiom);
    * singleton runs pass through with n_events = 1, so the operator is
    * lossless for routing and audit while deflating repeat floods.
    *
    * Scale shape: the [[transitions]]/Sessionize form — ONE exchange on
    * the key; run boundaries are a streaming lag frame and the run id a
    * streaming running sum over the SAME (key, ts, id) sort (zero extra
    * shuffles for the second frame), then one map-side-combinable
    * aggregate per (key, run). A single device repeating one line a
    * billion times becomes one combinable group per run, never a sort
    * of distinct values. */
  def collapseRuns(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("_t_us"), col(idCol))
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // boundary = first row of the key OR a null-safe value change; the
    // explicit row_number==1 marker is load-bearing for NULL values:
    // lag's "no previous row" null is indistinguishable from a previous
    // NULL value, so `lag.isNull || lag =!= v` would both miss a
    // null-after-value boundary and split a null run (and DuckDB's
    // IS DISTINCT FROM disagrees on each) — rn=1 OR !(lag <=> v) is the
    // form both engines compute identically, nulls collapsing like any
    // other repeated value
    val isFirst = row_number().over(w) === 1
    val changed = !(lag(col(valCol), 1).over(w) <=> col(valCol))
    events
      .select(col(keyCol), tUs(tsCol).as("_t_us"), col(idCol), col(valCol))
      .withColumn("_new_run", when(isFirst || changed, 1L).otherwise(0L))
      .withColumn("run_seq", sum(col("_new_run")).over(runW) - 1L)
      .groupBy(col(keyCol), col("run_seq"))
      .agg(min(col(valCol)).as(valCol), // constant within the run
        count(lit(1)).as("n_events"),
        min(col("_t_us")).as("first_us"),
        max(col("_t_us")).as("last_us"))
  }
}
