package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Native implementations of the PromQL constructs the reference ships
  * (reference: scripts/migrate.sql:105, docs examples; SURVEY §2.4 P1-P9).
  * The reference delegates these to a remote Prometheus server
  * (internal/prometheus/client.go:58-161); here they are Spark-native
  * DataFrame transforms over the `metrics_data` model.
  *
  * Scale design notes (the part that matters at 100 TB):
  *
  *  - **Series identity.** Spark can't group by a MapType column, so a
  *    series is identified by the canonical JSON of its sorted label
  *    entries ([[PromOps.seriesKey]]). The key is reversible
  *    ([[PromOps.labelsOf]]) so label-set transforms (`by` / `without`)
  *    stay cheap.
  *
  *  - **Instant-selector / staleness semantics (P1) without a blow-up.**
  *    The naive plan — grid × series cross join, then a per-grid-point
  *    as-of lookup — materializes |grid|·|series| rows (1440× the series
  *    count for the flagship's [24h:1m] subquery) before filtering. We
  *    invert it: each *sample* can only be "the latest visible sample"
  *    for grid points in `[ceil(ts/step)*step, ts+lookback)` (the
  *    staleness window is Prometheus's half-open `(g-lookback, g]`) —
  *    at most `ceil(lookback/step)` points (5 for the 5m/1m flagship).
  *    So we
  *    explode each sample to just those grid points and take the
  *    lexicographic max of (ts, value) per (series, grid point). That is
  *    linear in sample count and the groupBy aggregation is map-side
  *    combinable — no window, no cross join, no skew amplification.
  *    This survives a 100× scale-up where the cross-join formulation
  *    does not.
  *
  *  - **Series-sharded fact layout.** The cached fact frame materializes
  *    `skey` and is hash-partitioned by it
  *    ([[graft.ingest.EventsIngest.cachedMetrics]]) — the storage layout
  *    production TSDBs use. Every per-series selector/window below reads
  *    data already clustered by its key, so the per-query exchange is
  *    elided outright; the grouped aggregations run in place and only
  *    post-eval regroupings (derived label subsets, eval-sized data)
  *    shuffle. Tradeoff, stated: a pathologically hot series now lands
  *    in one partition rather than being spread by the (skey, g) shuffle
  *    — at that point AQE skew handling or an explicit repartition on
  *    (skey, g) restores the old behavior per query.
  */
object PromOps {

  /** Prometheus default staleness lookback: 5 minutes. The lookback
    * window is Prometheus's half-open `(t-5m, t]` exactly (round 16;
    * the engine previously used the closed `[t-5m, t]` as a stated
    * deviation). Still pure integer-second arithmetic: `e > t - 5m`
    * instead of `>=` — one strict comparison, and the grid form's
    * last-visible-point bound shifts by one second.
    */
  val DefaultLookbackSec: Long = 300L

  /** Canonical, order-independent series identity for a label map:
    * JSON of the entries sorted by key. Deterministic because map_entries
    * order is normalized by array_sort (SURVEY §7.3 item 2).
    */
  def seriesKey(labels: Column): Column =
    to_json(map_from_entries(array_sort(map_entries(labels))))

  /** Inverse of [[seriesKey]]: recover the label map from a canonical key. */
  def labelsOf(key: Column): Column =
    from_json(key, MapType(StringType, StringType))

  /** Attach the canonical series key: REUSE a precomputed `skey` column
    * when the frame carries one, else derive it from `labels`. The
    * cached fact frame materializes `skey` and is hash-partitioned by
    * it ([[graft.ingest.EventsIngest.cachedMetrics]]); reusing the
    * stored attribute — rather than re-deriving an equal-but-distinct
    * expression — is what lets the planner see the scan's
    * HashPartitioning(skey) and elide the per-series window/aggregate
    * exchange in every selector below.
    */
  private def withSeriesKey(df: DataFrame): DataFrame =
    if (df.columns.contains("skey")) df
    else df.withColumn("skey", seriesKey(col("labels")))

  /** Same reuse rule for the epoch second: the cached fact frame
    * materializes `e = unix_timestamp(timestamp)`; reading the stored
    * long keeps the staleness-window filters plain integer comparisons
    * on a cached column instead of re-deriving the epoch per row.
    */
  private def withEpoch(df: DataFrame): DataFrame =
    if (df.columns.contains("e")) df
    else df.withColumn("e", epochSec(col("timestamp")))

  private def epochSec(ts: Column): Column = unix_timestamp(ts)

  /** P1 at a single evaluation time: the most recent sample per series
    * within the half-open staleness window `(t - lookback, t]`
    * (reference semantics: client.go:58-93 — evaluation is done by
    * Prometheus; we implement the staleness rule natively, including
    * the exclusive lower bound). Output: (metric_name, skey, e, value)
    * with `e` = the sample's epoch second.
    */
  def instantVector(
      metrics: DataFrame,
      metricName: String,
      atEpochSec: Long,
      lookbackSec: Long = DefaultLookbackSec): DataFrame = {
    withEpoch(withSeriesKey(metrics))
      .filter(col("metric_name") === metricName)
      .filter(col("e") > atEpochSec - lookbackSec && col("e") <= atEpochSec)
      .groupBy(col("metric_name"), col("skey"))
      // lexicographic max picks the latest sample; value breaks exact-ts
      // ties deterministically (second-truncated timestamps can collide).
      // graft_latest = max(struct(e, value)) on a FLAT primitive buffer,
      // so this stays a codegen'd HashAggregate instead of the
      // SortAggregate + Sort a struct-max plans as (round 18,
      // functions/LatestSample.scala)
      .agg(graft.functions.LatestSample.latest(col("e"), col("value"))
        .as("last"))
      .select(col("metric_name"), col("skey"),
        col("last.e").as("e"), col("last.value").as("value"))
  }

  /** P4/P8: evaluate the instant-selector rule at every aligned grid point
    * `g ∈ [g0, g1], g ≡ 0 (mod step)` — the subquery / range-query step
    * grid (reference: client.go:123-161; migrate.sql:105 `[24h:1m]`).
    * Implemented by the sample→grid-points expansion described above.
    * Output: (skey, g, value).
    */
  def rangeEval(
      metrics: DataFrame,
      metricName: String,
      g0: Long,
      g1: Long,
      stepSec: Long,
      lookbackSec: Long = DefaultLookbackSec): DataFrame = {
    require(g0 % stepSec == 0 && g1 % stepSec == 0 && g1 >= g0,
      s"grid must be step-aligned: [$g0, $g1] step $stepSec")
    withEpoch(withSeriesKey(metrics))
      .filter(col("metric_name") === metricName)
      .filter(col("e") > g0 - lookbackSec && col("e") <= g1)
      // canonical key BEFORE the explode (the fact frame precomputes it;
      // the fallback derives it here): the JSON construction is the one
      // non-codegen expression, paid once per sample, not per grid point
      // first grid point this sample is visible at (ceil-align), clamped;
      // integer `div` keeps the whole expression in codegen'd long math
      .withColumn("gs", greatest(lit(g0),
        expr(s"((e + ${stepSec - 1}) div $stepSec) * $stepSec")))
      // last grid point still inside the HALF-OPEN staleness window
      // (g - lookback < e ⟺ g ≤ e + lookback - 1), clamped
      .withColumn("ge", least(lit(g1),
        expr(s"((e + ${lookbackSec - 1}) div $stepSec) * $stepSec")))
      .filter(col("gs") <= col("ge"))
      .select(col("skey"), col("e"), col("value"),
        explode(sequence(col("gs"), col("ge"), lit(stepSec))).as("g"))
      .groupBy(col("skey"), col("g"))
      // flat-buffer latest (see instantVector): hash aggregate, no sort
      .agg(graft.functions.LatestSample.latest(col("e"), col("value"))
        .as("last"))
      .select(col("skey"), col("g"), col("last.value").as("value"))
  }

  /** Moving-window expansion for `fn_over_time(sel[w])` evaluated at
    * every step-aligned grid point in [g0, g1] — the Grafana panel
    * shape. A sample at `e` is inside the (g−w, g] window of the grid
    * points g with e ≤ g < e+w, so each sample explodes into at most
    * ⌈w/step⌉ (skey, g) rows: linear in samples × window/step, never a
    * cross join, and the JSON series key is built once per sample
    * before the explode. Output: (skey, g, e, value) for the enclosing
    * evaluator to aggregate per (skey, g).
    */
  def windowGrid(
      metrics: DataFrame,
      metricName: String,
      g0: Long,
      g1: Long,
      stepSec: Long,
      windowSec: Long): DataFrame = {
    require(g0 % stepSec == 0 && g1 % stepSec == 0 && g1 >= g0,
      s"grid must be step-aligned: [$g0, $g1] step $stepSec")
    withEpoch(withSeriesKey(metrics))
      .filter(col("metric_name") === metricName)
      .filter(col("e") > g0 - windowSec && col("e") <= g1)
      // first aligned g ≥ e, clamped to the grid
      .withColumn("gs", greatest(lit(g0),
        expr(s"((e + ${stepSec - 1}) div $stepSec) * $stepSec")))
      // last aligned g < e + w (window is left-exclusive), clamped
      .withColumn("ge", least(lit(g1),
        expr(s"((e + ${windowSec - 1}) div $stepSec) * $stepSec")))
      .filter(col("gs") <= col("ge"))
      .select(col("skey"), col("e"), col("value"),
        explode(sequence(col("gs"), col("ge"), lit(stepSec))).as("g"))
  }

  /** The full Rate family at every grid point — `rate`/`increase`/
    * `delta`/`irate`/`idelta`/`resets`/`changes`: the [[windowGrid]]
    * expansion keyed by (skey, g), then the same formulas as the
    * instant path ([[rateOverRange]]/[[resetsOverRange]]). One window
    * pass partitioned by (skey, g), satisfied in place by the fact
    * frame's skey-sharded layout (no exchange; see the class note on
    * the hot-series tradeoff).
    */
  def rateOverGrid(metrics: DataFrame, metricName: String, g0: Long,
      g1: Long, stepSec: Long, windowSec: Long, kind: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wg = windowGrid(metrics, metricName, g0, g1, stepSec, windowSec)
      .select(col("skey"), col("g"), col("e"),
        col("value").cast("decimal(20,6)").as("vd"))
    if (kind == "irate" || kind == "idelta") {
      // instant family per grid point: the last two DISTINCT-TIMESTAMP
      // samples of each window — timestamp collisions collapse to their
      // max-value sample first, exactly as the instant path does
      // (ADVICE r5: a collision at the window tail must pair with the
      // most recent earlier timestamp, not drop the grid point)
      val dedup = wg.groupBy(col("skey"), col("g"), col("e"))
        .agg(max(col("vd")).as("vd"))
      val byDesc = Window.partitionBy(col("skey"), col("g"))
        .orderBy(col("e").desc)
      val agg = dedup.withColumn("rn", row_number().over(byDesc))
        .filter(col("rn") <= 2)
        .groupBy(col("skey"), col("g"))
        .agg(max(when(col("rn") === 1, struct(col("e"), col("vd")))).as("lastS"),
          max(when(col("rn") === 2, struct(col("e"), col("vd")))).as("prevS"))
        .filter(col("prevS").isNotNull) // e's are distinct by construction
      val value =
        if (kind == "idelta") (col("lastS.vd") - col("prevS.vd")).cast("double")
        else when(col("lastS.vd") >= col("prevS.vd"),
          col("lastS.vd") - col("prevS.vd")).otherwise(col("lastS.vd"))
          .cast("double") / (col("lastS.e") - col("prevS.e"))
      return agg.select(col("skey"), col("g"), value.as("value"))
    }
    if (kind == "resets" || kind == "changes") {
      val w = Window.partitionBy(col("skey"), col("g"))
        .orderBy(col("e"), col("vd"))
      val flag =
        if (kind == "resets") col("vd") < col("prev")
        else col("vd") =!= col("prev")
      return wg.withColumn("prev", lag(col("vd"), 1).over(w))
        .groupBy(col("skey"), col("g"))
        .agg(sum(when(col("prev").isNotNull && flag, 1).otherwise(0))
          .cast("double").as("value"))
    }
    // rate/increase/delta at every grid point: the SAME extrapolated
    // kernel as the instant form, with each point's window bounds
    // (g − w, g] riding the group key — no duplicated formula
    rateFromSamples(
      wg.select(col("skey"), col("g"), col("e"), col("vd").as("value")),
      kind, col("g") - windowSec, col("g"), windowSec,
      extraKeys = Seq("g"))
  }

  /** PromQL range selector `x[window]` evaluated at `t`: all raw samples
    * with `t - window < ts <= t`, tagged with series identity. The
    * `*_over_time` family (P5) is a groupBy over this frame.
    */
  def rangeSelector(
      metrics: DataFrame,
      metricName: String,
      atEpochSec: Long,
      windowSec: Long): DataFrame =
    withEpoch(withSeriesKey(metrics))
      .filter(col("metric_name") === metricName)
      .filter(col("e") > atEpochSec - windowSec && col("e") <= atEpochSec)

  /** `rate()` / `increase()` over a range selector — Prometheus's REAL
    * extrapolated semantics (round 16; previously observed-span, a
    * stated deviation now closed). Per series, counter-reset-aware
    * deltas sum in DECIMAL(20,6) (order-independent, exact); the sum is
    * then extrapolated to the window bounds exactly as
    * `promql.extrapolatedRate` does it:
    *
    *  - extend the sampled interval toward each window edge by the
    *    actual gap, CLAMPED at half the average sample spacing when the
    *    gap exceeds 1.1× that average (the published heuristic for "the
    *    series probably started/stopped inside the window");
    *  - for counters, never extrapolate the start past the point where
    *    the counter would have been zero
    *    (`durationToZero = span · firstV/result`);
    *  - rate divides the extrapolated increase by the WINDOW length,
    *    not the observed span.
    *
    * Cross-engine determinism: every aggregate feeding the factor is
    * exact (integer timestamps, decimal sums), and the factor itself is
    * a fixed-order chain of IEEE double ops that the DuckDB oracles
    * replay literally — the repo's mirrored-double discipline (as
    * deriv/stdvar). Series with fewer than two distinct timestamps drop
    * out, as in Prometheus. One window pass plus one aggregation, both
    * on the series key the data is already shuffled by.
    */
  def rateOverRange(metrics: DataFrame, metricName: String, atEpochSec: Long,
      windowSec: Long, kind: String): DataFrame =
    rateFromSamples(
      rangeSelector(metrics, metricName, atEpochSec, windowSec), kind,
      lit(atEpochSec - windowSec), lit(atEpochSec), windowSec)

  /** The shared extrapolation factor applied to an aggregated frame
    * carrying (n, fe, le, fv, res) — sample count, first/last epoch,
    * first value (decimal), reset-corrected result (decimal) — plus the
    * group keys. `rangeStart`/`rangeEnd` are columns so the grid form
    * can pass `g − w`/`g`. Everything after the exact aggregates is
    * double arithmetic in an operation order the oracles mirror
    * LITERALLY (Prometheus promql/functions.go extrapolatedRate, public
    * algorithm).
    */
  private def extrapolatedValue(kind: String, rangeStart: Column,
      rangeEnd: Column, windowSec: Long): Column = {
    val spanD = (col("le") - col("fe")).cast("double")
    val resD = col("res").cast("double")
    val fvD = col("fv").cast("double")
    val avg = spanD / (col("n") - lit(1)).cast("double")
    val thr = avg * lit(1.1)
    val ds0 = (col("fe") - rangeStart).cast("double")
    val de0 = (rangeEnd - col("le")).cast("double")
    val ds1 = when(ds0 >= thr, avg / lit(2)).otherwise(ds0)
    val de1 = when(de0 >= thr, avg / lit(2)).otherwise(de0)
    // counters never extrapolate past their own zero crossing; the
    // division is guarded by the res > 0 branch (an Inf/NaN dz simply
    // fails the comparison, both engines alike)
    val dz = spanD * (fvD / resD)
    val ds2 =
      if (kind == "delta") ds1
      else when(resD > lit(0.0) && fvD >= lit(0.0) && dz < ds1, dz)
        .otherwise(ds1)
    val factor = (spanD + ds2 + de1) / spanD
    if (kind == "rate") resD * (factor / lit(windowSec.toDouble))
    else resD * factor
  }

  /** The rate family over an arbitrary (skey, e, value) sample frame —
    * shared by plain range selectors, SUBQUERY ranges (where the
    * "samples" are the inner expression's values at the aligned grid
    * points, `rate(expr[w:s])`), and the grid form. `rangeStart`/
    * `rangeEnd` are the window bounds the extrapolation extends to —
    * literal columns for instant evaluation, `g − w`/`g` at range
    * evaluation. irate/idelta ignore them (Prometheus does not
    * extrapolate the instant family).
    */
  def rateFromSamples(samples: DataFrame, kind: String,
      rangeStart: Column, rangeEnd: Column, windowSec: Long,
      extraKeys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `extraKeys` (the outer grid point at range evaluation of a
    // subquery) join the series key in every partition/group, exactly
    // like quantileOverTime's
    val keys = col("skey") +: extraKeys.map(col)
    val rs = samples
      .select(keys :+ col("e") :+
        col("value").cast("decimal(20,6)").as("vd"): _*)
    if (kind == "irate" || kind == "idelta") {
      // instant-rate family: only the last two DISTINCT-TIMESTAMP samples
      // per series matter. Second-truncated timestamps can collide
      // (instantVector's tie rule), so collapse each timestamp to its
      // winning sample (max value — the repo-wide (e, value) rule) FIRST,
      // then rank: a collision at the window tail pairs with the most
      // recent earlier timestamp instead of dropping the series
      // (ADVICE r5). The collapse is a map-side-combinable groupBy; the
      // rank pass then sees at most one row per (series, second).
      // (A 100 TB deployment would push a per-series tail prune into the
      // scan; on the fact layout that is the (metric, day) partition.)
      val dedup = rs.groupBy(keys :+ col("e"): _*).agg(max(col("vd")).as("vd"))
      val byDesc = Window.partitionBy(keys: _*).orderBy(col("e").desc)
      val agg = dedup.withColumn("rn", row_number().over(byDesc))
        .filter(col("rn") <= 2)
        .groupBy(keys: _*)
        .agg(max(when(col("rn") === 1, struct(col("e"), col("vd")))).as("lastS"),
          max(when(col("rn") === 2, struct(col("e"), col("vd")))).as("prevS"))
        .filter(col("prevS").isNotNull) // e's are distinct by construction
      val value =
        if (kind == "idelta") (col("lastS.vd") - col("prevS.vd")).cast("double")
        else // irate: counter-reset aware, like rate but on the last pair
          when(col("lastS.vd") >= col("prevS.vd"),
            col("lastS.vd") - col("prevS.vd")).otherwise(col("lastS.vd"))
            .cast("double") / (col("lastS.e") - col("prevS.e"))
      return agg.select(keys :+ value.as("value"): _*)
    }
    if (kind == "delta") {
      // gauge semantics: last observed − first observed, no counter-reset
      // logic, extrapolated to the window bounds exactly like
      // rate/increase but WITHOUT the counter zero-crossing cap; one
      // map-side-combinable aggregation, no window pass at all
      // flat-buffer first/last pairs (decimal value child): hash
      // aggregate, no sort (round 18, functions/LatestSample.scala)
      val agg = rs.groupBy(keys: _*)
        .agg(count(lit(1)).as("n"),
          graft.functions.LatestSample.earliest(col("e"), col("vd"))
            .as("firstS"),
          graft.functions.LatestSample.latest(col("e"), col("vd"))
            .as("lastS"))
        .filter(col("lastS.e") > col("firstS.e"))
        .select(keys ++ Seq(col("n"), col("firstS.e").as("fe"),
          col("lastS.e").as("le"), col("firstS.value").as("fv"),
          (col("lastS.value") - col("firstS.value")).as("res")): _*)
      return agg.select(keys :+
        extrapolatedValue(kind, rangeStart, rangeEnd, windowSec)
          .as("value"): _*)
    }
    val w = Window.partitionBy(keys: _*).orderBy(col("e"), col("vd"))
    // n counts SAMPLES as both engines see them — second-colliding rows
    // (possible after the ingest's second floor) each count once, in
    // engine and oracle alike, so the average-spacing heuristic is
    // computed identically even on data Prometheus itself could not hold
    val agg = rs.withColumn("prev", lag(col("vd"), 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, lit(null))
          .when(col("vd") >= col("prev"), col("vd") - col("prev"))
          .otherwise(col("vd")))
      .groupBy(keys: _*)
      // first-sample value: the window order is (e, vd), so the one row
      // with prev IS NULL *is* min(struct(e, vd)) — expressed as a
      // primitive-typed conditional min because a struct-typed min would
      // demote this whole aggregation from HashAggregate (whole-stage
      // codegen) to SortAggregate, an extra sort per group on the
      // hottest PromQL path
      .agg(count(lit(1)).as("n"),
        min(col("e")).as("fe"), max(col("e")).as("le"),
        min(when(col("prev").isNull, col("vd"))).as("fv"),
        sum(col("delta")).as("res"))
      .filter(col("le") > col("fe"))
    agg.select(keys :+
      extrapolatedValue(kind, rangeStart, rangeEnd, windowSec)
        .as("value"): _*)
  }

  /** `resets(x[w])` / `changes(x[w])`: per series, the number of counter
    * resets (value drops) / value changes between time-adjacent samples.
    * Exact integer counts — one window pass on the series partitioning,
    * one aggregation. Tie order among equal timestamps follows the
    * repo-wide (e, value) rule so both engines see the same adjacency.
    */
  def resetsOverRange(metrics: DataFrame, metricName: String, atEpochSec: Long,
      windowSec: Long, kind: String): DataFrame =
    resetsFromSamples(
      rangeSelector(metrics, metricName, atEpochSec, windowSec), kind)

  /** resets/changes over an arbitrary (skey, e, value) sample frame
    * (see [[rateFromSamples]]).
    */
  def resetsFromSamples(samples: DataFrame, kind: String,
      extraKeys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = col("skey") +: extraKeys.map(col)
    val rs = samples
      .select(keys :+ col("e") :+
        col("value").cast("decimal(20,6)").as("vd"): _*)
    val w = Window.partitionBy(keys: _*).orderBy(col("e"), col("vd"))
    val flag =
      if (kind == "resets") col("vd") < col("prev")
      else col("vd") =!= col("prev")
    rs.withColumn("prev", lag(col("vd"), 1).over(w))
      .groupBy(keys: _*)
      .agg(sum(when(col("prev").isNotNull && flag, 1).otherwise(0))
        .cast("double").as("value"))
  }

  /** `deriv(x[w])` / `predict_linear(x[w], t)`: per-series least-squares
    * slope over the window, optionally extrapolated `predictSec` past
    * the evaluation time. Cross-engine determinism: sample times are
    * centered on the WINDOW START (a constant, so x fits in ≤ w — small
    * exact integers), every regression sum (Σx, Σx², Σv, Σxv) is kept in
    * exact DECIMAL, and only the final slope division and the predict
    * affine step run in doubles, in an operation order the oracle
    * mirrors literally. One map-side-combinable aggregation per series —
    * no window pass, no second shuffle. Exactness bound: the scaled
    * Σxv term stays below 10³² for any n·w·|v| a real window holds.
    */
  def derivOverRange(metrics: DataFrame, metricName: String, atEpochSec: Long,
      windowSec: Long, predictSec: Option[Double]): DataFrame =
    derivFromSamples(rangeSelector(metrics, metricName, atEpochSec, windowSec),
      lit(atEpochSec - windowSec), windowSec, predictSec)

  /** deriv/predict_linear over an arbitrary (skey[, extras], e, value)
    * sample frame — shared by plain range selectors and SUBQUERY ranges.
    * `x0` is the window-start column the sample times are centered on
    * (a constant for the instant form, g − w at range evaluation); the
    * decimal-sum regression and the mirrored double affine step are
    * documented on the instant form above.
    */
  def derivFromSamples(samples: DataFrame, x0: Column, windowSec: Long,
      predictSec: Option[Double], extraKeys: Seq[String] = Nil): DataFrame = {
    val keys = col("skey") +: extraKeys.map(col)
    val rs = samples
      .select(keys :+ (col("e") - x0).as("x") :+
        col("value").cast("decimal(20,6)").as("vd"): _*)
    val agg = rs.groupBy(keys: _*).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum(col("vd")).as("sv"),
      sum(col("vd") * col("x")).as("sxv"))
    val num = (col("n") * col("sxv") - col("sx") * col("sv")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = num / den
    val withSlope = agg
      .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .withColumn("slope", slope)
    predictSec match {
      case None => withSlope.select(keys :+ col("slope").as("value"): _*)
      case Some(d) =>
        // intercept at x0, then extrapolate to (window end + horizon);
        // the oracle reproduces this exact double expression
        val intercept =
          (col("sv").cast("double") - col("slope") * col("sx").cast("double")) /
            col("n")
        withSlope.select(keys :+
          (intercept + col("slope") * lit(windowSec + d)).as("value"): _*)
    }
  }

  /** `deriv`/`predict_linear` at every grid point: the per-window
    * least-squares slope with sample times centered on each window's
    * own start (x = e − (g − w), small exact integers): the
    * [[derivFromSamples]] regression keyed by (skey, g).
    * One map-side-combinable aggregation, no window pass.
    */
  def derivOverGrid(metrics: DataFrame, metricName: String, g0: Long,
      g1: Long, stepSec: Long, windowSec: Long,
      predictSec: Option[Double]): DataFrame =
    derivFromSamples(windowGrid(metrics, metricName, g0, g1, stepSec, windowSec),
      col("g") - windowSec, windowSec, predictSec, extraKeys = Seq("g"))

  /** `holt_winters(x[w], sf, tf)`: double exponential smoothing over each
    * series' time-ordered window samples — Prometheus's algorithm
    * verbatim (level s, trend b; b seeds from the first two samples, the
    * trend blend starts on the second step). The recursion is inherently
    * sequential, so the samples are collected per (series, window) —
    * bounded by the window's sample count, the same bound Prometheus
    * itself holds in memory — sorted by the repo-wide (e, value) tie
    * rule, and folded with `aggregate` entirely inside codegen'd
    * expressions. Doubles are deterministic here BECAUSE the fold order
    * is total: the oracle replays the identical recursion as a recursive
    * CTE, same IEEE ops in the same order.
    */
  def holtWinters(metrics: DataFrame, metricName: String, atEpochSec: Long,
      windowSec: Long, sf: Double, tf: Double): DataFrame =
    holtWintersOver(rangeSelector(metrics, metricName, atEpochSec, windowSec),
      Seq(col("skey")), sf, tf)
      .select(col("skey"), col("value"))

  /** holt_winters at every grid point: the [[windowGrid]] expansion keyed
    * by (skey, g), then the same total-order fold per window — the g in
    * the shuffle key spreads a hot series across reducers, as for the
    * rest of the over-time family.
    */
  def holtWintersGrid(metrics: DataFrame, metricName: String, g0: Long,
      g1: Long, stepSec: Long, windowSec: Long, sf: Double,
      tf: Double): DataFrame =
    holtWintersOver(windowGrid(metrics, metricName, g0, g1, stepSec, windowSec),
      Seq(col("skey"), col("g")), sf, tf)
      .select(col("skey"), col("g"), col("value"))

  /** holt_winters over an arbitrary (skey[, extras], e, value) sample
    * frame — the SUBQUERY form, where the samples are the inner
    * expression's values at aligned grid points (see
    * [[rateFromSamples]]); same total-order fold.
    */
  def holtWintersFromSamples(samples: DataFrame, sf: Double, tf: Double,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keys = col("skey") +: extraKeys.map(col)
    holtWintersOver(samples, keys, sf, tf)
      .select(keys :+ col("value"): _*)
  }

  /** The shared smoothing fold over (e, value) rows grouped by `keys`:
    * collect-sort by the repo-wide (e, value) tie rule, then the
    * Prometheus recursion entirely inside codegen'd expressions.
    */
  private def holtWintersOver(rows: DataFrame, keys: Seq[Column], sf: Double,
      tf: Double): DataFrame = {
    val arr = rows.groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("e"), col("value")))).as("evs"))
      .filter(size(col("evs")) >= 2) // Prometheus: no output below 2 samples
      .withColumn("vs", transform(col("evs"), s => s.getField("value")))
    val zero = struct(lit(0d).as("s0"),
      element_at(col("vs"), 1).as("s1"),
      lit(null).cast("double").as("b"))
    val folded = aggregate(
      expr("slice(vs, 2, size(vs) - 1)"),
      zero,
      (acc, v) => {
        // b is NULL only on the first step: the trend seeds as v1 - v0
        // and calcTrendValue(0) returns it unblended, as in Prometheus
        val b0 = when(acc.getField("b").isNull, v - acc.getField("s1"))
          .otherwise(lit(tf) * (acc.getField("s1") - acc.getField("s0")) +
            lit(1 - tf) * acc.getField("b"))
        struct(acc.getField("s1").as("s0"),
          (lit(sf) * v + lit(1 - sf) * (acc.getField("s1") + b0)).as("s1"),
          b0.as("b"))
      },
      acc => acc.getField("s1"))
    arr.withColumn("value", folded)
  }

  /** `quantile_over_time(q, x[w])`: the φ-quantile of each series'
    * samples, with Prometheus's linear interpolation — sorted values
    * v_0..v_{n-1}, rank = q·(n-1), result = v_lo + (v_hi − v_lo)·frac.
    * Implemented with explicit rank arithmetic (row_number + floor/ceil)
    * rather than a built-in percentile so the oracle can reproduce the
    * exact same expression tree: both engines then compute bit-identical
    * doubles, since every operand and operation order matches. Two
    * window passes over data already partitioned by series, then one
    * aggregation — no collect, no UDF.
    */
  def quantileOverTime(rangeSel: DataFrame, q: Double,
      extraKeys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(q >= 0 && q <= 1, s"quantile must be in [0,1], got $q")
    // `extraKeys` (the grid point at range evaluation) join the series
    // key in every partition/group, so one rank pass serves both forms
    val keys = col("skey") +: extraKeys.map(col)
    val bySeries = Window.partitionBy(keys: _*)
    val ranked = rangeSel
      .select(keys :+ col("value"): _*)
      .withColumn("rn", row_number().over(bySeries.orderBy(col("value"))) - 1)
      .withColumn("rank", lit(q) * (count(lit(1)).over(bySeries) - 1))
    ranked
      .filter(col("rn") === floor(col("rank")) || col("rn") === ceil(col("rank")))
      .groupBy(keys: _*)
      .agg(
        max(when(col("rn") === floor(col("rank")), col("value"))).as("lo"),
        max(when(col("rn") === ceil(col("rank")), col("value"))).as("hi"),
        first(col("rank") - floor(col("rank"))).as("frac"))
      .select(keys :+
        (col("lo") + (col("hi") - col("lo")) * col("frac")).as("value"): _*)
  }

  /** `mad_over_time(sel[w])` — median absolute deviation around the
    * median (Prometheus's experimental function). Both medians run the
    * explicit rank-interpolation of [[quantileOverTime]] (bit-exact
    * cross-engine; ties carry equal values, so tie order cannot change
    * the interpolated result); the per-series median joins back to the
    * window's samples on the series key (plus the grid point at range
    * evaluation). Cost: two rank windows plus one equi-join, all
    * partitioned on the same key — no extra distribution.
    */
  def madOverTime(rangeSel: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keys = col("skey") +: extraKeys.map(col)
    val med = quantileOverTime(rangeSel, 0.5, extraKeys)
      .withColumnRenamed("value", "med")
    val dev = rangeSel
      .select(keys :+ col("value"): _*)
      .join(med, "skey" +: extraKeys)
      .select(keys :+ abs(col("value") - col("med")).as("value"): _*)
    quantileOverTime(dev, 0.5, extraKeys)
  }

  /** `histogram_quantile(q, buckets)` over an instant vector of
    * cumulative `le`-labeled bucket series (the classic-histogram
    * contract): group by labels-minus-le, rank = q·total (the +Inf
    * bucket's count), pick the lowest finite bucket whose cumulative
    * count reaches the rank, and interpolate linearly inside it —
    * `lo_le + (le − lo_le)·(rank − lo_cum)/(cum − lo_cum)`, with the
    * first bucket's lower bound at 0 (Prometheus semantics for positive
    * bucket bounds, the stated supported domain). A rank beyond every
    * finite bucket returns the highest finite le, as Prometheus does.
    * One sort-window per group plus one aggregation; bucket counts per
    * group are tiny by construction, so no skew.
    */
  def histogramQuantile(buckets: DataFrame, q: Double,
      extraKeys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = labelsOf(col("skey"))
    val led = when(labels.getItem("le").isin("+Inf", "Inf", "inf"),
      lit(Double.PositiveInfinity))
      .otherwise(labels.getItem("le").cast("double"))
    val gkey = seriesKey(map_filter(labels, (k, _) => k =!= "le"))
    val extras = extraKeys.map(col)
    val gkeys = col("gkey") +: extras
    val base = buckets.select(gkey.as("gkey") +: extras :+ led.as("le") :+
      col("value"): _*)
    val ordered = Window.partitionBy(gkeys: _*).orderBy(col("le"))
    val whole = Window.partitionBy(gkeys: _*)
    val enriched = base
      .withColumn("prev_cum", coalesce(lag(col("value"), 1).over(ordered), lit(0.0)))
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(ordered), lit(0.0)))
      .withColumn("total",
        max(when(col("le") === Double.PositiveInfinity, col("value"))).over(whole))
      .withColumn("rank", lit(q) * col("total"))
    // the winning bucket is the LOWEST finite le whose cumulative count
    // reaches the rank; selecting it with min(struct(le, qval)) inside
    // ONE aggregation (le is unique per group, so the struct min is the
    // min-le row) replaces the former filter→row_number→left-join shape,
    // which scanned the whole upstream pipeline twice. The interpolation
    // expression is unchanged, so values are bit-identical.
    val qval = col("prev_le") + (col("le") - col("prev_le")) *
      (col("rank") - col("prev_cum")) / (col("value") - col("prev_cum"))
    enriched.groupBy(gkeys: _*)
      .agg(
        min(when(col("le") =!= Double.PositiveInfinity && col("value") >= col("rank"),
          struct(col("le"), qval.as("qv")))).as("winner"),
        max(when(col("le") =!= Double.PositiveInfinity, col("le"))).as("fallback"))
      .select(col("gkey").as("skey") +: extras :+
        coalesce(col("winner.qv"), col("fallback")).as("value"): _*)
  }

  /** `histogram_fraction(lo, hi, buckets)` over classic cumulative
    * `le`-labeled buckets — the estimated fraction of observations in
    * (lo, hi], Prometheus 3.x's companion to histogram_quantile (the
    * only member of the histogram_* family defined for the CLASSIC
    * representation; see README for the native-histogram scope note).
    * Interpolated cumulative count at a bound x, per group:
    *
    *  - x ≤ 0 → 0 (positive-bound domain, as histogramQuantile);
    *  - x inside finite bucket (prev_le, le] → linear:
    *    `prev_cum + (x − prev_le)·(cum − prev_cum)/(le − prev_le)`;
    *  - x beyond the last finite le → that bucket's cumulative count
    *    (stated deviation: no interpolation into the unbounded +Inf
    *    bucket — its mass only counts when the bound IS +Inf);
    *  - x = +Inf → the +Inf bucket's total.
    *
    * fraction = (cumAt(hi) − cumAt(lo)) / total, NaN on an empty
    * histogram (total 0), exactly the arithmetic the oracle replays.
    * Same single sort-window + one aggregation shape as
    * [[histogramQuantile]]; bucket counts per group are tiny.
    */
  def histogramFraction(buckets: DataFrame, lo: Double, hi: Double,
      extraKeys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = labelsOf(col("skey"))
    val led = when(labels.getItem("le").isin("+Inf", "Inf", "inf"),
      lit(Double.PositiveInfinity))
      .otherwise(labels.getItem("le").cast("double"))
    val gkey = seriesKey(map_filter(labels, (k, _) => k =!= "le"))
    val extras = extraKeys.map(col)
    val gkeys = col("gkey") +: extras
    val base = buckets.select(gkey.as("gkey") +: extras :+ led.as("le") :+
      col("value"): _*)
    val ordered = Window.partitionBy(gkeys: _*).orderBy(col("le"))
    val enriched = base
      .withColumn("prev_cum", coalesce(lag(col("value"), 1).over(ordered), lit(0.0)))
      .withColumn("prev_le", coalesce(lag(col("le"), 1).over(ordered), lit(0.0)))
    val finite = col("le") =!= Double.PositiveInfinity
    def interp(x: Double): Column =
      col("prev_cum") + (lit(x) - col("prev_le")) *
        (col("value") - col("prev_cum")) / (col("le") - col("prev_le"))
    // winner bucket for bound x = LOWEST finite le ≥ x (struct-min on
    // the unique-per-group le, as histogramQuantile's winner)
    def winner(x: Double): Column =
      min(when(finite && col("le") >= x, struct(col("le"), interp(x).as("iv"))))
    val agg = enriched.groupBy(gkeys: _*)
      .agg(
        winner(lo).as("wlo"), winner(hi).as("whi"),
        max(when(finite, struct(col("le"), col("value")))).as("lastFin"),
        max(when(!finite, col("value"))).as("total"))
    def cumAt(x: Double, w: Column): Column =
      if (x <= 0) lit(0.0)
      else if (x == Double.PositiveInfinity) col("total")
      else coalesce(w.getField("iv"), col("lastFin.value"), lit(0.0))
    agg.select(col("gkey").as("skey") +: extras :+
      ((cumAt(hi, col("whi")) - cumAt(lo, col("wlo"))) / col("total"))
        .as("value"): _*)
  }

  /** P2: comparison with the `bool` modifier — returns 1.0/0.0 instead of
    * filtering (reference flagship: `!= bool 999999`, migrate.sql:105).
    */
  def boolCmp(value: Column, op: String, scalar: Double): Column =
    cmpCol(value, op, lit(scalar))

  /** Comparison against an arbitrary column RHS (vector-vector form),
    * with IEEE-754 NaN semantics as Prometheus computes them: every
    * ordered comparison and `==` involving NaN is FALSE, and `!=`
    * involving NaN is TRUE. Spark's native comparison operators instead
    * use SQL total ordering (NaN sorts greatest and equals itself), which
    * is reachable here — `scalar()` yields NaN by design when its inner
    * vector has ≠ 1 series — so the NaN cases are routed explicitly.
    */
  def cmpCol(value: Column, op: String, rhs: Column): Column = {
    val anyNaN = isnan(value) || isnan(rhs)
    val cond = op match {
      case "==" => !anyNaN && value === rhs
      case "!=" => anyNaN || value =!= rhs
      case ">"  => !anyNaN && (value > rhs)
      case ">=" => !anyNaN && (value >= rhs)
      case "<"  => !anyNaN && (value < rhs)
      case "<=" => !anyNaN && (value <= rhs)
      case _    => throw new IllegalArgumentException(s"bad comparison op: $op")
    }
    cond.cast("double")
  }

  /** P3: `agg without(l1..ln)` — drop the listed labels and re-group on
    * what remains. Works on any frame carrying a `skey` column; extra
    * grouping columns (e.g. the grid point `g`) are preserved.
    */
  def aggWithout(
      df: DataFrame,
      drop: Seq[String],
      valueAgg: Column,
      extraKeys: Seq[String] = Seq.empty): DataFrame =
    regroup(df, groupKeyWithout(drop), valueAgg, extraKeys)

  /** P6/P9: `agg by(l1..ln)` — keep only the listed labels. */
  def aggBy(
      df: DataFrame,
      keep: Seq[String],
      valueAgg: Column,
      extraKeys: Seq[String] = Seq.empty): DataFrame =
    regroup(df, groupKeyBy(keep), valueAgg, extraKeys)

  /** Canonical group key (JSON) for a STATIC `by` label list, evaluated
    * per row on `skey` (round 19). The former
    * seriesKey(map_filter(labelsOf(skey))) chain ran four higher-order
    * functions per row — map_filter, map_entries, array_sort with a
    * lambda comparator, map_from_entries — and every one of them is
    * CodegenFallback, so the dominant `sum by (...)` idiom paid an
    * interpreted expression walk inside its hottest stage. The label
    * NAMES are plan-time constants, so the canonical order is decided
    * here (keep.sorted) and the key map is a map_concat of per-label
    * conditional singletons — all codegen-capable. Exactness:
    * map_contains_key preserves the absent-vs-present-null distinction
    * map_filter had (a present null-valued entry stays); a null skey
    * yields a null key as before (from_json(null) propagated).
    */
  def groupKeyBy(keep: Seq[String]): Column = {
    val kept = keep.distinct.sorted
    if (kept.isEmpty) when(col("skey").isNotNull, lit("{}"))
    else {
      val labels = labelsOf(col("skey"))
      val empty = typedLit(Map.empty[String, String])
      val parts = kept.map { l =>
        when(map_contains_key(labels, lit(l)),
          map(lit(l), labels.getItem(l))).otherwise(empty)
      }
      when(col("skey").isNotNull, to_json(map_concat(parts: _*)))
    }
  }

  /** Canonical group key for `without(l1..ln)`: the kept label SET is
    * not static, so the complement still needs one map_filter — but the
    * re-sort is dropped (round 19): every engine `skey` is canonical
    * (entries sorted by [[seriesKey]] at construction), from_json
    * preserves document order, and map_filter preserves entry order, so
    * the complement map serializes in exactly the order the old
    * array_sort produced.
    */
  def groupKeyWithout(drop: Seq[String]): Column = {
    val dropArr = array(drop.map(lit): _*)
    to_json(map_filter(labelsOf(col("skey")),
      (k, _) => !array_contains(dropArr, k)))
  }

  private def regroup(df: DataFrame, newKey: Column, valueAgg: Column,
      extraKeys: Seq[String]): DataFrame = {
    val keys = col("skey") +: extraKeys.map(col)
    df.withColumn("skey", newKey)
      .groupBy(keys: _*)
      .agg(valueAgg.as("value"))
  }
}
