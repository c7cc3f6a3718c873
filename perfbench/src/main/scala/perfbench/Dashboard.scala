package perfbench

import graft.promql.{PromEval, PromOps, PromParser}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** `promql_dashboard`, the reader's mix: registered PromQL pack queries,
  * the benchmark's own range queries at production grid lengths, and a pass
  * of the registered curation operators, in a seeded shuffled closed loop
  * over the dense generated input and curation corpus. Each query is built,
  * then its result is collected.
  */
object Dashboard {

  private val Te = graft.queries.Pinned.Te
  private val M1 = (Te / 60) * 60 // last minute-aligned point
  private val M0 = M1 - 86400 + 60 // 24h at 60 s: 1440 points
  // 2d at 300 s: 576 points, the longest grid whose 24h windows the input
  // (2024-01-28..30) covers in full
  private val F1 = (Te / 300) * 300
  private val F0 = F1 - 2 * 86400 + 300

  /** A range query over [g0, g1] at `step`; `by` is the label set the
    * result keeps, `agg` the DuckDB aggregate of the oracle (or rate /
    * increase for the extrapolated family).
    */
  final case class Range(name: String, promql: String, metric: String,
      windowSec: Long, g0: Long, g1: Long, step: Long, by: Seq[String], agg: String)

  val ranges: Seq[Range] = Seq(
    Range("range_rate_10m_24h", "rate(purchase[10m])", "purchase", 600, M0, M1, 60,
      Seq("user", "k"), "rate"),
    Range("range_max_1h_24h", "max_over_time(view[1h])", "view", 3600, M0, M1, 60,
      Seq("user", "k"), "max(v)"),
    Range("range_count_24h_2d", "count_over_time(view[24h])", "view", 86400, F0, F1, 300,
      Seq("user", "k"), "CAST(count(*) AS DOUBLE)"))

  /** The pack queries of the mix: a bare selector, rate, the flagship and
    * the setop shuffle tail. The first one also opens the warm pass, so the
    * first answer is the same query in every run. promql_parsed_deriv and
    * promql_parsed_predict are left out: on dense series their results
    * differ from their oracles (see README.md).
    */
  val packNames: Seq[String] = Seq(
    "pq_instant_vector", "promql_parsed_rate", "promql_parsed_flagship",
    "promql_parsed_setop_or_on")

  /** The curation operators of the mix and the family each one's time is
    * reported under: dedup, ANN and embedding operators over the corpus, and
    * a stream gate over the metrics.
    */
  val curation: Seq[(String, String)] = Seq(
    "dedup_exact" -> "dedup", "ann_ivf_topk" -> "ann", "emb_kmeans_step" -> "embed",
    "hourly_avg_stream" -> "stream")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val metrics = ctx.tracer.span("ingest.fact_build") {
      val m = graft.ingest.EventsIngest.cachedMetrics(spark, ctx.data)
      m.count()
      m
    }
    val pack = graft.SparkEntry.queries
    val oracleSql = graft.SparkEntry.oracleSql
    def rangeFrame(r: Range): DataFrame = {
      val expr = ctx.tracer.span("promql.parse")(PromParser.parse(r.promql))
      val grid = ctx.tracer.span("promql.eval_build")(PromEval.evalGrid(metrics, expr,
        r.g0, r.g1, r.step, PromOps.DefaultLookbackSec))
      grid.select(r.by.map(l => PromOps.labelsOf(col("skey")).getItem(l).as(l)) ++
        Seq(col("g"), col("value")): _*)
    }
    val ops: Seq[(String, String, String, () => Array[Row])] =
      packNames.map(n => (n, "instant", "promql", () =>
        ctx.collect(ctx.tracer.span("promql.build")(pack(n)(spark, ctx.data))))) ++
      ranges.map(r => (r.name, "range", "promql", () => ctx.collect(rangeFrame(r)))) ++
      curation.map { case (n, family) => (n, "curation", family, () =>
        ctx.collect(ctx.tracer.span("queries.build")(pack(n)(spark, ctx.data))))
      }

    // warm pass: first call of every query, the rest in a seeded order
    val warmRows = mutable.Map.empty[String, Array[Row]]
    val digest = mutable.Map.empty[String, String]
    val warmMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    (ops.head +: ctx.rng.shuffle(ops.tail)).foreach { case (name, kind, family, f) =>
      val rows = ctx.op(name, kind, family, ctx.warm)(f())(_ => true)
      warmMs(family) += ctx.warm.last.sec * 1000
      if (rows != null) { warmRows(name) = rows; digest(name) = Digest(rows) }
    }
    ctx.figures("sources.warm_ms") = warmMs.values.sum
    warmMs.foreach { case (f, ms) => ctx.figures(s"sources.warm_ms.$f") = ms }

    // one untimed cycle more: the second call of each query still runs
    // partly interpreted code
    ctx.rng.shuffle(ops).foreach { case (name, kind, family, f) =>
      ctx.op(name, kind, family, ctx.warm)(f())(rows => digest.get(name).contains(Digest(rows)))
    }

    // whole cycles over the mix, so every run's samples cover the same queries
    ctx.startTimed()
    var cycles = 0
    while (ctx.timeLeft) {
      ctx.rng.shuffle(ops).foreach { case (name, kind, family, f) =>
        ctx.op(name, kind, family, ctx.timed)(f())(rows =>
          digest.get(name).contains(Digest(rows)))
      }
      cycles += 1
    }
    ctx.stopTimed()
    ctx.figures("cycles") = cycles
    // per curation family: seconds per cycle
    val cur = ctx.timed.filter(o => o.kind == "curation" && o.ok)
    curation.map(_._2).foreach(f => ctx.figures(s"queries.${f}_s") =
      cur.filter(_.family == f).map(_.sec).sum / cycles)

    // oracle dumps of the warm results (after the clock stops); an empty
    // result has no row schema to dump, so its oracle must return no rows
    warmRows.foreach { case (name, rows) =>
      val sql = oracleSql.getOrElse(name, ranges.find(_.name == name).map(oracle).getOrElse(""))
      if (sql.nonEmpty) {
        if (rows.nonEmpty) ctx.dump(name, rows, rows.head.schema, sql)
        else ctx.oracles(name) = ("", sql)
      }
    }
  }

  /** DuckDB reference SQL of a benchmark range query, in the shape of the
    * pack's range oracles: each sample explodes into the grid points whose
    * window (g - w, g] holds it.
    */
  def oracle(r: Range): String = {
    val (w, s) = (r.windowSec, r.step)
    val samples =
      s"""WITH s AS (
         |  SELECT CAST(user_id AS VARCHAR) AS u,
         |         json_extract_string(props, '$$.k') AS k,
         |         CAST(floor(epoch(ts)) AS BIGINT) AS e,
         |         value AS v
         |  FROM events
         |  WHERE event_type = '${r.metric}'
         |    AND CAST(floor(epoch(ts)) AS BIGINT) BETWEEN ${r.g0 - w + 1} AND ${r.g1}
         |), ex AS (
         |  SELECT u, k, e, v, CAST(v AS DECIMAL(20,6)) AS vd,
         |         unnest(generate_series(greatest(${r.g0}, ((e + ${s - 1}) // $s) * $s),
         |                                least(${r.g1}, ((e + ${w - 1}) // $s) * $s), $s)) AS g
         |  FROM s
         |)""".stripMargin
    val keys = r.by.map(l => if (l == "user") "u" else l)
    val out = r.by.map(l => if (l == "user") "u AS user" else l).mkString(", ")
    if (r.agg == "rate" || r.agg == "increase")
      samples +
        s""", o AS (
           |  SELECT u, k, g, e, vd,
           |         lag(vd) OVER (PARTITION BY u, k, g ORDER BY e, vd) AS prev
           |  FROM ex
           |), d AS (
           |  SELECT u, k, g, e, vd, CASE WHEN prev IS NULL THEN NULL
           |                              WHEN vd >= prev THEN vd - prev
           |                              ELSE vd END AS delta
           |  FROM o
           |)""".stripMargin + extrapTail(Seq("u", "k", "g"), s"g - $w", "g", w, r.agg,
          "u AS user, k, g")
    else
      samples + s"\nSELECT $out, g, ${r.agg} AS value FROM ex GROUP BY ${(keys :+ "g").mkString(", ")}"
  }

  /** Prometheus' extrapolated rate/increase over CTE `d` (keys, e, vd,
    * delta), in the same operation order as the pack's range-rate oracle.
    */
  private def extrapTail(keys: Seq[String], rs: String, re: String, windowSec: Long,
      kind: String, outSelect: String): String = {
    val ks = keys.mkString(", ")
    val rate = if (kind == "rate") s" / $windowSec.0" else ""
    s""", agg AS (
       |  SELECT $ks, count(*) AS n, min(e) AS fe, max(e) AS le,
       |         (min(struct_pack(e := e, vd := vd))).vd AS fv,
       |         CAST(sum(delta) AS DOUBLE) AS res
       |  FROM d GROUP BY $ks HAVING max(e) - min(e) > 0
       |), f AS (
       |  SELECT $ks, res, CAST(le - fe AS DOUBLE) AS span,
       |         CAST(le - fe AS DOUBLE) / (n - 1) AS avgd,
       |         CAST(fe - ($rs) AS DOUBLE) AS ds0,
       |         CAST(($re) - le AS DOUBLE) AS de0,
       |         CAST(fv AS DOUBLE) AS fvd
       |  FROM agg
       |), x AS (
       |  SELECT $ks, res, span, fvd,
       |         CASE WHEN ds0 >= avgd * 1.1 THEN avgd / 2 ELSE ds0 END AS ds1,
       |         CASE WHEN de0 >= avgd * 1.1 THEN avgd / 2 ELSE de0 END AS de1
       |  FROM f
       |), y AS (
       |  SELECT $ks, res, span, de1,
       |         CASE WHEN res > 0 AND fvd >= 0 AND span * (fvd / res) < ds1
       |              THEN span * (fvd / res) ELSE ds1 END AS ds2
       |  FROM x
       |)
       |SELECT $outSelect,
       |       res * (((span + ds2 + de1) / span)$rate) AS value
       |FROM y""".stripMargin
  }
}
