package graft

import org.apache.spark.sql.functions._
import graft.promql.PromOps

/** P1-P9 semantics on a hand-built metric stream. */
class PromOpsSpec extends SparkSpec {
  import spark.implicits._

  // two raw series of metric m: labels {s:a,k:1} and {s:a,k:2}; one series
  // of {s:b}. t = 1000.
  private def metrics = Seq(
    ("m", Map("s" -> "a", "k" -> "1"), 5.0, 990L),
    ("m", Map("s" -> "a", "k" -> "1"), 4.0, 900L), // older, superseded
    ("m", Map("s" -> "a", "k" -> "2"), 7.0, 800L),
    ("m", Map("s" -> "b"), 9.0, 500L), // outside 300s lookback at t=1000
    ("x", Map("s" -> "a"), 1.0, 999L) // different metric
  ).toDF("metric_name", "labels", "value", "es")
    .withColumn("timestamp", timestamp_seconds(col("es")))

  test("P1: instant vector picks latest sample per series within lookback") {
    val iv = PromOps.instantVector(metrics, "m", 1000L, 300L)
      .select(col("skey"), col("e"), col("value")).collect()
    val bySeries = iv.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(bySeries.size == 2) // series b is stale, metric x filtered
    assert(bySeries("""{"k":"1","s":"a"}""") == ((990L, 5.0)))
    assert(bySeries("""{"k":"2","s":"a"}""") == ((800L, 7.0)))
  }

  test("P1: staleness window is half-open (t-lookback, t] — boundary sample excluded") {
    // sample at exactly t - lookback is OUTSIDE the window (Prometheus
    // semantics, round 16); one second later it is inside
    val iv700 = PromOps.instantVector(metrics, "m", 1100L, 300L)
      .select(col("skey"), col("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // at t=1100: k=2's only sample (e=800) sits exactly on 1100-300 → stale
    assert(!iv700.contains("""{"k":"2","s":"a"}"""))
    assert(iv700("""{"k":"1","s":"a"}""") == 990L)
    val iv699 = PromOps.instantVector(metrics, "m", 1099L, 300L)
      .select(col("skey"), col("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(iv699("""{"k":"2","s":"a"}""") == 800L) // 800 > 1099-300: visible
    // grid form agrees: the last grid point a sample serves is < e+lookback
    val g = PromOps.rangeEval(
      metrics.filter(col("labels")("k") === "2"), "m", 1020L, 1140L, 60L, 300L)
      .select(col("g")).collect().map(_.getLong(0)).toSet
    assert(g == Set(1020L, 1080L)) // 1100 aligned down: 800 serves g<1100
  }

  test("P4/P8: grid evaluation with staleness carry-forward") {
    // grid [900, 1080] step 60: sample(es=900,v=4) covers 900,960,1020,(1080<=1200)
    // sample(es=990,v=5) covers 1020,1080 and supersedes at those points
    val g = PromOps.rangeEval(
      metrics.filter(col("labels")("k") === "1"), "m", 900L, 1080L, 60L, 300L)
      .select(col("g"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g == Map(900L -> 4.0, 960L -> 4.0, 1020L -> 5.0, 1080L -> 5.0))
  }

  test("P2: bool comparison yields 0/1 instead of filtering") {
    val out = spark.range(1).select(
      PromOps.boolCmp(lit(5.0), "!=", 999999).as("a"),
      PromOps.boolCmp(lit(5.0), ">", 7).as("b")).head()
    assert(out.getDouble(0) == 1.0 && out.getDouble(1) == 0.0)
  }

  test("P3: agg without drops labels and collapses series") {
    val iv = PromOps.instantVector(metrics, "m", 1000L, 600L) // both a-series + b
    val out = PromOps.aggWithout(iv, Seq("k"), max(col("value")))
      .select(col("skey"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("""{"s":"a"}""" -> 7.0, """{"s":"b"}""" -> 9.0))
  }

  test("P6: agg by keeps only listed labels") {
    val iv = PromOps.instantVector(metrics, "m", 1000L, 600L)
    val out = PromOps.aggBy(iv, Seq("s"), sum(col("value")))
      .select(col("skey"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("""{"s":"a"}""" -> 12.0, """{"s":"b"}""" -> 9.0))
  }

  test("series key is order-independent and reversible") {
    val df = Seq(Map("b" -> "2", "a" -> "1"), Map("a" -> "1", "b" -> "2"))
      .toDF("labels")
    val keys = df.select(PromOps.seriesKey(col("labels"))).distinct().collect()
    assert(keys.length == 1)
    val back = df.select(PromOps.labelsOf(PromOps.seriesKey(col("labels"))))
      .head().getMap[String, String](0)
    assert(back == Map("a" -> "1", "b" -> "2"))
  }

  /** The double nearest to `x`, checked against both neighbours in exact
    * decimal arithmetic rather than trusted to a library conversion.
    */
  private def nearest(x: BigDecimal): Double = {
    val d = x.toDouble
    def dist(c: Double) = (BigDecimal(new java.math.BigDecimal(c)) - x).abs
    assert(dist(d) <= dist(Math.nextUp(d)) && dist(d) <= dist(Math.nextDown(d)),
      s"$x does not convert to its nearest double")
    d
  }

  test("deriv slope is the exact regression quotient on dense series") {
    // 20 trending series × 2000 samples 15 s apart, 6-decimal values up
    // to 10^4: the numerator n·Σxv − Σx·Σv runs past 18 significant
    // digits, where a DECIMAL(38,6) → DOUBLE conversion that is not
    // correctly rounded shows up in the last bit
    val at = 100000L
    val window = 30000L
    val n = 2000
    val rnd = new scala.util.Random(201)
    val units = Seq.tabulate(20, n)((s, i) =>
      (s + 10) * 150000L * i + rnd.nextLong(1000000000L))
    val rows = for {
      (ks, s) <- units.zipWithIndex
      (k, i) <- ks.zipWithIndex
    } yield ("m", Map("s" -> s.toString), k / 1e6, at - window + 15L * (i + 1))
    val df = rows.toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val got = PromOps.derivOverRange(df, "m", at, window, None)
      .select(PromOps.labelsOf(col("skey"))("s"), col("value")).collect()
      .map(r => r.getString(0).toInt -> r.getDouble(1)).toMap
    assert(got.size == 20)
    val xs = (1 to n).map(i => BigInt(15L * i))
    val sx = xs.sum
    val sxx = xs.map(x => x * x).sum
    for ((ks, s) <- units.zipWithIndex) {
      val vs = ks.map(BigInt(_))
      val num = BigDecimal(BigInt(n) * vs.zip(xs).map { case (v, x) => v * x }.sum -
        sx * vs.sum, 6)
      val den = BigDecimal(BigInt(n) * sxx - sx * sx)
      assert(num.precision > 18, s"series $s: numerator $num too short")
      val want = nearest(num) / nearest(den)
      assert(got(s) == want, s"series $s: slope ${got(s)} != $want")
      // and within one ulp of the true rational slope
      val exact = num / den
      assert((BigDecimal(new java.math.BigDecimal(got(s))) - exact).abs <=
        BigDecimal(Math.ulp(got(s))))
    }
  }
}
