package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** One benchmark run in one JVM: set up, run the workload's closed loop for
  * `--seconds`, and write everything measured to `<out>/result.json` for
  * `run.py`, which checks the outputs and prints the metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --data <dir> --out <dir> --seed <n>
  *                --seconds <s> --trace <0|1> --cores <n>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(a("workload"), a("data"), a("out"), a("seed").toLong,
      a("seconds").toDouble, a("trace") == "1", a("cores").toInt)
    val run: Ctx => Unit = ctx.workload match {
      case "promql_dashboard" => Dashboard.run
      case "etl_service" => Etl.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try run(ctx) finally ctx.finish()
  }
}

/** What a timed or warm operation returned. */
final case class Op(name: String, kind: String, family: String, sec: Double,
    ok: Boolean, err: String, rows: Long, endMs: Long)

/** Run state shared by the workloads: the session, the tracer, the clock
  * marks and everything that goes into result.json.
  */
final class Ctx(val workload: String, val data: String, val out: String,
    val seed: Long, val seconds: Double, traceOn: Boolean, cores: Int) {

  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val spark: SparkSession = graft.GraftSession.local(cores)
  val tracer = new Tracer(spark, traceOn)
  val rng = new scala.util.Random(seed)

  val warm = mutable.ArrayBuffer.empty[Op]
  val timed = mutable.ArrayBuffer.empty[Op]
  /** Warm results to check against an oracle: name → (dump dir, SQL). */
  val oracles = mutable.LinkedHashMap.empty[String, (String, String)]
  /** Outcome of each check the JVM makes itself: name → (ok, detail). */
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  /** Workload figures (end-to-end and layer) measured directly. */
  val figures = mutable.LinkedHashMap.empty[String, Double]
  /** Samples behind each reported distribution. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var timedStartMs = 0L
  private var timedEndMs = 0L
  private var resultRows = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def startTimed(): Unit = { tracer.startTimed(); timedStartMs = System.currentTimeMillis() }
  def stopTimed(): Unit = { timedEndMs = System.currentTimeMillis(); tracer.stopTimed() }
  def deadline: Long = timedStartMs + (seconds * 1000).toLong
  def timeLeft: Boolean = System.currentTimeMillis() < deadline

  /** Time one operation from outside: `body` builds and runs it and returns
    * the rows it produced; `check` says whether those rows are right. A throw
    * or a failed check is recorded as a failure, never as a fast success.
    */
  def op(name: String, kind: String, family: String, into: mutable.ArrayBuffer[Op])(
      body: => Array[Row])(check: Array[Row] => Boolean): Array[Row] = {
    tracer.setOp(into.size + 1)
    val t0 = System.nanoTime()
    val (rows, err) =
      try (tracer.span("bench.op")(body), "")
      catch { case scala.util.control.NonFatal(e) =>
        (null, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val ok = rows != null && (try check(rows) catch { case scala.util.control.NonFatal(_) => false })
    val n = if (rows == null) 0L else rows.length.toLong
    if (into eq timed) resultRows += n
    into += Op(name, kind, family, sec, ok, if (ok || err.nonEmpty) err else "check failed",
      n, System.currentTimeMillis())
    graft.ext.CacheScope.drain()
    rows
  }

  /** Collect a frame inside a `spark.collect` span. */
  def collect(df: => DataFrame): Array[Row] = {
    val d = df
    tracer.span("spark.collect")(d.collect())
  }

  /** Write rows as one parquet file for the oracle check. */
  def dump(name: String, rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      sql: String): Unit = {
    val dir = s"$out/dumps/$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    oracles(name) = (dir, sql)
  }

  /** Spark storage memory held by cached frames, in MB, and their count. */
  def cached: (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.length, infos.map(_.memSize).sum / 1e6)
  }

  def finish(): Unit = {
    val (frames, mb) = cached
    figures("cache_mb") = mb
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else tracer.summary(timed.size, resultRows, Map(
        "sources.cached_frames" -> frames.toDouble, "sources.cached_mb" -> mb) ++
        figures.filter(_._1.contains('.')))
    def ops(xs: Seq[Op]) = xs.map(o => Map("name" -> o.name, "kind" -> o.kind,
      "family" -> o.family, "sec" -> o.sec, "ok" -> o.ok, "err" -> o.err,
      "rows" -> o.rows, "end_ms" -> o.endMs))
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" }
    val res = Map(
      "workload" -> workload, "seed" -> seed,
      "jvm_start_ms" -> jvmStartMs, "timed_start_ms" -> timedStartMs,
      "timed_end_ms" -> timedEndMs,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "java_io_tmpdir" -> System.getProperty("java.io.tmpdir"),
      "spark_local_dir" -> spark.sparkContext.getConf.get("spark.local.dir", ""),
      "graft_env" -> sys.env.filter(_._1.startsWith("GRAFT_")),
      "spark_conf" -> conf,
      "warm" -> ops(warm.toSeq), "timed" -> ops(timed.toSeq),
      "oracles" -> oracles.map { case (k, (d, s)) => k -> Map("dir" -> d, "sql" -> s) }.toMap,
      "checks" -> checks.map { case (k, (ok, d)) => k -> Map("ok" -> ok, "detail" -> d) }.toMap,
      "figures" -> figures.toMap, "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "layers" -> layers)
    write(s"$out/result.json", Json(res))
    if (tracer.enabled) write(s"$out/trace.json", Json(tracer.spanRows))
    spark.stop()
  }

  private def write(path: String, s: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
  }
}

/** Order-independent digest of a result, for comparing a timed run's rows
  * with the warm run's (whose rows the oracle check covers).
  */
object Digest {
  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
