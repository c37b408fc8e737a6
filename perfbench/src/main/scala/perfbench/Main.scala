package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run of one workload hands back to `run.py`: its metrics
  * with units, its operation counts and its output checks.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val artifacts = mutable.LinkedHashMap.empty[String, String]
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** The request phase's end-to-end metrics, from its latencies (ms),
    * its tail latency (ms) and its wall (s).
    */
  def requests(ms: Seq[Double], tailMs: Double, wallS: Double): Unit = {
    metric("req_p50_ms", Stats.median(ms), "ms")
    metric("req_tail_ms", tailMs, "ms")
    metric("req_per_s", ms.size / wallS, "1/s")
  }

  /** Per-layer samples the workload observes itself (traced runs
    * summarise them beside the span counters).
    */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** One attempted operation: run it once, count a throw as a failure
    * and return None. No retries.
    */
  def attempt[T](op: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(op)
    catch { case e: Exception =>
      failedN.incrementAndGet()
      System.err.println(s"perfbench: operation failed: ${e.getClass.getSimpleName}: " +
        e.getMessage.linesIterator.take(1).mkString)
      None
    }
  }

  /** Like [[attempt]], for an operation the rest of the run needs. */
  def must[T](op: => T): T = {
    attemptedN.incrementAndGet()
    try op catch { case e: Throwable => failedN.incrementAndGet(); throw e }
  }

  def json: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    }
    val ms = metrics.map { case (k, (v, u)) =>
      s""""${esc(k)}": {"value": ${num(v)}, "unit": "${esc(u)}"}""" }
    val cs = checks.map { case (k, ok, d) =>
      s"""{"name": "${esc(k)}", "ok": $ok, "detail": "${esc(d)}"}""" }
    val as = artifacts.map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}, """ +
      s""""checks": [${cs.mkString(", ")}], "artifacts": {${as.mkString(", ")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, result: Result, race: Boolean) {
  def traced: Boolean = tracer.enabled
  def span[T](name: String, attrs: => Map[String, Double] = Map.empty)(
      body: => T): T = tracer.span(name, attrs)(body)

  /** A top-level call into the library: afterwards the registry sweep
    * the library's harnesses run, then the net number of persisted RDDs
    * the call left behind.
    */
  def call[T](body: => T): T = {
    val sc = spark.sparkContext
    // a cached view the call registered on purpose (MartServing) is
    // not a leak: count it off
    def cachedViews = spark.catalog.listTables().collect()
      .count(t => t.isTemporary && spark.catalog.isCached(t.name))
    val (rdds, views) = (sc.getPersistentRDDs.size, cachedViews)
    val out = body
    graft.CacheRegistry.unpersistAll()
    result.sample("cache.live_rdds_after",
      (sc.getPersistentRDDs.size - rdds) - (cachedViews - views))
    out
  }
}

/** Runs one workload of the pipeline benchmark and writes its result as
  * JSON. Usage:
  *   perfbench.Main --workload etl_serve|corpus --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE [--race 0|1]
  * Set-up is measured by building the session and the workload's inputs
  * [[SetUps]] times over; the last session stays up for the measured
  * phases.
  */
object Main {
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median, so the first one, in
    * a cold JVM, never sets it.
    */
  val SetUps = 5

  /** End-to-end metric -> unit; the names match BENCHMARK.json. Every
    * workload reports each: its batch phase (ETL cycle, curate) and its
    * request phase (dashboard query, fold micro-batch).
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "batch_s" -> "s",
    "req_p50_ms" -> "ms", "req_tail_ms" -> "ms", "req_per_s" -> "1/s")
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - t0) / 1e9}%6.1f s] $msg")

  def session(work: String): SparkSession = {
    val s = graft.GraftSession.create(s"local[$Cores]", Cores, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val race = opts.getOrElse("race", "0") == "1"
    val w: Workload = workload match {
      case "etl_serve" => EtlServe
      case "corpus" => CorpusWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = new Result
    val setups = (1 to SetUps).map { i =>
      val t0 = System.nanoTime()
      val spark = session(work)
      val inputs = w.setup(spark, seed, s"$work/setup$i")
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"set-up $i took $dt%.2f s")
      if (i < SetUps) { w.teardown(spark, inputs); spark.stop() }
      (dt, spark, inputs)
    }
    result.metric("setup_s", Stats.median(setups.map(_._1)), "s")
    log("set-up done")
    val (_, spark, inputs) = setups.last
    val tracer = new Tracer(spark.sparkContext, trace, s"$workload-$seed")
    val ctx = Ctx(spark, seed, seconds, tracer, result, race)
    try {
      w.run(ctx, inputs)
      if (trace) {
        // tracing overhead: batch units with tracing off and on, in
        // off-on-on-off order on the warm JVM, so drift cancels
        def off() = w.timed(tracer.paused(w.unit(ctx, inputs)))._2
        def on() = w.timed(ctx.span("trace.overhead_unit")(w.unit(ctx, inputs)))._2
        val (off1, on1, on2, off2) = (off(), on(), on(), off())
        val overheadS = (on1 + on2 - off1 - off2) / 2
        tracer.close()
        TraceOut.write(ctx, tracer.report(), s"$work/spans.json", overheadS)
      }
    } finally {
      tracer.close()
      w.teardown(spark, inputs)
      graft.CacheRegistry.unpersistAll()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      result.json.getBytes("UTF-8"))
    spark.stop()
  }
}

/** One benchmark workload. `setup` builds the inputs from the seed (and
  * is timed as set-up), `run` measures and checks.
  */
trait Workload {
  type Inputs
  def setup(spark: SparkSession, seed: Long, dir: String): Inputs
  def run(ctx: Ctx, in: Inputs): Unit
  /** One unit of the batch phase. */
  def unit(ctx: Ctx, in: Inputs): Unit
  def teardown(spark: SparkSession, in: Inputs): Unit = ()

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, since(t0))
  }
}
