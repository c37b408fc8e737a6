package perfbench

import Tracer.SpanReport

/** The traced run's output: the spans file and the per-layer metrics.
  * A layer the workload does not exercise reports 0.
  */
object TraceOut {

  /** Per-layer metric -> unit; the names match BENCHMARK.json. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.grid.scan_ms" -> "ms", "sources.grid.cells_per_s" -> "1/s",
    "agri.hourly_ms" -> "ms", "agri.daily_ms" -> "ms",
    "agri.shuffle_bytes" -> "bytes", "sources.write_partitioned_ms" -> "ms",
    "sources.jdbc_upsert.hourly.first_ms" -> "ms",
    "sources.jdbc_upsert.hourly.rerun_ms" -> "ms",
    "sources.jdbc_upsert.daily.first_ms" -> "ms",
    "sources.jdbc_upsert.daily.rerun_ms" -> "ms",
    "serving.refresh_ms" -> "ms", "serving.keys_ms" -> "ms",
    "serving.range_ms" -> "ms", "serving.wide_ms" -> "ms",
    "serving.kpi_ms" -> "ms", "serving.jobs_per_query" -> "count",
    "serving.driver_gap_ms" -> "ms",
    "text.quality_ms" -> "ms", "text.repetition_ms" -> "ms",
    "text.split_ms" -> "ms", "dedup.exact_ms" -> "ms",
    "dedup.decontaminate_ms" -> "ms", "dedup.pairs_ms" -> "ms",
    "dedup.groups_ms" -> "ms", "dedup.groups_jobs" -> "count",
    "dedup.edges" -> "count", "dedup.components" -> "count",
    "stream.batches" -> "count", "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.jobs_per_batch" -> "count",
    "similarity.index_ms" -> "ms", "similarity.index_jobs" -> "count",
    "similarity.search_ms" -> "ms", "similarity.search_jobs" -> "count",
    "similarity.recall" -> "frac",
    "cache.live_rdds_after" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.tasks_per_job" -> "count", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "trace.overhead_s" -> "s")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-layer values from the span reports and the workload's own
    * samples, plus the measured tracing overhead.
    */
  def metrics(reports: Seq[SpanReport], samples: String => Seq[Double],
      overheadS: Double): Map[String, Double] = {
    def named(n: String) = reports.filter(_.span.name == n)
    def wall(n: String) = med(named(n).map(_.wallMs))
    def counter(n: String, k: String) = med(named(n).map(_(k)))
    val queries = Seq("keys", "range", "wide", "kpi").flatMap(s => named(s"serving.$s"))
    val drains = named("stream.drain")
    val top = reports.filter(_.span.parent < 0)
    def total(k: String) = top.map(_(k)).sum
    val scanMs = wall("sources.grid.scan")
    val batches = samples("stream.batches").sum
    Map(
      "sources.grid.scan_ms" -> scanMs,
      "sources.grid.cells_per_s" -> (if (scanMs > 0)
        med(named("sources.grid.scan").map(_("cells"))) / (scanMs / 1000) else 0.0),
      "agri.hourly_ms" -> wall("agri.hourly"),
      "agri.daily_ms" -> wall("agri.daily"),
      "agri.shuffle_bytes" -> (counter("agri.hourly", "shuffle_write_bytes") +
        counter("agri.daily", "shuffle_write_bytes")),
      "sources.write_partitioned_ms" -> wall("sources.write_partitioned"),
      "serving.refresh_ms" -> wall("serving.refresh"),
      "serving.jobs_per_query" -> (if (queries.isEmpty) 0.0
        else queries.map(_("jobs")).sum / queries.size),
      "serving.driver_gap_ms" -> med(queries.map(_("driver_gap_ms"))),
      "dedup.groups_jobs" -> counter("dedup.groups", "jobs"),
      "stream.batches" -> med(samples("stream.batches")),
      "stream.add_batch_ms" -> med(samples("stream.add_batch_ms")),
      "stream.planning_ms" -> med(samples("stream.planning_ms")),
      "stream.wal_commit_ms" -> med(samples("stream.wal_commit_ms")),
      "stream.jobs_per_batch" -> (if (batches > 0) drains.map(_("jobs")).sum / batches else 0.0),
      "similarity.index_jobs" -> counter("similarity.index", "jobs"),
      "similarity.search_jobs" -> counter("similarity.search", "jobs"),
      "similarity.recall" -> med(samples("similarity.recall")),
      "dedup.edges" -> med(samples("dedup.edges")),
      "dedup.components" -> med(samples("dedup.components")),
      "cache.live_rdds_after" -> samples("cache.live_rdds_after").maxOption.getOrElse(0.0),
      "spark.jobs" -> total("jobs"), "spark.tasks" -> total("tasks"),
      "spark.tasks_per_job" -> (if (total("jobs") > 0) total("tasks") / total("jobs") else 0.0),
      "spark.executor_run_ms" -> total("executor_run_ms"),
      "spark.executor_cpu_ms" -> total("executor_cpu_ms"),
      "spark.shuffle_read_bytes" -> total("shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> total("shuffle_write_bytes"),
      "spark.spill_bytes" -> total("spill_bytes"), "spark.gc_ms" -> total("gc_ms"),
      "spark.driver_gap_ms" -> total("driver_gap_ms"),
      "trace.overhead_s" -> overheadS
    ) ++ Seq("sources.jdbc_upsert.hourly.first", "sources.jdbc_upsert.hourly.rerun",
      "sources.jdbc_upsert.daily.first", "sources.jdbc_upsert.daily.rerun",
      "serving.keys", "serving.range", "serving.wide", "serving.kpi",
      "text.quality", "text.repetition", "text.split", "dedup.exact",
      "dedup.decontaminate", "dedup.pairs", "dedup.groups",
      "similarity.index", "similarity.search").map(n => s"${n}_ms" -> wall(n))
  }

  /** Add the per-layer metrics to the result, write every span with
    * its counters to `path`, and print a self-time table to stderr.
    */
  def write(ctx: Ctx, reports: Seq[SpanReport], path: String,
      overheadS: Double): Unit = {
    val r = ctx.result
    val m = metrics(reports, n => r.samples.get(n).map(_.toSeq).getOrElse(Nil), overheadS)
    PerLayer.foreach { case (n, u) => r.metric(n, m(n), u) }
    val lines = reports.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
      s"""{"id": ${s.span.id}, "name": "${s.span.name}", "parent": ${s.span.parent}, """ +
        s""""run_id": "${s.span.runId}", "start_ns": ${s.span.startNs}, """ +
        s""""end_ns": ${s.span.endNs}, "thread": "${s.span.thread}", """ +
        s""""wall_ms": ${s.wallMs}, "self_ms": ${s.selfMs}, ${cs.mkString(", ")}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    r.artifacts("spans") = path
    System.err.println(f"${"span"}%-40s ${"n"}%5s ${"wall_ms"}%12s ${"self_ms"}%12s ${"jobs"}%8s")
    reports.groupBy(_.span.name).toSeq.sortBy(-_._2.map(_.selfMs).sum).foreach { case (n, ss) =>
      System.err.println(f"$n%-40s ${ss.size}%5d ${ss.map(_.wallMs).sum}%12.1f " +
        f"${ss.map(_.selfMs).sum}%12.1f ${ss.map(_("jobs")).sum}%8.0f")
    }
  }
}
