package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{DedupOps, PipelineOps, TextOps}
import graft.streaming.StreamOps

/** Corpus curation and the streaming dedup fold over one generated
  * corpus, measured in turn. The batch phase is `PipelineOps.curate`
  * (eval set: doc_id % 20 == 0, seeded through the doc-id
  * permutation); the request phase drains
  * `StreamOps.streamingDedupIncremental` over the seeded micro-batch
  * files with `Trigger.AvailableNow`, one file per micro-batch, so
  * chain members span batches. Both phases run the closure kernel.
  * Traced runs also probe the layers curate composes, and the ANN
  * layer ([[Ann]]).
  */
object CorpusWorkload extends Workload {
  val Natural = 1000
  val Chains = 30
  val Batches = 4
  val Tau = 0.7

  final case class Inputs(dir: String)

  def setup(spark: SparkSession, seed: Long, dir: String): Inputs = {
    import spark.implicits._
    val c = Gen.corpus(seed, Natural, Chains, Batches)
    c.docs.toDF().coalesce(1).write.parquet(s"$dir/documents")
    (0 until Batches).foreach { b =>
      c.docs.filter(d => c.batchOf(d.doc_id) == b).toDF()
        .select("doc_id", "source", "text")
        .coalesce(1).write.parquet(s"$dir/fold_in/b$b")
    }
    Inputs(dir)
  }

  def documents(spark: SparkSession, in: Inputs): DataFrame =
    spark.read.parquet(s"${in.dir}/documents")

  def curate(ctx: Ctx, in: Inputs): Array[Row] = {
    val docs = documents(ctx.spark, in)
    ctx.call {
      PipelineOps.curate(docs, docs.filter(pmod(col("doc_id"), lit(20)) === 0), Tau)
        .collect()
    }
  }

  def unit(ctx: Ctx, in: Inputs): Unit = curate(ctx, in)

  /** One fold drain of the first `batches` micro-batch files in a
    * fresh workspace: per-batch progress durations and the final label
    * directory.
    */
  def drain(ctx: Ctx, in: Inputs, n: Int,
      batches: Int = Batches): (Seq[Map[String, Double]], String) = {
    val spark = ctx.spark
    val base = s"${in.dir}/fold$n"
    val input = new java.io.File(s"$base/in")
    input.mkdirs()
    // one file per micro-batch, dated in batch order
    for (b <- 0 until batches;
         f <- new java.io.File(s"${in.dir}/fold_in/b$b").listFiles()
           if f.getName.endsWith(".parquet")) {
      val to = new java.io.File(input, f"batch$b%03d.parquet")
      java.nio.file.Files.copy(f.toPath, to.toPath)
      to.setLastModified(1700000000000L + b * 1000L)
    }
    val schema = spark.read.parquet(s"${in.dir}/fold_in/b0").schema
    Main.log(s"fold drain $n starts")
    val progress = ctx.call {
      val q = StreamOps.streamingDedupIncremental(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(input.getPath),
          s"$base/corpus", s"$base/labels", Tau)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(_.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
    }
    (progress, s"$base/labels")
  }

  def run(ctx: Ctx, in: Inputs): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    // An unmeasured drain of the first two micro-batches (the second
    // folds into a non-empty corpus) generates and compiles the code
    // both kinds of call share. Calls keep getting faster for a while
    // after it (the JIT), so an unmeasured curate follows, to bring the
    // measured calls nearer steady state.
    r.must(drain(ctx, in, 0, batches = 2))
    r.must(curate(ctx, in))
    Main.log("warm-up drain and curate done")

    // Measured: fold drains and curate calls in turn (drain, curate,
    // drain, curate, drain, ...), so that each metric's samples spread
    // over the whole measured time rather than one part of it, and a
    // shared host's drifting speed weighs alike on both.
    val walls = mutable.ArrayBuffer.empty[Double]
    val outs = mutable.ArrayBuffer.empty[Set[Row]]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val slowest = mutable.ArrayBuffer.empty[Double]
    val drainWalls = mutable.ArrayBuffer.empty[Double]
    var labels = ""
    def curateOnce(): Unit = {
      val (rows, dt) = timed(r.must(ctx.span("pipeline.curate")(curate(ctx, in))))
      outs += rows.toSet
      walls += dt
    }
    def drainOnce(): Unit = {
      val ((progress, dir), dt) = timed(r.must(
        ctx.span("stream.drain")(drain(ctx, in, drainWalls.size + 1))))
      r.check("fold_batches", progress.size == Batches,
        s"${progress.size} micro-batches drained, expected $Batches")
      val ms = progress.map(_.getOrElse("triggerExecution", 0.0))
      Main.log(s"fold micro-batches took ${ms.mkString(", ")} ms")
      batchMs ++= ms
      slowest += ms.max
      for (p <- progress) {
        r.sample("stream.add_batch_ms", p.getOrElse("addBatch", 0.0))
        r.sample("stream.planning_ms", p.getOrElse("queryPlanning", 0.0))
        r.sample("stream.wal_commit_ms", p.getOrElse("walCommit", 0.0))
      }
      r.sample("stream.batches", progress.size)
      drainWalls += dt
      labels = dir
    }
    val t1 = System.nanoTime()
    drainOnce()
    while (drainWalls.size < 3 || (since(t1) < 0.8 * ctx.seconds && drainWalls.size < 10)) {
      curateOnce()
      drainOnce()
    }
    Main.log(s"${walls.size} curate calls and ${drainWalls.size} fold drains done; " +
      s"median drain ${Stats.median(drainWalls.toSeq)} s")

    r.check("curate_repeatable", outs.distinct.size == 1, "curate output changed between calls")
    r.metric("batch_s", Stats.median(walls.toSeq), "s")
    // the tail is a drain's slowest micro-batch, median over the drains:
    // a run has too few micro-batches for a percentile with ten beyond it
    r.requests(batchMs.toSeq, Stats.median(slowest.toSeq), drainWalls.sum)

    // the DuckDB oracle check runs in run.py over these two artifacts
    import spark.implicits._
    outs.head.toSeq.map(row => (row.getLong(0), row.getString(1), row.getLong(2), row.getString(3)))
      .toDF("doc_id", "source", "n_chars", "split")
      .coalesce(1).write.parquet(s"${in.dir}/curate_out")
    r.artifacts("documents") = s"${in.dir}/documents"
    r.artifacts("curate_out") = s"${in.dir}/curate_out"
    r.artifacts("curate_oracle_sql") = graft.SparkEntry.oracleSql("pipeline_curate")

    // run.py checks the folded labels against dedupGroups' DuckDB mirror
    r.artifacts("fold_labels") = labels
    r.artifacts("dedup_groups_oracle_sql") = graft.SparkEntry.oracleSql("dedup_groups")
    if (ctx.traced) {
      layerProbes(ctx, in)
      Ann.probe(ctx, s"${in.dir}/ann")
    }
  }

  /** Traced runs only: each layer curate composes, called on its own
    * over the generated corpus and forced through the noop sink, and
    * the one-shot closure the fold converges to.
    */
  def layerProbes(ctx: Ctx, in: Inputs): Unit = {
    val docs = documents(ctx.spark, in)
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    def noop(df: DataFrame): Unit = ctx.call {
      df.write.format("noop").mode("overwrite").save()
    }
    ctx.span("text.quality")(noop(TextOps.quality(docs)))
    ctx.span("text.repetition")(noop(TextOps.repetition(docs)))
    ctx.span("dedup.exact")(noop(DedupOps.exactDedup(docs)))
    val edges = ctx.span("dedup.pairs") {
      ctx.call(DedupOps.ngramJaccardPrefix(docs, Tau).count())
    }
    ctx.result.sample("dedup.edges", edges.toDouble)
    val groups = ctx.span("dedup.groups") {
      ctx.call(DedupOps.dedupGroups(docs.select("doc_id", "source", "text"), Tau)
        .filter(col("is_canonical") && col("n_members") > 1).count())
    }
    ctx.result.sample("dedup.components", groups.toDouble)
    ctx.span("dedup.decontaminate")(noop(DedupOps.decontaminate(docs, bench, 0.5)))
    ctx.span("text.split")(noop(TextOps.trainSplit(docs)))
  }
}
