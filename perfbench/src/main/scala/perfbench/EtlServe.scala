package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.AgriOps
import graft.serving.MartServing
import graft.sources.Sources

/** The reference ETL as a closed loop, in rounds of two phases. The
  * batch phase: one driver thread runs a whole cycle — grid scan,
  * hourly mart written region/year/month, daily mart, two JDBC upserts
  * of each mart into in-memory Derby (the rerun is all updates),
  * serving refresh. The request phase: three dashboard clients send the
  * four MartServing shapes while a writer upserts one new day and
  * refreshes every second.
  *
  * In the request phase each refresh registers a new versioned serving name and
  * drops the version three refreshes old, so a read never meets the
  * window in which `MartServing.refresh` has dropped the view it
  * re-creates. With `--race 1` the writer refreshes one name in place
  * instead, which shows that defect as failed reads.
  */
object EtlServe extends Workload {
  val Regions = 8
  val Days = 15
  val GridSide = 8
  val Clients = 3
  val MinQueries = 200
  val MaxQueries = 999
  /** Measured rounds: one ETL cycle, then one block of dashboards. */
  val Rounds = 3
  val RefreshEveryMs = 1000L

  final case class Inputs(grid: Gen.GridParams, url: String, dir: String,
      hourlyCols: Seq[StructField])

  /** The name a cycle serves the daily mart under. */
  val Served = "daily_mart"

  val props: java.util.Properties = {
    // A string key staged by Spark's JDBC writer becomes a CLOB on
    // Derby, which MERGE cannot compare with the target's VARCHAR: the
    // staging DDL is pinned through the public props argument.
    val p = new java.util.Properties()
    p.setProperty("createTableColumnTypes", "REGION VARCHAR(32)")
    p
  }

  def gridFrame(spark: SparkSession, g: Gen.GridParams): DataFrame =
    spark.read.format("graft-grid").options(g.options).load()

  private def sqlType(t: DataType): String = t match {
    case StringType => "VARCHAR(32)"
    case TimestampType => "TIMESTAMP"
    case DoubleType => "DOUBLE"
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case other => throw new IllegalArgumentException(s"no Derby type for $other")
  }

  private def exec(url: String, sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
    finally c.close()
  }

  def setup(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val g = Gen.grid(seed, Regions, Days, GridSide, GridSide)
    val hourly = AgriOps.hourlyFromGrid(gridFrame(spark, g))
    val daily = AgriOps.dailyFromHourly(hourly)
    val url = s"jdbc:derby:memory:perfbench_${dir.hashCode.abs};create=true"
    Seq(("HOURLY", hourly.schema, "region, ts"),
      ("DAILY", daily.schema, "region, day")).foreach { case (t, s, k) =>
      val cols = s.fields.map(f => s"${f.name} ${sqlType(f.dataType)}" +
        (if (k.contains(f.name)) " NOT NULL" else ""))
      exec(url, s"CREATE TABLE $t (${cols.mkString(", ")}, PRIMARY KEY ($k))")
    }
    Inputs(g, url, dir, hourly.schema.fields.toSeq)
  }

  override def teardown(spark: SparkSession, in: Inputs): Unit = {
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("daily_mart")).foreach(MartServing.unregister(spark, _))
    try java.sql.DriverManager.getConnection(
      in.url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // drop reports by throwing
  }

  /** Upsert `mart` into `table`. The staged MERGE names columns
    * unquoted, which Derby folds to upper case, so the frame's columns
    * are upper-cased first (the caller contract the library's own spec
    * follows).
    */
  def upsert(mart: DataFrame, url: String, table: String, keys: Seq[String]): Unit =
    Sources.writeJdbcUpsert(mart.toDF(mart.columns.map(_.toUpperCase): _*), url, table,
      keys.map(_.toUpperCase), props)

  def storeFrame(spark: SparkSession, in: Inputs, table: String): DataFrame =
    spark.read.jdbc(in.url, table, props)

  /** One whole ETL cycle over `grid`, served in place as [[Served]]
    * (no reader runs beside a cycle); returns the daily mart as Spark
    * computed it.
    */
  def cycle(ctx: Ctx, in: Inputs, grid: Gen.GridParams): DataFrame = {
    val spark = ctx.spark
    exec(in.url, "DELETE FROM HOURLY")
    exec(in.url, "DELETE FROM DAILY")
    val hourlyDir = s"${in.dir}/hourly"
    ctx.span("sources.write_partitioned") {
      val hourly = AgriOps.hourlyFromGrid(gridFrame(spark, grid))
      Sources.writePartitioned(
        hourly.withColumn("year", year(col("ts"))).withColumn("month", month(col("ts"))),
        hourlyDir, Seq("region", "year", "month"))
    }
    val hourly = spark.read.parquet(hourlyDir).drop("year", "month")
      .select(in.hourlyCols.map(f => col(f.name)): _*)
    val daily = AgriOps.dailyFromHourly(hourly)
    for ((mart, table, keys) <- Seq((hourly, "HOURLY", Seq("region", "ts")),
        (daily, "DAILY", Seq("region", "day")));
        run <- Seq("first", "rerun"))
      ctx.span(s"sources.jdbc_upsert.${table.toLowerCase}.$run") {
        upsert(mart, in.url, table, keys)
      }
    ctx.span("serving.refresh") {
      MartServing.refresh(spark, storeFrame(spark, in, "DAILY"), Served)
    }
    daily
  }

  def unit(ctx: Ctx, in: Inputs): Unit = ctx.call(cycle(ctx, in, in.grid))

  private def sortedRows(df: DataFrame, cols: Seq[String]): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.toString)

  def run(ctx: Ctx, in: Inputs): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    // A warm-up cycle over one region-day runs the same plans, so the
    // code they need is generated and compiled before anything is timed.
    r.must(ctx.call(cycle(ctx, in, in.grid.copy(regions = in.grid.regions.take(1), days = 1))))
    // Measured: rounds of one ETL cycle and then one block of dashboards
    // beside the writer, so that each metric's samples spread over the
    // whole measured time and a shared host's drifting speed weighs
    // alike on both. No dashboard runs beside a cycle.
    val walls = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    var dashWall = 0.0
    var day = 0
    for (round <- 0 until Rounds) {
      val (daily, dt) = timed(ctx.span("etl.cycle") {
        r.must(ctx.call(cycle(ctx, in, in.grid)))
      })
      walls += dt
      if (round == 0) checkCycle(ctx, in, daily)
      val (ms, wall, days) = dashboards(ctx, in, round, day)
      lat ++= ms
      dashWall += wall
      day += days
    }
    r.metric("batch_s", Stats.median(walls.toSeq), "s")
    Main.log(s"${walls.size} ETL cycles and ${lat.size} dashboard queries done; " +
      s"tail is p${Stats.tail(lat.toSeq).map(_._1).getOrElse(100.0)}")
    // the highest percentile with ten samples beyond it (p95 here)
    r.requests(lat.toSeq, Stats.tail(lat.toSeq).map(_._2).getOrElse(lat.max), dashWall)
    if (ctx.traced) layerProbes(ctx, in)
  }

  /** Checks after a cycle: the store after the rerun upsert equals each
    * mart, and the served kpiRow equals the daily mart's.
    */
  private def checkCycle(ctx: Ctx, in: Inputs, daily: DataFrame): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    val hourlyNow = spark.read.parquet(s"${in.dir}/hourly").drop("year", "month")
    for ((mart, table) <- Seq((hourlyNow, "HOURLY"), (daily, "DAILY"))) {
      val cols = mart.columns.toSeq
      val a = sortedRows(mart, cols)
      val b = sortedRows(storeFrame(spark, in, table), cols.map(_.toUpperCase))
      r.check(s"derby_${table.toLowerCase}_equals_mart", a == b,
        s"${a.size} mart rows vs ${b.size} store rows")
    }
    val kpiMart = daily.agg(count(lit(1)), countDistinct(col("region")),
      min(col("day")), max(col("day"))).head()
    val kpiServed = MartServing.kpiRow(spark, Served, "region", "day").head()
    r.check("served_kpi_equals_mart", kpiMart == kpiServed,
      s"mart $kpiMart vs served $kpiServed")
  }

  /** Round `round`'s block of dashboards beside the writer, starting
    * from the mart a cycle just served as [[Served]]. The writer's first
    * new day is `firstDay` (counted after the grid's window). Returns
    * the answered queries' latencies (ms), the block's wall (s) and the
    * number of new days the writer took.
    */
  private def dashboards(ctx: Ctx, in: Inputs, round: Int,
      firstDay: Int): (Seq[Double], Double, Int) = {
    val spark = ctx.spark
    val r = ctx.result
    val budget = 0.6 * ctx.seconds / Rounds
    val hardStop = System.nanoTime() + (3 * budget * 1e9).toLong
    val served = new AtomicReference(Served)
    val done = new AtomicBoolean(false)
    val nQueries = new AtomicInteger(0)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val versions = mutable.Queue.empty[String]
    val refreshed = new AtomicInteger(0)
    val written = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val writer = new Thread(() => {
      var i = firstDay
      while (!done.get) {
        Thread.sleep(RefreshEveryMs)
        if (!done.get) {
          r.attempt(ctx.span("sources.jdbc_upsert.daily.new_day") {
            upsert(AgriOps.dailyFromHourly(AgriOps.hourlyFromGrid(
              gridFrame(spark, in.grid.nextDay(i)))), in.url, "DAILY", Seq("region", "day"))
          })
          val name = if (ctx.race) Served else s"daily_mart_$i"
          r.attempt(ctx.span("serving.refresh") {
            MartServing.refresh(spark, asOf(spark, in, Days + i), name)
          }).foreach { _ =>
            refreshed.set(i - firstDay + 1)
            if (!ctx.race) {
              served.set(name)
              versions.enqueue(name)
              if (versions.size > 3) MartServing.unregister(spark, versions.dequeue())
            }
          }
          i += 1
          written.set(i - firstDay)
        }
      }
    }, "perfbench-writer")
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val reqs = Gen.requests(ctx.seed, round * Clients + c, in.grid.regions, Days)
        while (!done.get) {
          val q = reqs.next()
          val t = System.nanoTime()
          r.attempt(ctx.span(s"serving.${q.shape}") {
            query(spark, served.get, in.grid, q).collect()
          }).foreach(_ => lat.add(since(t) * 1000))
          val n = nQueries.incrementAndGet()
          // the run's sample stays in [MinQueries, MaxQueries], so the
          // tail is the same percentile (p95) in every run; the --race
          // diagnostic runs on the clock alone
          if ((since(t0) >= budget && n >= MinQueries / Rounds + 1) ||
              (n >= MaxQueries / Rounds - Clients && !ctx.race) || System.nanoTime() > hardStop)
            done.set(true)
        }
      }, s"perfbench-client-$c")
    }
    (writer +: clients).foreach(_.start())
    (writer +: clients).foreach(_.join())
    val wall = since(t0)
    // Check: the mart served last holds every day the writer loaded.
    if (refreshed.get > 0) {
      val want = asOf(spark, in, Days + firstDay + refreshed.get - 1).count()
      val got = MartServing.kpiRow(spark, served.get, "region", "day").head().getLong(0)
      r.check("served_mart_is_fresh", got == want, s"served $got rows, store holds $want")
    }
    versions.foreach(MartServing.unregister(spark, _))
    (lat.asScala.toSeq, wall, written.get)
  }

  private def dayTs(g: Gen.GridParams, i: Int): String =
    java.time.LocalDate.parse(g.start).plusDays(i).toString + " 00:00:00"

  /** The store's daily mart as of day `last` (counted from the grid's
    * start). The predicate also gives each version its own plan:
    * Spark's cache matches plans, so two names over the same plan
    * would share one cache entry, and the first `persist` would keep
    * serving the old rows.
    */
  def asOf(spark: SparkSession, in: Inputs, last: Int): DataFrame =
    storeFrame(spark, in, "DAILY").filter(col("day") <= to_timestamp(lit(dayTs(in.grid, last))))

  /** The dashboard request `q` against serving name `name`. */
  def query(spark: SparkSession, name: String, g: Gen.GridParams,
      q: Gen.Query): DataFrame = {
    def day(i: Int) = dayTs(g, i)
    q match {
      case Gen.Keys => MartServing.keys(spark, name, "region")
      case Gen.Range(rs, a, b) =>
        MartServing.rangeLoad(spark, name, "region", rs, "day", day(a), day(b))
      case Gen.Wide(rs, m) => MartServing.wideSeries(spark, name, "region", rs, "day", m)
      case Gen.Kpi => MartServing.kpiRow(spark, name, "region", "day")
    }
  }

  /** Traced runs only: each layer of the cycle run on its own, forced
    * through the noop sink, so its time is not hidden inside the write
    * that consumes it.
    */
  def layerProbes(ctx: Ctx, in: Inputs): Unit = {
    val spark = ctx.spark
    val cells = in.grid.regions.size.toDouble * in.grid.days * 24 * in.grid.nLat * in.grid.nLon
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    for (_ <- 1 to 2) {
      ctx.span("sources.grid.scan", Map("cells" -> cells)) {
        noop(gridFrame(spark, in.grid))
      }
      ctx.span("agri.hourly") {
        noop(AgriOps.hourlyFromGrid(gridFrame(spark, in.grid)))
      }
      ctx.span("agri.daily") {
        noop(AgriOps.dailyFromHourly(
          spark.read.parquet(s"${in.dir}/hourly").drop("year", "month")))
      }
    }
  }
}
