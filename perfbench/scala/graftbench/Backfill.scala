package graftbench

import graft.meta.Metastore
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** `--date-from/--date-to` FillGaps backfill of a config-driven 5-job
  * daily pipeline over 2 info dates, with a text bookkeeping journal
  * on disk and fresh state each pass: two `spark`-source ingestions, a
  * `sql` join/aggregate, a `SummaryTransformer` job and a `localcsv`
  * sink — 10 tasks a pass. Then the same dates' offset-incremental
  * event feed lands, one batch of 50k a day, each followed by the
  * dashboard reads (see [[EventFeed]]). */
final class Backfill extends Workload {
  private val From = LocalDate.of(2024, 3, 1)
  private val Days = 2
  private val To = From.plusDays(Days - 1)
  val Tasks = 5 * Days

  private var spark: SparkSession = _
  private var inputs: String = _
  private var dir: String = _
  private var rows = 0L
  private var lastState: Option[String] = None
  private val feed = new EventFeed(batches = 2, perBatch = 50000L, day0 = From, perDay = 1)

  override def inputRows: Long = rows + feed.rows

  override def generate(spark: SparkSession, inputs: String, seed: Long, cores: Int): Unit = {
    // one day either side of the window, so the source date filter matters
    val (orders, lineitem) = Data.ordersAndLineitem(spark, seed, From.minusDays(1), To.plusDays(1))
    orders.coalesce(1).write.parquet(s"$inputs/src/orders")
    lineitem.coalesce(1).write.parquet(s"$inputs/src/lineitem")
    feed.generate(spark, inputs, seed, cores)
  }

  override def setup(spark: SparkSession, inputs: String, dir: String, cores: Int): Unit = {
    this.spark = spark
    this.inputs = inputs
    this.dir = dir
    val inWindow = (c: String) => col(c).between(java.sql.Date.valueOf(From), java.sql.Date.valueOf(To))
    rows = spark.read.parquet(s"$inputs/src/orders").where(inWindow("o_orderdate")).count() +
      spark.read.parquet(s"$inputs/src/lineitem").where(inWindow("l_shipdate")).count()
    feed.setup(spark, inputs)
  }

  private val RevenueSql =
    "SELECT o.o_orderpriority AS priority, count(*) AS n_lines, " +
      "sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS revenue " +
      "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY o.o_orderpriority"

  private def config(state: String): String =
    s"""pipeline.name = backfill
       |bookkeeping.text.path = $state/bk
       |table.orders.path = $state/ms/orders
       |table.lineitem.path = $state/ms/lineitem
       |table.daily_rev.path = $state/ms/daily_rev
       |table.li_summary.path = $state/ms/li_summary
       |source.orders_src.type = spark
       |source.orders_src.path = $inputs/src/orders
       |source.orders_src.format = parquet
       |source.orders_src.info.date.column = o_orderdate
       |source.lineitem_src.type = spark
       |source.lineitem_src.path = $inputs/src/lineitem
       |source.lineitem_src.format = parquet
       |source.lineitem_src.info.date.column = l_shipdate
       |sink.export.type = localcsv
       |sink.export.path = $state/export
       |job.1.name = ingest_orders
       |job.1.type = ingestion
       |job.1.source = orders_src
       |job.1.output = orders
       |job.2.name = ingest_lineitem
       |job.2.type = ingestion
       |job.2.source = lineitem_src
       |job.2.output = lineitem
       |job.3.name = revenue
       |job.3.transformer = sql
       |job.3.inputs = orders, lineitem
       |job.3.sql = $RevenueSql
       |job.3.output = daily_rev
       |job.4.name = summary
       |job.4.transformer = graft.pipeline.SummaryTransformer
       |job.4.inputs = lineitem
       |job.4.output = li_summary
       |job.4.option.input.table = lineitem
       |job.4.option.distinct.column = l_partkey
       |job.4.option.value.column = l_extendedprice
       |job.4.option.item.column = l_returnflag
       |job.5.name = export
       |job.5.type = sink
       |job.5.input = daily_rev
       |job.5.sink = export
       |""".stripMargin

  private val Params = RunParams.Historical(From, To, RunMode.FillGaps)

  override def pass(i: Int, tracer: Option[Tracer]): PassOut = {
    val state = s"$dir/pass-$i"
    val parsed0 = PipelineConfig.parse(config(state))
    val (parsed, bk, notifiers) = tracer match {
      case None => (parsed0, new Bookkeeper(), Nil)
      case Some(t) =>
        // the same text journal, opened here so the traced wrapper sits around it
        (parsed0.copy(jobs = Traced.jobs(parsed0.jobs, t.spans), textBookkeepingPath = None),
          new TracedBookkeeper(new BookkeeperText(spark, s"$state/bk"), t.spans),
          Seq(new TracedNotifier(t.spans)))
    }
    tracer.foreach(_.begin())
    val t0 = System.nanoTime()
    val results = PipelineConfig.runParams(spark, parsed, Params, bookkeeper = bk, notifiers = notifiers)
    val runWall = (System.nanoTime() - t0) / 1e9
    val landed = feed.land(s"$state/feed", tracer.map(_.spans))
    val wall = (System.nanoTime() - t0) / 1e9

    val records = new BookkeeperText(spark, s"$state/bk").all
    val ok = records.filter(_.status == "succeeded")
    val badTasks = results.count {
      case _: TaskResult.Failed | _: TaskResult.NotReady => true
      case _ => false
    }
    val missing = math.max(0, Tasks - ok.size)
    val layers = tracer.map(t => traced(t, parsed, results, landed, state, runWall, wall))
      .getOrElse(Map.empty)
    // earlier passes' state stays until the run ends: deleting it between
    // passes would leave the file system busy during the next one
    lastState = Some(state)
    PassOut(wall, ok.map(r => (r.finishedAtMs - r.startedAtMs) / 1e3),
      attempted = Tasks + landed.attempted, failed = math.max(badTasks, missing) + landed.failed,
      layers = layers)
  }

  private def traced(t: Tracer, parsed: PipelineConfig.Parsed, results: Seq[TaskResult],
                     landed: FeedOut, state: String, runWall: Double,
                     wall: Double): Map[String, Double] = {
    val sinkTables = parsed.jobs.filter(_.sink.isDefined).map(_.outputTable).toSet
    val ingestTables = parsed.jobs.filter(_.name.startsWith("ingest_")).map(_.outputTable).toSet
    val saved = results.collect { case s: TaskResult.Succeeded if !sinkTables(s.table) => s }
    val js = t.passJobs(wall)
    // the pipeline's ingestion task groups and the feed's ingest groups
    val sourceJobs = js.filter(j => Tracer.taskJob(j).exists(_.startsWith("ingest_")) ||
      j.group.startsWith("bench-ingest-"))
    val rowsRead = sourceJobs.map(_.inputRows).sum.toDouble
    val rowsIngested = saved.filter(s => ingestTables(s.table)).map(_.records).sum.toDouble +
      landed.ingested
    val ms = new Metastore(spark)
    parsed.tables.foreach(ms.register)
    val pipeline = t.pipelineLayer(runWall)
    val feedPlan = t.spans.seconds("sources.feed_plan")
    t.sparkLayer(wall) ++ pipeline ++ t.sinksLayer ++ t.offsetLayer ++
      t.operatorsLayer(wall, 0.0) ++ Map(
      "meta.saves" -> (saved.size + feed.batches).toDouble,
      // task wall minus transformer and sink time, plus the feed's ingest
      // wall minus source planning and offset-store calls
      "meta.save_s" -> math.max(0.0, pipeline("pipeline.task_s") - t.transformerS -
        t.spans.seconds("sinks.send") + landed.ingestS - feedPlan - t.spans.seconds("offset")),
      "meta.rows_written" -> (saved.map(_.records).sum + landed.ingested).toDouble,
      "meta.files_written" ->
        (saved.map(s => ms.partitionFileCount(s.table, s.infoDate)).sum + landed.files).toDouble,
      "meta.bytes_written" -> (Files.bytesUnder(s"$state/ms") + Files.bytesUnder(s"$state/feed/ms")).toDouble,
      "meta.read_calls" -> t.spans.calls("meta.read"),
      "meta.read_s" -> t.spans.seconds("meta.read"),
      "meta.list_s" -> t.spans.seconds("meta.list"),
      "sources.plan_s" -> (t.spans.seconds("sources.plan") + feedPlan),
      "sources.rows_read" -> rowsRead,
      "sources.read_amplification" -> (if (rowsIngested > 0) rowsRead / rowsIngested else 0.0),
      "expr.summary_in_job_s" -> t.inJob(js.filter(j => Tracer.taskJob(j).contains("summary")), wall))
  }

  /** Direct DataFrame computation of the revenue job over the source. */
  private def directRevenue(): DataFrame = {
    val o = spark.read.parquet(s"$inputs/src/orders")
    val l = spark.read.parquet(s"$inputs/src/lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("l_shipdate") === o("o_orderdate"))
      .where(col("l_shipdate").between(java.sql.Date.valueOf(From), java.sql.Date.valueOf(To)))
      .groupBy(col("l_shipdate").as("day"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")).as("revenue"))
  }

  private def rowsOf(df: DataFrame): Set[String] =
    df.select(col("day").cast("string"), col("priority"), col("n_lines").cast("long"),
        col("revenue").cast("decimal(18,4)").cast("string"))
      .collect().map(_.mkString("|")).toSet

  override val checks = 8

  override def check(): Seq[String] = {
    val state = lastState.getOrElse(return Seq("backfill: no pass ran"))
    val failures = Seq.newBuilder[String]
    val ok = new BookkeeperText(spark, s"$state/bk").all.count(_.status == "succeeded")
    if (ok != Tasks) failures += s"backfill: $ok succeeded bookkeeping records, expected $Tasks"

    // a second FillGaps invocation over the same state schedules nothing
    // (its dry-run plan, read from the same on-disk journal)
    val parsed = PipelineConfig.parse(config(state))
    val ms = new Metastore(spark)
    parsed.tables.foreach(ms.register)
    val rescheduled = new Orchestrator(ms, new BookkeeperText(spark, s"$state/bk"))
      .plan(parsed.jobs, Params).map(_._2.size).sum
    if (rescheduled != 0) failures += s"backfill: second FillGaps run would schedule $rescheduled task(s)"

    val expected = rowsOf(directRevenue())
    val stored = rowsOf(ms.getTable("daily_rev", Some(From), Some(To))
      .select(col("info_date").as("day"), col("priority"), col("n_lines"), col("revenue")))
    if (stored != expected)
      failures += s"backfill: metastore daily_rev differs from the direct computation " +
        s"(${(stored diff expected).size} extra, ${(expected diff stored).size} missing rows)"
    val csv = spark.read.option("header", "true").csv(s"$state/export/daily_rev/*")
      .withColumn("day", regexp_extract(input_file_name(), "/(\\d{4}-\\d{2}-\\d{2})/", 1))
    val exported = rowsOf(csv)
    if (exported != expected)
      failures += s"backfill: CSV export differs from the direct computation " +
        s"(${(exported diff expected).size} extra, ${(expected diff exported).size} missing rows)"

    // summary sketches over the whole range: top items are exact at this
    // cardinality, the HLL distinct estimate within 5% of the exact count
    val range = ms.getTable("li_summary", Some(From), Some(To))
    val l = spark.read.parquet(s"$inputs/src/lineitem")
      .where(col("l_shipdate").between(java.sql.Date.valueOf(From), java.sql.Date.valueOf(To)))
    val top = graft.pipeline.SummaryQueries.topItemsOverRange(range, Nil, 10)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val exactTop = l.groupBy("l_returnflag").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (top != exactTop) failures += s"backfill: summary top items $top != exact $exactTop"
    val est = graft.pipeline.SummaryQueries.distinctOverRange(range, Nil).head().getAs[Number](0).doubleValue()
    val exact = l.select("l_partkey").distinct().count().toDouble
    if (math.abs(est - exact) > 0.05 * exact)
      failures += s"backfill: summary distinct estimate $est is not within 5% of $exact"
    failures ++= feed.check()
    failures.result()
  }
}
