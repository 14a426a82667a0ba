package graftbench

import graft.meta.{MetaTable, Metastore}
import graft.offset.{OffsetInfo, OffsetManager, OffsetStore, OffsetValue}
import graft.sources.{GraftSource, IngestionJob, SparkSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Paths, StandardCopyOption, Files => JFiles}
import java.time.LocalDate

/** What one landing of the feed reports back. */
final case class FeedOut(attempted: Int, failed: Int, ingestS: Double, ingested: Long, files: Int)

/** An offset-incremental event feed with a dashboard over it. `batches`
  * equal batches of `perBatch` events (one base batch replicated with
  * shifted `event_id`s), `perDay` of them appended to each info date
  * from `day0` on. Landing a batch is `IngestionJob.ingestIncremental`
  * from a `SparkSource` with an `event_id` offset column into a
  * day-partitioned table, with an on-disk `OffsetManager`; after each
  * batch the dashboard runs `Metastore.getTable` over every landed date,
  * `getLatest` and `listAvailableDates`. Writes stay constant per batch
  * while the dashboard's reads grow with every landed batch. */
final class EventFeed(val batches: Int, perBatch: Long, day0: LocalDate, perDay: Int) {
  private var spark: SparkSession = _
  private var inputs: String = _
  /** Expected (event_type -> (count, decimal value sum)) per batch. */
  private var perBatchAgg: Map[Int, Map[String, (Long, BigDecimal)]] = Map.empty
  private var last: Option[(Metastore, OffsetStore)] = None

  def rows: Long = batches * perBatch
  def dayOf(k: Int): LocalDate = day0.plusDays(k / perDay)

  /** All batches in one write: `staging/batch=<k>/` holds batch k as
    * `cores` files of consecutive event ids. */
  def generate(spark: SparkSession, inputs: String, seed: Long, cores: Int): Unit =
    (0 until batches).map(k => Data.eventBatch(spark, seed, k, perBatch, day0, cores)
        .withColumn("batch", lit(k)))
      .reduce(_ unionByName _)
      .repartitionByRange(cores * batches, col("event_id"))
      .write.partitionBy("batch").parquet(s"$inputs/staging")

  def setup(spark: SparkSession, inputs: String): Unit = {
    this.spark = spark
    this.inputs = inputs
    perBatchAgg = spark.read.parquet(s"$inputs/staging")
      .groupBy(col("batch"), col("event_type"))
      .agg(count(lit(1)), sum(col("value").cast("decimal(18,2)")))
      .collect().toSeq
      .groupBy(_.getInt(0))
      .map { case (b, rs) => b -> rs.map(r => r.getString(1) -> (r.getLong(2), BigDecimal(r.getDecimal(3)))).toMap }
  }

  /** Expected per-type aggregate over batches [0, to]. */
  private def expected(to: Int): Map[String, (Long, BigDecimal)] =
    (0 to to).flatMap(perBatchAgg(_)).groupBy(_._1).map { case (t, xs) =>
      t -> (xs.map(_._2._1).sum, xs.map(_._2._2).sum) }

  private def aggregate(df: DataFrame): Map[String, (Long, BigDecimal)] =
    df.groupBy("event_type").agg(count(lit(1)), sum(col("value").cast("decimal(18,2)")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  /** Moves the part files of staged batch `k` into the source directory,
    * or back: a rename, so landing costs no copy. */
  private def move(k: Int, srcDir: String, toSource: Boolean): Unit = {
    val staged = Paths.get(s"$inputs/staging/batch=$k")
    val ls = JFiles.list(if (toSource) staged else Paths.get(srcDir))
    try ls.iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (toSource && n.startsWith("part-") && n.endsWith(".parquet"))
        JFiles.move(p, Paths.get(srcDir, s"b$k-$n"), StandardCopyOption.ATOMIC_MOVE)
      else if (!toSource && n.startsWith(s"b$k-"))
        JFiles.move(p, staged.resolve(n.stripPrefix(s"b$k-")), StandardCopyOption.ATOMIC_MOVE)
    } finally ls.close()
  }

  /** Lands every batch with fresh state under `state`, checking each
    * batch's row count and every dashboard read as it goes. */
  def land(state: String, spans: Option[Spans]): FeedOut = {
    val srcDir = s"$state/source"
    JFiles.createDirectories(Paths.get(srcDir))
    val ms = new Metastore(spark)
    ms.register(MetaTable("events", s"$state/ms/events"))
    val om = new OffsetManager(Some(s"$state/offsets"))
    val offsets: OffsetStore = spans.fold(om: OffsetStore)(new TracedOffsets(om, _))
    val plainSource = new SparkSource(spark, srcDir, "parquet",
      offsetInfo = Some(OffsetInfo("event_id", "integral")))
    val source: GraftSource = spans.fold(plainSource: GraftSource)(new TracedSource(plainSource, _))
    val ingest = new IngestionJob(source, ms, offsets)
    val sc = spark.sparkContext
    def timed[T](key: String)(body: => T): T = spans.fold(body)(_.time(key)(body))

    var failed = 0
    var ingested = 0L
    var ingestS = 0.0
    (0 until batches).foreach { k =>
      val d = dayOf(k)
      move(k, srcDir, toSource = true)
      val t0 = System.nanoTime()
      sc.setJobGroup(s"bench-ingest-$k", "bench: incremental ingest", interruptOnCancel = false)
      val stats = try ingest.ingestIncremental("events", d) finally sc.clearJobGroup()
      ingestS += (System.nanoTime() - t0) / 1e9
      ingested += stats.recordCount
      if (stats.recordCount != perBatch) failed += 1

      val all = timed("meta.read")(aggregate(ms.getTable("events", Some(day0), Some(d))))
      if (all != expected(k)) failed += 1
      val latest = timed("meta.read")(ms.getLatest("events").agg(count(lit(1)), max("event_id")).head())
      if (latest.getLong(0) != (k % perDay + 1) * perBatch || latest.getLong(1) != (k + 1) * perBatch - 1)
        failed += 1
      val dates = timed("meta.list")(ms.listAvailableDates("events"))
      if (dates != (0 to k).map(dayOf).distinct) failed += 1
    }
    val files = (0 until batches).map(dayOf).distinct.map(ms.partitionFileCount("events", _)).sum
    (0 until batches).foreach(k => move(k, srcDir, toSource = false))
    last = Some((ms, om))
    // per batch: an ingest and three dashboard reads
    FeedOut(attempted = batches * 4, failed = failed, ingestS = ingestS, ingested = ingested,
      files = files)
  }

  /** Every event of the last landing landed exactly once and the
    * committed offset is the highest `event_id`. */
  def check(): Seq[String] = last match {
    case None => Seq("feed: never landed")
    case Some((ms, om)) =>
      val r = ms.getTable("events", Some(day0), Some(dayOf(batches - 1)))
        .agg(count(lit(1)), countDistinct("event_id"), max("event_id")).head()
      val failures = Seq.newBuilder[String]
      if (r.getLong(0) != rows || r.getLong(1) != rows)
        failures += s"feed: ${r.getLong(0)} rows / ${r.getLong(1)} distinct ids landed, expected $rows once each"
      val committed = om.getLatestOffset("events")
      if (committed != Some(OffsetValue.IntegralValue(r.getLong(2))) || r.getLong(2) != rows - 1)
        failures += s"feed: committed offset $committed, max event_id ${r.getLong(2)}"
      failures.result()
  }
}
