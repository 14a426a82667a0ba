package graftbench

import graft.meta.{MetaTable, Metastore}
import graft.pipeline._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** q_curation_v2's job run as a one-job config pipeline: exact dedup →
  * SemDeDup → quality → lang-id → tokens → perplexity → group-safe
  * split over 1,500 seeded docs, one info date per pass. Every doc has
  * an embedding and every id % 10 == 1 embedding is its predecessor's
  * identical twin — the precondition of the gate's oracle replay,
  * which drops exactly those ids. */
final class Curation extends Workload {
  private val Day = LocalDate.of(2024, 5, 1)
  private val Docs = 1500

  private var spark: SparkSession = _
  private var inputs: String = _
  private var dir: String = _
  private var lastParsed: Option[PipelineConfig.Parsed] = None

  override def inputRows: Long = Docs

  /** The documents and embeddings, and their metastore tables. */
  override def generate(spark: SparkSession, inputs: String, seed: Long, cores: Int): Unit = {
    Data.documents(spark, seed, Docs).write.parquet(s"$inputs/documents")
    Data.embeddings(spark, seed, Docs).write.parquet(s"$inputs/embeddings")
    val ms = new Metastore(spark)
    ms.register(MetaTable("docs_raw", s"$inputs/ms/docs_raw"))
    ms.register(MetaTable("emb", s"$inputs/ms/emb"))
    // the corpus lands in as many files as the gate's (2 × 16 splits)
    ms.saveTable("docs_raw", Day, spark.read.parquet(s"$inputs/documents").repartition(32))
    ms.saveTable("emb", Day, spark.read.parquet(s"$inputs/embeddings"))
  }

  /** Registers the fixture tables and checks their partition is there. */
  override def setup(spark: SparkSession, inputs: String, dir: String, cores: Int): Unit = {
    this.spark = spark
    this.inputs = inputs
    this.dir = dir
    val ms = new Metastore(spark)
    PipelineConfig.parse(config).tables.foreach(ms.register)
    Seq("docs_raw", "emb").foreach(t =>
      require(ms.listAvailableDates(t) == Seq(Day), s"curation fixture $t has no $Day partition"))
  }

  private def config: String =
    s"""pipeline.name = curation
       |table.docs_raw.path = $inputs/ms/docs_raw
       |table.emb.path = $inputs/ms/emb
       |table.docs_cur.path = $dir/ms/docs_cur
       |job.1.name = curate
       |job.1.transformer = graft.pipeline.CurationTransformer
       |job.1.inputs = docs_raw, emb
       |job.1.output = docs_cur
       |job.1.option.input.table = docs_raw
       |job.1.option.quality.min = 0.2
       |job.1.option.semdedup.enabled = true
       |job.1.option.semdedup.table = emb
       |job.1.option.semdedup.id.column = vec_id
       |job.1.option.semdedup.threshold = 0.92
       |job.1.option.perplexity.enabled = true
       |job.1.option.split.group.safe = true
       |job.1.option.split.bucket = replayable
       |""".stripMargin

  override def pass(i: Int, tracer: Option[Tracer]): PassOut = {
    val parsed0 = PipelineConfig.parse(config)
    val plain = new Bookkeeper()
    val (parsed, bk, notifiers) = tracer match {
      case None => (parsed0, plain, Nil)
      case Some(t) => (parsed0.copy(jobs = Traced.jobs(parsed0.jobs, t.spans)),
        new TracedBookkeeper(plain, t.spans), Seq(new TracedNotifier(t.spans)))
    }
    tracer.foreach(_.begin())
    val t0 = System.nanoTime()
    val results = PipelineConfig.runParams(spark, parsed, RunParams.Rerun(Day),
      bookkeeper = bk, notifiers = notifiers)
    val wall = (System.nanoTime() - t0) / 1e9
    lastParsed = Some(parsed0)
    val ok = plain.all.filter(_.status == "succeeded")
    val failed = results.count(!_.isInstanceOf[TaskResult.Succeeded])
    val layers = tracer.map { t =>
      val ms = new Metastore(spark)
      parsed.tables.foreach(ms.register)
      val kept = results.collect { case s: TaskResult.Succeeded => s.records }.sum.toDouble
      val pipeline = t.pipelineLayer(wall)
      t.sparkLayer(wall) ++ pipeline ++ t.sinksLayer ++ t.offsetLayer ++
        t.operatorsLayer(wall, kept / Docs, Some("curate")) ++ Map(
        "meta.saves" -> ok.size.toDouble,
        "meta.save_s" -> math.max(0.0, pipeline("pipeline.task_s") - t.transformerS),
        "meta.rows_written" -> kept,
        "meta.files_written" -> ms.partitionFileCount("docs_cur", Day).toDouble,
        "meta.bytes_written" -> Files.bytesUnder(s"$dir/ms/docs_cur/info_date=$Day").toDouble,
        "meta.read_calls" -> 0.0, "meta.read_s" -> 0.0, "meta.list_s" -> 0.0,
        "sources.plan_s" -> 0.0, "sources.rows_read" -> 0.0, "sources.read_amplification" -> 0.0,
        "expr.summary_in_job_s" -> 0.0)
    }.getOrElse(Map.empty)
    PassOut(wall, ok.map(r => (r.finishedAtMs - r.startedAtMs) / 1e3), attempted = 1,
      failed = failed, layers = layers)
  }

  /** The (split, lang_pred) counts and token sums of the last pass's
    * output, for the oracle replay of the hash-matched q_curation_v2
    * gate over the same generated documents. */
  def outputGroups: Seq[(String, String, Long, Long)] = {
    val ms = new Metastore(spark)
    lastParsed.toSeq.flatMap(_.tables).foreach(ms.register)
    ms.getTable("docs_cur", Some(Day), Some(Day))
      .groupBy("split", "lang_pred")
      .agg(count(lit(1)).as("n"), sum("n_tokens").cast("long").as("total_tokens"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted
  }

  def documentsPath: String = s"$inputs/documents"

  override val checks = 1

  override def check(): Seq[String] =
    if (lastParsed.isEmpty) Seq("curation: no pass ran")
    else if (outputGroups.isEmpty) Seq("curation: empty output")
    else Nil
}
