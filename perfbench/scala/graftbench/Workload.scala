package graftbench

import org.apache.spark.sql.SparkSession

/** What one pass reports back: its wall, the per-task walls taken from
  * bookkeeping records, how many tasks and output checks it attempted
  * and how many failed, and (traced passes only) per-layer figures. */
final case class PassOut(wall: Double, steps: Seq[Double], attempted: Int, failed: Int,
                         layers: Map[String, Double] = Map.empty)

/** A closed-loop pipeline workload: `generate` writes the seeded inputs
  * under `inputs` (once per run), `setup` registers them as the
  * workload's fixtures with its state under `dir`, `pass` runs the
  * pipeline once (the next pass starts only after it returns), `check`
  * verifies the last pass's outputs. */
trait Workload {
  /** Input rows one pass consumes (source rows / docs / events). */
  def inputRows: Long
  def generate(spark: SparkSession, inputs: String, seed: Long, cores: Int): Unit
  def setup(spark: SparkSession, inputs: String, dir: String, cores: Int): Unit
  def pass(i: Int, tracer: Option[Tracer]): PassOut
  /** Output checks `check` makes. */
  def checks: Int
  /** One message per failed output check. */
  def check(): Seq[String]
}

object Workload {
  def named(name: String): Workload = name match {
    case "backfill" => new Backfill
    case "curation" => new Curation
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** A traced pass's instruments: the wrapper spans and the Spark job
  * listener, both reset at the start of each traced pass. */
final class Tracer(spark: SparkSession, cores: Int) {
  val spans = new Spans
  val jobs = new JobTrace

  /** The listener is on the bus only around traced passes. */
  def attach(): Unit = spark.sparkContext.addSparkListener(jobs)
  def detach(): Unit = spark.sparkContext.removeSparkListener(jobs)

  private var startMs = 0L

  def begin(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spans.reset(); jobs.reset()
    startMs = System.currentTimeMillis()
  }

  /** Jobs of a pass of wall `wall`, after the listener bus has caught
    * up; jobs the benchmark starts after the pass (reading results back)
    * are not the pass's. */
  def passJobs(wall: Double): Seq[JobRec] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    jobs.snapshot.filter(j => j.endMs >= 0 && j.startMs <= endMs(wall))
  }

  def endMs(wall: Double): Long = startMs + math.round(wall * 1000)

  /** Union of the intervals of `js`, clipped to the pass. */
  def inJob(js: Seq[JobRec], wall: Double): Double =
    Intervals.unionLength(js.map(j => (j.startMs, j.endMs)), startMs, endMs(wall)) / 1e3

  /** The `spark` layer for a pass of wall `wall`: in_job_s is clipped
    * to the pass, so in_job_s + gap_s equals the wall by construction. */
  def sparkLayer(wall: Double): Map[String, Double] = {
    val js = passJobs(wall)
    val inJobS = math.min(inJob(js, wall), wall)
    val taskS = js.map(_.taskMs).sum / 1e3
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.single_task_jobs" -> js.count(_.tasks == 1).toDouble,
      "spark.stages" -> jobs.stagesOf(js.map(_.id).toSet).size.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.in_job_s" -> inJobS,
      "spark.gap_s" -> (wall - inJobS),
      "spark.task_s" -> taskS,
      "spark.core_util" -> (if (inJobS > 0) taskS / (inJobS * cores) else 0.0),
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "spark.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
      "spark.input_rows" -> js.map(_.inputRows).sum.toDouble,
      "spark.output_bytes" -> js.map(_.outputBytes).sum.toDouble,
      "spark.failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
      "spark.stage_skew" -> jobs.longestStageSkew)
  }

  /** The `pipeline` layer from the traced bookkeeper's task records and
    * the orchestrator runs' total wall `runWall`. */
  def pipelineLayer(runWall: Double): Map[String, Double] = {
    val ts = spans.tasks
    val taskS = ts.map { case (s, e) => e - s }.sum / 1e3
    val covered = Intervals.unionLength(ts, Long.MinValue, Long.MaxValue) / 1e3
    Map(
      "pipeline.tasks" -> Seq("succeeded", "failed", "not_ready")
        .map(k => spans.calls(s"pipeline.notified.$k")).sum,
      "pipeline.task_s" -> taskS,
      "pipeline.overlap" -> (if (runWall > 0) taskS / runWall else 0.0),
      "pipeline.outside_task_s" -> math.max(0.0, runWall - covered),
      "pipeline.transformer_s" -> transformerS,
      "pipeline.bookkeeper_calls" -> spans.calls("pipeline.bookkeeper"),
      "pipeline.bookkeeper_s" -> spans.seconds("pipeline.bookkeeper"))
  }

  /** Time inside every traced transformer: processing, ingestion-source
    * planning and the sink jobs' reader. */
  def transformerS: Double =
    spans.seconds("pipeline.transformer") + spans.seconds("pipeline.sink_reader") +
      spans.seconds("sources.plan")

  def sinksLayer: Map[String, Double] = Map(
    "sinks.sends" -> spans.calls("sinks.send"),
    "sinks.send_s" -> spans.seconds("sinks.send"),
    "sinks.rows_sent" -> spans.calls("sinks.rows"))

  def offsetLayer: Map[String, Double] = Map(
    "offset.calls" -> spans.calls("offset"),
    "offset.s" -> spans.seconds("offset"))

  /** Per-stage job counts and in-job time of a composed operator, from
    * the job groups and descriptions graft sets; `saveJob` names the
    * pipeline job whose task group is the operator's final plan and save. */
  def operatorsLayer(wall: Double, keepRatio: Double, saveJob: Option[String] = None): Map[String, Double] = {
    val js = passJobs(wall)
    val byStage = js.groupBy(j => Tracer.operatorStage(j, saveJob))
    Tracer.OperatorStages.flatMap { st =>
      val sj = byStage.getOrElse(Some(st), Nil)
      Seq(s"operators.$st.jobs" -> sj.size.toDouble, s"operators.$st.in_job_s" -> inJob(sj, wall))
    }.toMap + ("operators.keep_ratio" -> keepRatio)
  }
}

object Tracer {
  val OperatorStages = Seq("dup_probe", "semdedup", "perplexity_fit", "pair_groups", "save")

  private val TaskGroup = "^graft-task-(.+)-(\\d{4}-\\d{2}-\\d{2})-(\\d+)$".r

  /** The pipeline job a Spark job ran under (`graft-task-<job>-<date>-<t0>`). */
  def taskJob(j: JobRec): Option[String] = j.group match {
    case TaskGroup(job, _, _) => Some(job)
    case _ => None
  }

  /** Curation stage of a Spark job: the overlapped blocks label their
    * jobs `curation: …` (SemDeDup's own thread `semdedup: …`); what
    * runs under the curation job's task group is the composed plan and
    * its save. */
  def operatorStage(j: JobRec, saveJob: Option[String]): Option[String] = {
    val d = j.desc
    if (d.startsWith("curation: shared exact/minhash dup probe")) Some("dup_probe")
    else if (d.startsWith("curation: semdedup") || d.startsWith("semdedup:")) Some("semdedup")
    else if (d.startsWith("curation: perplexity")) Some("perplexity_fit")
    else if (d.startsWith("curation: near-dup pair groups")) Some("pair_groups")
    else if (saveJob.isDefined && taskJob(j) == saveJob) Some("save")
    else None
  }
}
