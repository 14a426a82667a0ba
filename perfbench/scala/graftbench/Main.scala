package graftbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.Locale
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up several times (the median is
  * `setup_s`), run a cold pass, then closed-loop passes for the
  * requested seconds, check the outputs and write the result file.
  * `--trace 1` alternates untraced and traced passes and reports the
  * per-layer figures of the traced ones.
  *
  * {{{
  * graftbench.Main --workload backfill --seed 1 --seconds 10 --trace 0 \
  *   --work <dir> --result <file> [--cores N] [--launched-ms <epoch ms>]
  * }}}
  */
object Main {
  val Setups = 3

  final case class Metric(value: Double, unit: String, samples: Int)

  def newSession(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Old-generation heap in use after a full collection, in MB. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    pools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val launchedMs = opts.get("launched-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)

    // set-up: a fresh session ready and the fixtures registered, several
    // times; the first is timed from process start and also generates
    // the seeded inputs, which the later ones register again
    var spark: SparkSession = null
    var wl: Workload = null
    val inputs = s"$work/inputs"
    val setupS = (0 until Setups).map { i =>
      if (spark != null) stopSession(spark)
      val t0 = if (i == 0) launchedMs else System.currentTimeMillis()
      spark = newSession(work, cores)
      wl = Workload.named(workload)
      if (i == 0) wl.generate(spark, inputs, seed, cores)
      wl.setup(spark, inputs, s"$work/setup-$i", cores)
      (System.currentTimeMillis() - t0) / 1e3
    }

    val cold = wl.pass(0, None)
    val heap = ArrayBuffer(oldGenAfterGcMb())
    val untraced = ArrayBuffer.empty[PassOut]
    val traced = ArrayBuffer.empty[PassOut]
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    // at least one measured pass (one of each kind when tracing)
    while (i == 1 || (tracer.isDefined && i == 2) || System.nanoTime() < deadline) {
      val traceThis = tracer.isDefined && i % 2 == 0
      if (traceThis) {
        tracer.get.attach()
        try traced += wl.pass(i, tracer) finally tracer.get.detach()
      } else {
        untraced += wl.pass(i, None)
        heap += oldGenAfterGcMb()
      }
      i += 1
    }

    val tc = System.nanoTime()
    // every traced pass splits its wall exactly into in-job and gap time
    val splitFailures = traced.toSeq.collect {
      case p if math.abs(p.layers("spark.in_job_s") + p.layers("spark.gap_s") - p.wall) > 1e-6 =>
        s"trace: in_job_s + gap_s != wall (${p.layers("spark.in_job_s")} + ${p.layers("spark.gap_s")} vs ${p.wall})"
    }
    val checkFailures = wl.check() ++ splitFailures
    val checkS = (System.nanoTime() - tc) / 1e9
    val all = (cold +: untraced.toSeq) ++ traced.toSeq
    val attempted = all.map(_.attempted).sum + wl.checks + traced.size
    val failed = all.map(_.failed).sum + checkFailures.size

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    val walls = untraced.map(_.wall).toSeq
    val steps = untraced.flatMap(_.steps).toSeq
    metrics("setup_s") = Metric(Stats.median(setupS), "s", setupS.size)
    metrics("cold_wall_s") = Metric(cold.wall, "s", 1)
    metrics("wall_s") = Metric(Stats.median(walls), "s", walls.size)
    metrics("rows_per_s") = Metric(wl.inputRows / Stats.median(walls), "rows/s", walls.size)
    metrics("step_p50_s") = Metric(Stats.median(steps), "s", steps.size)
    metrics("peak_heap_mb") = Metric(heap.max, "MB", heap.size)
    metrics("step_p90_s") = Metric(Stats.quantile(steps, 0.9), "s", steps.size)
    metrics("fail_ratio") = Metric(failed.toDouble / attempted, "ratio", attempted)
    if (traced.nonEmpty) {
      val keys = traced.head.layers.keys.toSeq.sorted
      keys.foreach { k =>
        metrics(k) = Metric(Stats.median(traced.map(_.layers(k)).toSeq), Units.of(k), traced.size)
      }
      metrics("trace_overhead_s") =
        Metric(Stats.median(traced.map(_.wall).toSeq) - Stats.median(walls), "s", traced.size)
    }

    val oracle = wl match {
      case c: Curation => JObject(
        "sql" -> JString(graft.SparkEntry.oracleSql("q_curation_v2")),
        "documents" -> JString(c.documentsPath),
        "rows" -> JArray(c.outputGroups.toList.map { case (s, l, n, t) =>
          JArray(List(JString(s), JString(l), JInt(n), JInt(t))) }))
      case _ => JNull
    }
    val result = JObject(
      "workload" -> JString(workload),
      "seed" -> JLong(seed),
      "trace" -> JBool(trace),
      "cores" -> JInt(cores),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "check_failures" -> JArray(checkFailures.toList.map(JString(_))),
      "metrics" -> JObject(metrics.toList.map { case (k, m) =>
        k -> JObject("value" -> JDouble(m.value), "unit" -> JString(m.unit), "samples" -> JInt(m.samples))
      }),
      "passes" -> JArray(all.toList.map(p => JObject(
        "wall" -> JDouble(p.wall), "traced" -> JBool(p.layers.nonEmpty),
        "in_job_s" -> p.layers.get("spark.in_job_s").map(JDouble(_)).getOrElse(JNull),
        "gap_s" -> p.layers.get("spark.gap_s").map(JDouble(_)).getOrElse(JNull)))),
      "stamp" -> JObject(
        "max_heap_mb" -> JDouble(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
        "spark_version" -> JString(spark.version),
        "java_version" -> JString(System.getProperty("java.version")),
        "java_vm" -> JString(System.getProperty("java.vm.name"))),
      "oracle" -> oracle)
    Files.write(opts("result"), Json.write(result))
    checkFailures.foreach(f => System.err.println(s"[graftbench] CHECK FAILED: $f"))
    System.err.println(s"[graftbench] setups ${setupS.map(Json.num(_)).mkString(" ")} s, " +
      s"checks ${Json.num(checkS)} s, up ${Json.num((System.currentTimeMillis() - launchedMs) / 1e3)} s")
    all.foreach(p => System.err.println(
      s"[graftbench] pass wall=${Json.num(p.wall)} s traced=${p.layers.nonEmpty} failed=${p.failed}"))
    stopSession(spark)
  }
}

/** Units of the per-layer metrics, by name. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s") || name == "offset.s") "s"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_rows") || name.endsWith("rows_written") || name.endsWith("rows_read") ||
      name.endsWith("rows_sent")) "rows"
    else if (name.endsWith("_ratio") || name.endsWith("overlap") || name.endsWith("core_util") ||
      name.endsWith("amplification") || name.endsWith("skew")) "ratio"
    else "count"
}

/** JSON and number rendering that never depends on the default locale
  * (a comma-decimal locale must not change a byte of the output). */
object Json {
  def write(v: JValue): String = {
    def finite(j: JValue): Unit = j match {
      case JDouble(d) => require(!d.isNaN && !d.isInfinite, s"non-finite number in result: $d")
      case JObject(fs) => fs.foreach(f => finite(f._2))
      case JArray(xs) => xs.foreach(finite)
      case _ =>
    }
    finite(v)
    compact(render(v))
  }

  def num(d: Double, digits: Int = 4): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(d))
}
