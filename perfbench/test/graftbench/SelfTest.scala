package graftbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import java.util.Locale

/** The benchmark's own tests; `python3 perfbench/run.py --self-test`
  * runs them in a JVM whose default locale is de_DE. Exits 1 on the
  * first failure. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("union counts overlapping intervals once and clips to the window") {
      assertEq(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L), 25L)
      assertEq(Intervals.unionLength(Seq((0L, 10L), (2L, 3L)), 0L, 100L), 10L)
      assertEq(Intervals.unionLength(Seq((0L, 10L), (5L, 15L)), 8L, 12L), 4L)
      assertEq(Intervals.unionLength(Nil, 0L, 10L), 0L)
    }

    test("quantiles interpolate linearly") {
      assertEq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      assertEq(Stats.quantile(Seq(0.0, 10.0), 0.9), 9.0)
    }

    test("numbers render with '.' under a comma-decimal default locale") {
      assertEq(Locale.getDefault.getLanguage, "de")
      assertEq(String.format("%.2f", Double.box(1.5)), "1,50") // the locale is live
      assertEq(Json.num(1.5, 2), "1.50")
      val text = Json.write(JObject("v" -> JDouble(1234.5678), "n" -> JInt(7)))
      assertEq(text, """{"v":1234.5678,"n":7}""")
      assertEq(parse(text) \ "v", JDouble(1234.5678))
    }

    val spark = SparkSession.builder().master("local[4]").appName("graftbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1").config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("ERROR")
      val trace = new JobTrace
      sc.addSparkListener(trace)
      sc.parallelize(1 to 4, 4).count() // warm, so both submissions below are quick
      trace.reset()
      // two concurrent jobs over one shuffle: the first submits the map
      // stage, the second announces the same stage while its tasks run
      val shared = sc.parallelize(1 to 4, 4)
        .map { x => Thread.sleep(1500); (x % 2, x) }
        .reduceByKey(_ + _, 2)
      val a = new Thread(() => { sc.setJobGroup("A", "job A"); shared.count() })
      val b = new Thread(() => { sc.setJobGroup("B", "job B"); shared.collect() })
      a.start(); Thread.sleep(300); b.start()
      a.join(); b.join()
      org.apache.spark.BenchBus.drain(sc)
      val jobs = trace.snapshot
      // job ids follow submission order
      val Seq(first, second) = jobs.sortBy(_.id)

      test("a stage's tasks stay with the first job that announced it") {
        if (second.startMs >= first.startMs + 1500)
          throw new AssertionError("the second job started after the map stage ended")
        assertEq(first.tasks, 4 + 2) // the 4 map tasks and its 2 result tasks
        assertEq(second.tasks, 2) // only its own result stage
      }

      test("in-job time is the union of concurrent jobs, not their sum") {
        val spans = jobs.map(j => (j.startMs, j.endMs))
        val union = Intervals.unionLength(spans, Long.MinValue, Long.MaxValue)
        val sum = spans.map { case (s, e) => e - s }.sum
        assertEq(union, jobs.map(_.endMs).max - jobs.map(_.startMs).min)
        if (union >= sum) throw new AssertionError(s"union $union not below the sum $sum")
      }
    } finally spark.stop()

    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
    println("all tests passed")
  }
}
