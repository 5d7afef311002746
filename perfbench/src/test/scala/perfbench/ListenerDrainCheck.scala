package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the tracing code that need a live Spark context. Exits 0
  * when every check holds, 1 otherwise; run by tests/test_listener.py.
  *
  *  - Draining the listener bus makes the listener's counts complete and
  *    exact, run after run, with no sleep anywhere.
  *  - A job is attributed to the span open on the driver thread when it
  *    was submitted.
  *  - Self time subtracts the union of the children's intervals.
  */
object ListenerDrainCheck {
  private var failures = 0

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) { failures += 1; System.err.println(s"FAIL: $what") }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-check")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)

    // exact counts after each drain, many times over
    for (round <- 1 to 25) {
      val jobs = 1 + round % 4
      (1 to jobs).foreach(_ => sc.parallelize(1 to 100, 3).map(_ * 2).count())
      Main.drainBus(spark)
      val s = listener.take()
      expect(s.jobs.size == jobs, s"round $round: ${s.jobs.size} jobs seen, $jobs run")
      expect(s.tasks.size == 3 * jobs, s"round $round: ${s.tasks.size} tasks seen, ${3 * jobs} run")
      expect(s.stages.size == jobs, s"round $round: ${s.stages.size} stages seen, $jobs run")
      expect(s.jobs.forall(j => j.endMs >= j.startMs), s"round $round: a job without its end event")
    }

    // attribution: jobs carry the innermost span open at submission
    val tr = new Tracer
    tr.on = true
    tr.bind(sc)
    tr.span("outer") {
      sc.parallelize(1 to 10, 2).count()
      tr.span("inner")(sc.parallelize(1 to 10, 2).count())
    }
    Main.drainBus(spark)
    val byName = tr.spans.map(s => s.name -> s.id).toMap
    val spansOfJobs = listener.take().jobs.map(_.span)
    expect(spansOfJobs == Seq(byName("outer"), byName("inner")),
      s"jobs attributed to $spansOfJobs, expected outer then inner ($byName)")

    // self time
    val parent = Span(1, 0, "p", 0, 100)
    val kids = Seq(Span(2, 1, "a", 10, 30), Span(3, 1, "b", 20, 40), Span(4, 1, "c", 90, 120))
    expect(Tracer.selfUs(parent, kids) == 100 - 30 - 10, s"self time ${Tracer.selfUs(parent, kids)}")
    expect(Tracer.unionLength(Seq((5L, 5L), (1L, 2L))) == 1, "union of an empty and a unit interval")

    spark.stop()
    if (failures == 0) println("ListenerDrainCheck: all checks passed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
