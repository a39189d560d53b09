package perfbench

/** Checks that the tracer attributes jobs to the span they start in.
  * Prints one line per check and returns the process exit code. */
object SelfTest {
  def run(): Int = {
    val spark = graft.Engine.session(appName = "perfbench-selftest", cores = "2")
    val sc = spark.sparkContext
    val spans = new Spans
    spans.publishTo(sc)
    val layer = new SchedulerLayer
    sc.addSparkListener(layer)
    spans("outer") {
      spark.range(100).count()
      spans("inner")(spark.range(10).repartition(3).count())
    }
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val outer = layer.total(Set(0))
    val inner = layer.total(Set(1))
    val before = layer.orphanJobs
    spark.range(5).count() // outside any span
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val checks = Seq(
      "job in outer span attributed to it" -> (outer.jobs >= 1 && outer.tasks >= 1),
      "job in nested span attributed to the nested span" -> (inner.jobs >= 1 && inner.stages >= 2),
      "no job inside spans was an orphan" -> (before == 0),
      "a job outside every span is an orphan" -> (layer.orphanJobs > before),
      "subtree of outer holds inner" -> (spans.subtree(0) == Set(0, 1)))
    spark.stop()
    checks.foreach { case (name, ok) => println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name") }
    if (checks.forall(_._2)) 0 else 1
  }
}
