package perfbench

import java.nio.file.Path

/** Per-query cost of every `q_cep_*` and `q_win_*` corpus query on the
  * sf0.1 events, the figures the batch workload's query subset was chosen
  * from. Like the batch workload, it runs whole passes over the queries
  * (one to warm up, then `Runs` timed), so each query pays what it pays
  * between other queries; a listener counts the Spark jobs, stages and
  * tasks of the timed executions. Prints a markdown table on stdout.
  */
object Survey {
  val Runs = 2

  def run(cache: Path, data: Path): Unit = {
    val dir = data.resolve(Prep.DataSet).toString
    val qs = graft.SparkEntry.queries.keys
      .filter(q => q.startsWith("q_cep_") || q.startsWith("q_win_")).toSeq.sorted
    val spark = BatchWorkload.setUp(cache, dir, Nil)
    val sc = spark.sparkContext
    qs.foreach(q => BatchWorkload.timeQuery(spark, dir, q))
    val recorder = new Recorder(new Tracer(true))
    sc.addSparkListener(recorder)
    val timings = (1 to Runs).flatMap { _ =>
      qs.zipWithIndex.map { case (q, i) => q -> Recorder.under(sc, i + 1)(BatchWorkload.timeQuery(spark, dir, q)) }
    }.groupMap(_._1)(_._2)
    recorder.drain()
    println("| query | median s | build s | plan s | exec s | jobs | stages | tasks |")
    println("|---|---|---|---|---|---|---|---|")
    qs.zipWithIndex.foreach { case (q, i) =>
      val js = recorder.jobsUnder(Set(i + 1))
      val st = recorder.stagesOf(js)
      def med(f: BatchWorkload.Timing => Double) = Main.median(timings(q).map(f))
      println(f"| `$q` | ${med(_.total)}%.3f | ${med(_.build)}%.3f | ${med(_.plan)}%.3f | " +
        f"${med(_.exec)}%.3f | ${js.size / Runs} | ${st.size / Runs} | ${st.map(_.tasks).sum / Runs} |")
    }
    spark.stop()
  }
}
