package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Main.Metric

/** The per-layer metrics every traced run prints, with their units.
  *
  * A workload that does not exercise a layer reports that layer's counts,
  * sizes and shares as 0; every time-valued metric here is measured by
  * every workload. Layer times that only the stream has (micro-batch phase
  * durations, generator lateness) go to the trace file.
  */
object Layers {
  val perLayer: Seq[(String, String)] = Seq(
    "sql.build_s" -> "s", "sql.build_jobs" -> "count",
    "plan.plan_s" -> "s", "plan.exchanges" -> "count", "plan.joins" -> "count",
    "plan.sorts" -> "count", "plan.nodes" -> "count",
    "exec.exec_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.core_busy_frac" -> "frac", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.input_mb" -> "MB",
    "exec.skew_max" -> "ratio",
    "ops.cep_frac" -> "frac", "ops.win_frac" -> "frac", "ops.search_frac" -> "frac",
    "kernel.window_eps" -> "1/s", "kernel.cep_eps" -> "1/s",
    "state.rows" -> "count", "state.mem_mb" -> "MB", "state.rows_removed" -> "count",
    "state.late_dropped" -> "count",
    "batch.count" -> "count", "batch.rows_p50" -> "count",
    "source.lag_max" -> "count", "source.lag_end" -> "count", "source.fetch_mb_s" -> "MB/s",
    "gen.sent" -> "count",
    "host.calib_mops" -> "Mops", "jvm.heap_peak_mb" -> "MB", "jvm.gc_ms" -> "ms",
    "trace.overhead_frac" -> "frac")

  private val timeUnits = Set("s", "ms")

  /** Every per-layer metric in list order; layers the workload does not
    * exercise read 0. */
  def complete(measured: Map[String, Double]): Seq[(String, Metric)] = {
    val unknown = measured.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    perLayer.map { case (k, unit) =>
      require(measured.contains(k) || !timeUnits(unit), s"time metric $k was not measured")
      k -> Metric(measured.getOrElse(k, 0.0), unit)
    }
  }

  /** The JVM and host context every traced run reports. */
  def context(calibBefore: Double, calibAfter: Double, gcMs0: Double,
              tracer: Tracer, measuredS: Double): Map[String, Double] = Map(
    "host.calib_mops" -> (calibBefore + calibAfter) / 2,
    "jvm.heap_peak_mb" -> Main.heapPeakMb,
    "jvm.gc_ms" -> (Main.gcMs - gcMs0),
    "trace.overhead_frac" -> tracer.overheadNs / 1e9 / measuredS)

  def calib(): Double = graft.HostCalib.mops(Main.cores, targetSec = 0.2, trials = 2)

  private def eps(n: Long, s: Double): Double = if (s > 0) n / s else 0.0

  /** Microbenchmarks of single layers, run only in traced runs: the
    * length-window and CEP kernels over the sf0.1 events (warmed, as the
    * engine's own bench runs them) and `KafkaClient.fetch` over a staged
    * partition of an embedded broker. */
  def microbench(spark: SparkSession, dataDir: String): Map[String, Double] = {
    import graft.streaming.{Cep, PatternSpec, Step, Windows, WinEvent}
    implicit val enc: org.apache.spark.sql.Encoder[WinEvent] =
      org.apache.spark.sql.Encoders.product[WinEvent]
    val events = graft.Tables(spark, dataDir, "events")
    val n = events.count()
    val win = events.select(
      col("user_id").cast("string").as("key"), unix_micros(col("ts")).as("tsUs"),
      col("event_id").as("eventId"), col("value"),
      typedlit(Seq.empty[Double]).as("vals"), typedlit(Seq.empty[String]).as("svals")).as[WinEvent]
    val spec = PatternSpec(
      Seq(Step.simple("a")(_.etype == "signup"), Step.simple("b")(_.etype == "purchase")),
      strict = false, every = true, withinUs = Some(86400000000L))
    def noop(f: => org.apache.spark.sql.Dataset[_]): Double =
      Main.time(f.write.format("noop").mode("overwrite").save())._2
    noop(Windows.length(win, 10)); noop(Cep.detect(Cep.fromEvents(events), spec))
    val tWin = Main.median((1 to 3).map(_ => noop(Windows.length(win, 10))))
    val tCep = Main.median((1 to 3).map(_ => noop(Cep.detect(Cep.fromEvents(events), spec))))

    val broker = new graft.sources.EmbeddedKafkaBroker("fetch", 1)
    broker.fetchBatchSize = Int.MaxValue // whole uncompressed ranges
    val fetchMbS = try {
      val line = "2024-01-01 00:00:00.000000,1234,a,12.34"
      broker.seed(0, Seq.fill(100000)(line): _*)
      val c = new graft.sources.KafkaClient("127.0.0.1", broker.port)
      c.connect()
      try {
        val bytes = 100000L * line.length
        c.fetch("fetch", 0, 0L)
        Main.median((1 to 5).map { _ =>
          val (recs, s) = Main.time(c.fetch("fetch", 0, 0L))
          require(recs._1.size == 100000, s"fetch returned ${recs._1.size} records")
          bytes / 1e6 / s
        })
      } finally c.close()
    } finally broker.close()

    Map("kernel.window_eps" -> eps(n, tWin), "kernel.cep_eps" -> eps(n, tCep),
      "source.fetch_mb_s" -> fetchMbS)
  }
}
