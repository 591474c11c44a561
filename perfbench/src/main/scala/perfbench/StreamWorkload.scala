package perfbench

import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.sources.{EmbeddedKafkaBroker, KafkaClient}
import graft.sql.{AppRuntime, GraftApp}
import Main.{Metric, Outcome}

/** The deployed shape of an EventFlux app: a declared Kafka source feeding
  * a partitioned length-window changelog and a partitioned `EVERY (a -> b)
  * WITHIN` pattern, run by Spark's micro-batch engine.
  *
  * One generator thread produces to an in-process broker with one
  * partition per core, open loop on a fixed schedule. After a warm-up, a
  * steady phase of the measured seconds gives the event-to-result latency
  * (`lat_ms` is its p50, `lat_tail_ms` its p90), then `Bursts` times a
  * fixed burst of events is sent at once to the idle query; `total_s` is
  * the median time from sending a burst until it is processed. Each event's
  * `ts` is the time it was due to be sent, so a generator that falls
  * behind shows in the latency.
  *
  * The sink reduces every micro-batch inside Spark to a histogram of the
  * rows' creation milliseconds plus a row digest; latency is the batch's
  * end minus the creation time of the event that produced the row (the
  * arriving event for a changelog row, `e2` for a match). After the run
  * the digest of everything emitted must equal the digest of `GraftApp.run`
  * over the same events as a static frame.
  */
object StreamWorkload {
  val Name = "stream_kafka"
  private val Topic = "events"
  private val Users = 1000
  private val Kinds = "abcde"
  // The app sustains about 35,000 events/s on 4 cores (`sustain`, figures
  // in README.md). The steady phase offers a tenth of that for the
  // measured seconds, so its latency is the fixed per-batch cost; then
  // `Bursts` bursts of half a second at the sustained rate follow.
  private val WarmS = 3.0
  private val Rate = 3500.0
  private val Burst = 17500
  private val Bursts = 5
  private val SetUps = 5

  def app(port: Int): String =
    s"""CREATE STREAM E (ts TIMESTAMP, user_id BIGINT, kind STRING, v DOUBLE)
       |  WITH ('type'='source', 'format'='kafka', 'brokers'='127.0.0.1:$port',
       |        'topic'='$Topic', 'map.format'='csv');
       |CREATE STREAM Chg (user_id BIGINT, kind STRING, v DOUBLE, ts TIMESTAMP, op INT);
       |CREATE STREAM M (user_id BIGINT, v1 DOUBLE, v2 DOUBLE, ts TIMESTAMP);
       |PARTITION WITH (user_id OF E) BEGIN
       |  INSERT ALL EVENTS INTO Chg SELECT user_id, kind, v, ts, op FROM E WINDOW('length', 10)
       |END;
       |INSERT INTO M SELECT e1.user_id AS user_id, e1.v AS v1, e2.v AS v2, e2.ts AS ts
       |FROM PATTERN (EVERY (e1=E[kind = 'a'] -> e2=E[kind = 'b']))
       |WITHIN 10 SECONDS ALLOW LATENESS 5 SECONDS PARTITION BY user_id;""".stripMargin

  /** Both statements' outputs as one frame. `ts` is the creation time of
    * the event behind the row; arrivals (`op` = 1) and matches (`src` = 1)
    * count for latency, retractions do not. */
  def outputs(env: Map[String, DataFrame]): DataFrame = {
    val chg = env("Chg").select(lit(0).as("src"), col("user_id"), col("ts"), col("op"),
      col("kind"), col("v").as("v1"), lit(null).cast("double").as("v2"))
    val m = env("M").select(lit(1).as("src"), col("user_id"), col("ts"), lit(1).as("op"),
      lit(null).cast("string").as("kind"), col("v1"), col("v2"))
    chg.unionByName(m)
  }

  /** Events sent by the generator, kept for the parity check. */
  final class Sent {
    val ts = mutable.ArrayBuffer.empty[Long]
    val user = mutable.ArrayBuffer.empty[Int]
    val kind = mutable.ArrayBuffer.empty[Char]
    val v = mutable.ArrayBuffer.empty[Double]
    def size: Int = ts.size
  }

  /** An offered-load phase; a backlog (infinite rate) sends `count` events at once. */
  final case class Phase(name: String, rate: Double, seconds: Double, count: Int = 0)
  final case class PhaseRun(name: String, startUs: Long, endUs: Long, firstTs: Long, lastTs: Long)

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Single-threaded open-loop producer over one broker connection. */
  final class Generator(port: Int, parts: Int, seed: Long) {
    private val rng = new java.util.Random(seed)
    private val client = new KafkaClient("127.0.0.1", port)
    client.connect()
    val sent = new Sent
    @volatile var lateMaxMs = 0.0
    private var lastTs = 0L
    private val baseNs = System.nanoTime()
    private val baseUs = System.currentTimeMillis() * 1000L
    private def nowUs = baseUs + (System.nanoTime() - baseNs) / 1000L

    private def send(due: Seq[Long]): Unit = {
      val byPart = Array.fill(parts)(mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte])])
      due.foreach { d =>
        // strictly increasing event times keep batch and stream order equal
        val ts = math.max(d, lastTs + 1); lastTs = ts
        val u = rng.nextInt(Users); val k = Kinds.charAt(rng.nextInt(Kinds.length))
        val v = rng.nextInt(100000) / 100.0
        sent.ts += ts; sent.user += u; sent.kind += k; sent.v += v
        val t = LocalDateTime.ofEpochSecond(Math.floorDiv(ts, 1000000L),
          (Math.floorMod(ts, 1000000L) * 1000L).toInt, ZoneOffset.UTC).format(tsFormat)
        byPart(u % parts) += ((null, s"$t,$u,$k,$v".getBytes("UTF-8")))
      }
      byPart.zipWithIndex.filter(_._1.nonEmpty).foreach { case (recs, p) =>
        client.produce(Topic, p, recs.toSeq)
      }
    }

    /** Send at `rate` events/s for `seconds` from now on a fixed schedule,
      * in 5 ms ticks. */
    def run(ph: Phase): PhaseRun = {
      val start = nowUs
      val first = sent.size
      if (ph.rate.isInfinite) send(Seq.fill(ph.count)(start))
      else {
        val n = (ph.rate * ph.seconds).toLong
        var i = 0L
        while (i < n) {
          val now = nowUs
          val due = math.min(n, ((now - start) * ph.rate / 1e6).toLong + 1)
          if (due > i) {
            val dueUs = (i until due).map(j => start + (j * 1e6 / ph.rate).toLong)
            lateMaxMs = math.max(lateMaxMs, (now - dueUs.head) / 1000.0)
            send(dueUs)
            i = due
          }
          Thread.sleep(5)
        }
      }
      PhaseRun(ph.name, start, nowUs, sent.ts(first), sent.ts.last)
    }

    def close(): Unit = client.close()
  }

  /** Every micro-batch's progress, as Spark reports it. */
  final class Progress extends StreamingQueryListener {
    val all = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.synchronized(all += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def snapshot: Seq[StreamingQueryProgress] = all.synchronized(all.toList)
  }

  /** What the sink folds every micro-batch into, by batch id, so a batch
    * Spark delivers again replaces its first delivery. */
  final class Sink extends VoidFunction2[Dataset[Row], java.lang.Long] {
    // per batch: digest parts and (creation ms, emit us, rows) of the
    // latency-counted rows
    private val batches = mutable.Map.empty[Long, (Long, Long, Long, Seq[(Long, Long, Long)])]
    @volatile private var columns = ""
    override def call(df: Dataset[Row], batchId: java.lang.Long): Unit = {
      columns = Digest.columnsOf(df.schema)
      val aggs = Digest.aggregates(Digest.rowHash(df.schema))
      val agg = df.groupBy((unix_micros(col("ts")) / 1000).cast("long").as("ms"),
          (col("src") === 1 || col("op") === 1).as("lat"))
        .agg(aggs.head, aggs.tail: _*).collect()
      val now = java.time.Instant.now()
      val emitUs = now.getEpochSecond * 1000000L + now.getNano / 1000
      synchronized {
        batches(batchId) = (agg.map(_.getLong(2)).sum, agg.map(_.getLong(3)).sum,
          agg.map(_.getLong(4)).sum,
          agg.toSeq.filter(_.getBoolean(1)).map(r => (r.getLong(0), emitUs, r.getLong(2))))
      }
    }
    def digest: Digest = synchronized {
      val b = batches.values
      Digest(columns, b.map(_._1).sum, b.map(_._2).sum, b.map(_._3).sum)
    }
    def latency: Seq[(Long, Long, Long)] = synchronized(batches.values.flatMap(_._4).toSeq)
  }

  private def endOffsets(p: StreamingQueryProgress): Long =
    """"\d+":(\d+)""".r.findAllMatchIn(Option(p.sources.head.endOffset).getOrElse(""))
      .map(_.group(1).toLong).sum

  /** A broker, the app's session and its streaming query, set up `SetUps`
    * times (session start, `GraftApp.parse` + `bindSources` +
    * `GraftApp.run`, query start; each but the last is torn down again),
    * and a generator feeding it. */
  private final class Deployment(cache: java.nio.file.Path, tracer: Tracer, recorder: Recorder,
                                 seed: Long) {
    val parts: Int = Main.cores
    val broker = new EmbeddedKafkaBroker(Topic, parts)
    broker.fetchBatchSize = Int.MaxValue // whole uncompressed ranges per fetch
    def logEnd: Long = broker.synchronized(broker.logs.map(_.size.toLong).sum)

    private val checkpoints = cache.resolve("checkpoints")
    Main.deleteTree(checkpoints)
    val progress = new Progress
    val sink = new Sink
    var compileSpan = 0
    var streamSpan = 0
    val compile = mutable.ArrayBuffer.empty[(Double, Double)] // (parse ms, build s)
    var query: StreamingQuery = null
    val setups: Seq[Double] = (1 to SetUps).map { i =>
      val (q, s) = Main.time {
        val spark = Main.session(cache)
        val sc = spark.sparkContext
        if (i == SetUps && tracer.enabled) sc.addSparkListener(recorder)
        spark.streams.addListener(progress)
        val text = app(broker.port)
        val ((out, parseS), buildS) = Main.time(tracer.span("compile", s"$Name/setup$i") { id =>
          compileSpan = id
          Recorder.under(sc, id) {
            val (spec, parseS) = Main.time(GraftApp.parse(text))
            (outputs(GraftApp.run(spark, text, AppRuntime.bindSources(spark, spec))), parseS)
          }
        })
        compile += ((parseS * 1000, buildS))
        val ckpt = Files.createTempDirectory(Files.createDirectories(checkpoints), "q").toString
        streamSpan = tracer.record(0, s"$Name/stream", "stream", tracer.nowUs, tracer.nowUs)
        Recorder.under(sc, streamSpan) {
          out.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
            .outputMode("append").start()
        }
      }
      if (i < SetUps) { q.stop(); SparkSession.active.stop() } else query = q
      s
    }
    Main.log(f"set up $SetUps times: ${setups.map(s => f"$s%.2f").mkString(" ")}s")
    val spark: SparkSession = SparkSession.active

    val gen = new Generator(broker.port, parts, seed)
    val phases = mutable.ArrayBuffer.empty[PhaseRun]
    val lags = mutable.ArrayBuffer.empty[(Long, Long)] // (wall ms, lag)
    def sampleLag(): Unit = {
      val p = Option(query.lastProgress).map(endOffsets).getOrElse(0L)
      lags += ((System.currentTimeMillis(), logEnd - p))
    }
    /** Run a phase on the generator thread, sampling lag every second. */
    def drive(ph: Phase): PhaseRun = {
      val t = new Thread(() => phases.synchronized(phases += gen.run(ph)), "generator")
      t.start()
      while (t.isAlive) { t.join(1000); sampleLag() }
      phases.last
    }
    /** Seconds from sending a burst to the idle query until it is all
      * processed. */
    def burst(name: String): Double = {
      query.processAllAvailable()
      Main.time { drive(Phase(name, Double.PositiveInfinity, 0, Burst)); query.processAllAvailable() }._2
    }
    /** Latency histogram (microseconds -> rows) of the rows behind events
      * created within `ph`, from the middle of the creation millisecond. */
    def latency(ph: PhaseRun): Map[Long, Long] = sink.latency
      .filter { case (ms, _, _) => ms * 1000 >= ph.firstTs && ms * 1000 <= ph.lastTs }
      .groupMapReduce { case (ms, emitUs, _) => emitUs - ms * 1000 - 500 }(_._3)(_ + _)
    /** The offered rate, then one untimed burst. */
    def warmUp(): Unit = {
      drive(Phase("warm", Rate, WarmS))
      burst("warm burst")
      Main.log("warm-up done")
    }
    def close(): Unit = {
      query.stop()
      gen.close()
      broker.close()
      spark.stop()
      Main.deleteTree(checkpoints)
    }
  }

  def run(a: Main.Args): Outcome = {
    val tracer = new Tracer(a.trace)
    val gcMs0 = Main.gcMs
    val recorder = new Recorder(tracer)
    val d = new Deployment(a.cache, tracer, recorder, a.seed)
    import d.{gen, progress, sink, spark}
    val calib0 = if (a.trace) Layers.calib() else 0.0
    d.warmUp()
    val m0 = System.currentTimeMillis()
    val steady = d.drive(Phase("steady", Rate, a.seconds))
    val bursts = (1 to Bursts).map(i => d.burst(s"burst $i"))
    d.sampleLag()
    val m1 = System.currentTimeMillis()
    val plan = if (a.trace) PlanShape.of(d.query.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan) else PlanShape.empty
    d.query.stop()
    Main.log(s"measured phases done, bursts took ${bursts.map(x => f"$x%.2f").mkString(" ")}s")

    // parity: the same events as a static frame through the batch lowering
    val sent = gen.sent
    val rows = (0 until sent.size).map(i =>
      Row(sent.ts(i), sent.user(i).toLong, sent.kind(i).toString, sent.v(i)))
    val staticEvents = spark.createDataFrame(spark.sparkContext.parallelize(rows, d.parts),
        StructType.fromDDL("us BIGINT, user_id BIGINT, kind STRING, v DOUBLE"))
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"), col("kind"), col("v"))
    val expected = Digest.of(outputs(GraftApp.run(spark, app(d.broker.port), Map("E" -> staticEvents))))
    val got = sink.digest
    val failed = if (got == expected) 0L else math.max(1L, math.abs(expected.rows - got.rows))
    if (failed > 0) Main.log(s"MISMATCH stream digest $got, batch $expected")
    Main.log(s"checked ${got.rows} streamed rows against the batch lowering")

    val hist = d.latency(steady)
    def latMs(p: Double) = Main.percentile(hist, p) / 1000
    val outcome = if (!a.trace) {
      Outcome(expected.rows, failed, Seq(
        "setup_s" -> Metric(Main.median(d.setups), "s"),
        "total_s" -> Metric(Main.median(bursts), "s"),
        "lat_ms" -> Metric(latMs(50), "ms"),
        "lat_tail_ms" -> Metric(latMs(90), "ms")))
    } else {
      recorder.drain()
      spark.sparkContext.removeSparkListener(recorder)
      val batches = progress.snapshot.filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        t >= m0 && t <= m1
      }
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      def p50(f: StreamingQueryProgress => Double): Double =
        if (batches.isEmpty) 0.0 else Main.median(batches.map(f))
      val ops = progress.snapshot.last.stateOperators.toSeq
      batches.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        tracer.record(d.streamSpan, s"$Name/stream", s"micro-batch ${p.batchId}", s,
          s + dur(p, "triggerExecution").toLong * 1000)
      }
      d.phases.foreach(p => tracer.record(d.streamSpan, s"$Name/stream", s"phase ${p.name}", p.startUs, p.endUs))
      recorder.emitSpans(_ => s"$Name/stream")
      val js = recorder.jobsUnder(Set(d.streamSpan)).filter(j => j.startMs >= m0 && j.startMs <= m1)
      val micro = Layers.microbench(spark, a.data.resolve(Prep.DataSet).toString)
      val measured = Map(
        "sql.build_s" -> Main.median(d.compile.map(_._2).toSeq),
        "sql.build_jobs" -> recorder.jobsUnder(Set(d.compileSpan)).size.toDouble,
        "plan.plan_s" -> batches.map(dur(_, "queryPlanning")).sum / 1000,
        "plan.exchanges" -> plan.exchanges.toDouble, "plan.joins" -> plan.joins.toDouble,
        "plan.sorts" -> plan.sorts.toDouble, "plan.nodes" -> plan.nodes.toDouble,
        "state.rows" -> ops.map(_.numRowsTotal).sum.toDouble,
        "state.mem_mb" -> ops.map(_.memoryUsedBytes).sum / 1e6,
        "state.rows_removed" -> batches.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum.toDouble,
        "state.late_dropped" -> progress.snapshot.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble,
        "batch.count" -> batches.size.toDouble,
        "batch.rows_p50" -> p50(_.numInputRows.toDouble),
        "source.lag_max" -> d.lags.map(_._2).max.toDouble,
        "source.lag_end" -> d.lags.last._2.toDouble,
        "gen.sent" -> sent.size.toDouble) ++
        Recorder.execMetrics(recorder, js, (m1 - m0) / 1000.0, 1, Main.cores) ++
        micro ++ Layers.context(calib0, Layers.calib(), gcMs0, tracer, (m1 - m0) / 1000.0)
      val detail = Seq(
        "setup.first_s" -> Metric(d.setups.head, "s"),
        "sql.parse_ms" -> Metric(Main.median(d.compile.map(_._1).toSeq), "ms"),
        "lat_p50_ms" -> Metric(latMs(50), "ms"),
        "lat_p90_ms" -> Metric(latMs(90), "ms"),
        "lat_p99_ms" -> Metric(latMs(99), "ms"),
        "burst_eps" -> Metric(Burst / Main.median(bursts), "1/s"),
        "batch.trigger_ms_p50" -> Metric(p50(dur(_, "triggerExecution")), "ms"),
        "batch.trigger_ms_max" -> Metric(batches.map(dur(_, "triggerExecution")).maxOption.getOrElse(0.0), "ms"),
        "batch.add_ms_p50" -> Metric(p50(dur(_, "addBatch")), "ms"),
        "batch.planning_ms_p50" -> Metric(p50(dur(_, "queryPlanning")), "ms"),
        "batch.commit_ms_p50" -> Metric(p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms"),
        "state.commit_ms_p50" -> Metric(p50(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms"),
        "source.latest_offset_ms_p50" -> Metric(p50(dur(_, "latestOffset")), "ms"),
        "gen.late_ms_max" -> Metric(gen.lateMaxMs, "ms"))
      Outcome(expected.rows, failed, Layers.complete(measured), detail, tracer.all)
    }
    d.close()
    outcome
  }

  /** The offered rates `sustain` steps through, in events/s, each for
    * `StepS` seconds, and the p99 latency limit a rate must meet. */
  val SustainRates: Seq[Double] = Seq(3000, 10000, 20000, 30000, 35000, 40000)
  val StepS = 10.0
  val LimitMs = 3000.0

  /** Step the offered rate up and print, per rate, the generator's
    * lateness, the latency percentiles of the step's events and the
    * backlog (broker log end minus processed offsets). A rate is sustained
    * when its p99 latency stays within `LimitMs`, which also bounds the
    * backlog: a growing backlog delays every later event of the step. */
  def sustain(cache: java.nio.file.Path): Unit = {
    val d = new Deployment(cache, new Tracer(false), null, 1)
    d.warmUp()
    println(s"| offered events/s | generator late ms | p50 ms | p99 ms | backlog max | sustained (p99 <= ${LimitMs.toInt} ms) |")
    println("|---|---|---|---|---|---|")
    SustainRates.foreach { r =>
      d.lags.clear()
      d.gen.lateMaxMs = 0.0
      val ph = d.drive(Phase(s"rate $r", r, StepS))
      d.query.processAllAvailable()
      val h = d.latency(ph)
      val p99 = Main.percentile(h, 99) / 1000
      println(f"| ${r.toInt} | ${d.gen.lateMaxMs}%.0f | ${Main.percentile(h, 50) / 1000}%.0f | $p99%.0f | " +
        f"${d.lags.map(_._2).max} | ${if (p99 <= LimitMs) "yes" else "no"} |")
      Thread.sleep(2000)
    }
    d.close()
  }
}
