package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM, started by `perfbench/run.py`.
  *
  *   prep --cache DIR --data DIR
  *       list the oracle SQL of the batch queries for `oracle.py`
  *   survey --cache DIR --data DIR
  *       time every CEP and window query (the batch query selection)
  *   sustain --cache DIR --data DIR
  *       step the stream's offered rate (the stream's rates)
  *   run --workload W --seed N --seconds S --trace 0|1 --cache DIR --data DIR
  *       run one workload; the last stdout line is the result JSON
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cache: Path, data: Path)

  final case class Metric(value: Double, unit: String)

  /** What a workload run reports: the end-to-end metrics (untraced run) or
    * the per-layer metrics (traced run), plus the outcome counts. */
  final case class Outcome(attempted: Long, failed: Long,
                           metrics: Seq[(String, Metric)],
                           detail: Seq[(String, Metric)] = Nil,
                           spans: Seq[Span] = Nil)

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The benchmark's session, configured like the engine's own bench:
    * AQE on, one shuffle partition per core, UTC. Spark's scratch space
    * stays inside the benchmark cache. */
  def session(cache: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cache.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cache.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Progress note on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2fs] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile of a latency histogram (value -> count). */
  def percentile(hist: collection.Map[Long, Long], p: Double): Double = {
    val total = hist.values.sum
    require(total > 0, "percentile of an empty histogram")
    val rank = math.max(1L, math.ceil(p / 100.0 * total).toLong)
    var seen = 0L
    hist.toSeq.sortBy(_._1).find { case (_, n) => seen += n; seen >= rank }.get._1.toDouble
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Sum of the peak usage of every heap pool, in MB. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1e6

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def metricsJson(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s"${jsonStr(k)}:{\"value\":${num(m.value)},\"unit\":${jsonStr(m.unit)}}" }
      .mkString("{", ",", "}")

  def resultLine(o: Outcome): String =
    s"""{"correct":${o.failed == 0},"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":${metricsJson(o.metrics)}}"""

  /** The traced run's file: every metric (including the workload-specific
    * ones kept out of the result line) and every span. */
  def writeTrace(a: Args, o: Outcome): Path = {
    val dir = a.cache.resolve("traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${a.workload}-seed${a.seed}.json")
    val spans = o.spans.sortBy(s => (s.startUs, s.id)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${jsonStr(s.trace)},"name":${jsonStr(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    val json = s"""{"workload":${jsonStr(a.workload)},"seed":${a.seed},"seconds":${a.seconds},""" +
      s""""cores":$cores,"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":${metricsJson(o.metrics ++ o.detail)},""" +
      s""""spans":${spans.mkString("[\n", ",\n", "\n]")}}"""
    Files.write(f, json.getBytes(UTF_8))
    f
  }

  private def parse(argv: Seq[String]): (String, Map[String, String]) = {
    val cmd = argv.headOption.getOrElse(throw new IllegalArgumentException("no command"))
    val kv = argv.tail.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    (cmd, kv)
  }

  def main(argv: Array[String]): Unit = {
    // the benchmark times the md5 hash family the DuckDB oracle verifies
    sys.props.remove("graft.hash.family")
    val (cmd, kv) = parse(argv.toSeq)
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cache = Paths.get(req("cache")).toAbsolutePath
    val data = Paths.get(req("data")).toAbsolutePath
    cmd match {
      case "prep" => Prep.run(cache)
      case "survey" => Survey.run(cache, data)
      case "sustain" => StreamWorkload.sustain(cache)
      case "run" =>
        val a = Args(req("workload"), req("seed").toLong, req("seconds").toInt,
          req("trace") == "1", cache, data)
        val o = a.workload match {
          case BatchWorkload.Name => BatchWorkload.run(a)
          case StreamWorkload.Name => StreamWorkload.run(a)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (a.trace) println(s"trace file: ${writeTrace(a, o)}")
        println(resultLine(o))
      case other => throw new IllegalArgumentException(s"unknown command $other")
    }
  }
}
