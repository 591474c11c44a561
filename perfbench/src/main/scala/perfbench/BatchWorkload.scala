package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

import Main.{Metric, Outcome}

/** The batch workload: a fixed set of corpus queries over the sf0.1 tables.
  *
  * A run sets up (session start, the tables' schemas, the engine's
  * functions, and building and planning every query), runs an untimed
  * warm-up pass, sets up `SetUps - 1` more times, then runs timed passes
  * until the measured seconds are used up, and at least `MinPasses`. Each
  * pass runs every query once, in an order the seed permutes. A query's
  * time is build (calling its `SparkEntry.queries` function) + plan
  * (forcing the executed plan) + exec (running that plan to the end, as a
  * no-op write does); a metric takes each query's median over the timed
  * passes, so a first timed pass the JIT has not fully warmed does not
  * set it. The warm-up pass is the check: it digests every query's
  * output and compares the digest with the DuckDB oracle's expected
  * result, so no digesting is timed.
  */
object BatchWorkload {
  val Name = "batch_sf01"

  /** Queries by operator family (for the traced run's `ops.<family>_frac`
    * shares). The CEP and window queries come from a survey of all 55
    * `q_cep_*` / `q_win_*` queries (`run.py --tool survey`, figures in
    * README.md): the query of median time in each sub-family (NFA
    * patterns, SQL patterns, MATCH_RECOGNIZE, windows) plus the slowest
    * query, which also starts the most Spark jobs. BM25 search stands for
    * the curation operators. */
  val families: Seq[(String, Seq[String])] = Seq(
    "cep" -> Seq("q_cep_trend", "q_cep_sql_and3", "q_cep_mr_permute_chain", "q_cep_mr_unmatched"),
    "win" -> Seq("q_win_hop"),
    "search" -> Seq("q_search_bm25"))
  def queries: Seq[String] = families.flatMap(_._2)

  /** The tables the batch queries read. */
  val tables: Seq[String] = Seq("events", "documents")

  val SetUps = 5
  val MinPasses = 3

  /** Session start plus everything a query needs before it first runs. */
  def setUp(cache: Path, dir: String, qs: Seq[String]): SparkSession = {
    val sp = Main.session(cache)
    tables.foreach(t => graft.Tables(sp, dir, t).schema)
    graft.functions.RefFns.register(sp)
    graft.functions.GraftFns.register(sp)
    qs.foreach(q => graft.SparkEntry.queries(q)(sp, dir).queryExecution.executedPlan)
    sp
  }

  final case class Timing(build: Double, plan: Double, exec: Double, qe: QueryExecution) {
    def total: Double = build + plan + exec
  }

  /** Build, plan and run query `q`; `span` wraps each step (the traced
    * run's recorder). */
  def timeQuery(spark: SparkSession, dir: String, q: String,
                span: String => (=> Any) => Any = _ => b => b): Timing = {
    var df: org.apache.spark.sql.DataFrame = null
    var qe: QueryExecution = null
    val (_, build) = Main.time(span("build") { df = graft.SparkEntry.queries(q)(spark, dir) })
    val (_, plan) = Main.time(span("plan") { qe = df.queryExecution; qe.executedPlan })
    val (_, exec) = Main.time(span("exec") {
      SQLExecution.withNewExecutionId(qe, Some(q)) {
        qe.executedPlan.execute().foreachPartition(it => while (it.hasNext) it.next())
      }
    })
    Timing(build, plan, exec, qe)
  }

  def run(a: Main.Args): Outcome = {
    val dir = a.data.resolve(Prep.DataSet).toString
    val tracer = new Tracer(a.trace)
    val gcMs0 = Main.gcMs

    val (first, firstS) = Main.time(setUp(a.cache, dir, queries))
    // the untimed warm-up pass checks every output
    val errors = mutable.ArrayBuffer.empty[String]
    queries.foreach { q =>
      val expected = BatchWorkload.expected(first, a.cache, q)
      try {
        val got = Digest.of(graft.SparkEntry.queries(q)(first, dir))
        if (!expected.contains(got)) errors += s"$q: digest $got, expected $expected"
      } catch { case e: Exception => errors += s"$q check failed: $e" }
    }
    Main.log(s"warm-up pass done, checked ${queries.size} outputs against the oracle")
    // the set-up is repeated once the JVM is warm; the last one stays
    val setups = firstS +: (2 to SetUps).map { _ =>
      SparkSession.active.stop()
      Main.time(setUp(a.cache, dir, queries))._2
    }
    Main.log(f"set up $SetUps times: ${setups.map(s => f"$s%.2f").mkString(" ")}s")
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val calib0 = if (a.trace) Layers.calib() else 0.0
    val recorder = new Recorder(tracer)
    if (a.trace) sc.addSparkListener(recorder)
    final case class Timed(pass: Int, query: String, t: Timing, spans: Map[String, Int],
                           shape: PlanShape)
    val timed = mutable.ArrayBuffer.empty[Timed]
    var timedErrors = 0
    val traceOf = mutable.Map.empty[Int, String]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    tracer.span(Name, Name) { _ =>
      while (elapsed < a.seconds || pass < MinPasses) {
        val order = new scala.util.Random(a.seed * 7919 + pass).shuffle(queries)
        tracer.span(s"pass $pass") { _ =>
          order.foreach { q =>
            val trace = s"$Name/p$pass/$q"
            tracer.span(q, trace) { _ =>
              val spans = mutable.Map.empty[String, Int]
              try {
                val t = timeQuery(spark, dir, q, step => body => tracer.span(step) { id =>
                  spans(step) = id; traceOf(id) = trace
                  Recorder.under(sc, id)(body)
                })
                val shape = if (a.trace) PlanShape.of(t.qe.executedPlan) else PlanShape.empty
                timed += Timed(pass, q, t, spans.toMap, shape)
              } catch { case e: Exception => timedErrors += 1; errors += s"$q pass $pass failed: $e" }
            }
          }
        }
        pass += 1
      }
    }
    val measuredS = elapsed
    Main.log(f"$pass timed passes in $measuredS%.2fs")
    errors.foreach(f => Main.log(s"FAILED $f"))
    val attempted = timed.size + timedErrors + queries.size

    def perQuery(f: Timing => Double): Map[String, Double] =
      timed.groupBy(_.query).map { case (q, ts) => q -> Main.median(ts.map(x => f(x.t)).toSeq) }
    val totals = perQuery(_.total)
    timed.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, ts) =>
      Main.log(f"$q%-24s median ${totals(q)}%.3fs of ${ts.map(t => f"${t.t.total}%.3f").mkString(" ")}")
    }
    val outcome = if (!a.trace) {
      Outcome(attempted, errors.size, Seq(
        "setup_s" -> Metric(Main.median(setups), "s"),
        "total_s" -> Metric(totals.values.sum, "s"),
        "lat_ms" -> Metric(math.exp(totals.values.map(math.log).sum / totals.size) * 1000, "ms"),
        "lat_tail_ms" -> Metric(totals.values.max * 1000, "ms")))
    } else {
      recorder.drain()
      sc.removeSparkListener(recorder)
      recorder.emitSpans(id => traceOf.getOrElse(id, Name))
      def spansOf(step: String) = timed.flatMap(_.spans.get(step)).toSet
      val shape = timed.filter(_.pass == pass - 1).map(_.shape).foldLeft(PlanShape.empty)(_ + _)
      val micro = Layers.microbench(spark, dir)
      val measured = Map(
        "sql.build_s" -> perQuery(_.build).values.sum,
        "sql.build_jobs" -> recorder.jobsUnder(spansOf("build")).size.toDouble / pass,
        "plan.plan_s" -> perQuery(_.plan).values.sum,
        "plan.exchanges" -> shape.exchanges.toDouble, "plan.joins" -> shape.joins.toDouble,
        "plan.sorts" -> shape.sorts.toDouble, "plan.nodes" -> shape.nodes.toDouble) ++
        Recorder.execMetrics(recorder, recorder.jobsUnder(spansOf("exec")),
          timed.map(_.t.exec).sum, pass, Main.cores) ++
        families.map { case (fam, qs) => s"ops.${fam}_frac" -> qs.map(totals).sum / totals.values.sum } ++
        micro ++ Layers.context(calib0, Layers.calib(), gcMs0, tracer, measuredS)
      val detail = totals.toSeq.sortBy(_._1).map { case (q, s) => s"query.$q" -> Metric(s, "s") } ++
        Seq("passes" -> Metric(pass, "count"), "setup.first_s" -> Metric(firstS, "s"))
      Outcome(attempted, errors.size, Layers.complete(measured), detail, tracer.all)
    }
    spark.stop()
    outcome
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString.take(16)

  /** Digest of the DuckDB oracle's result for `q`, which `oracle.py` wrote
    * as parquet keyed by the oracle SQL's hash. The digest is cached next
    * to it; the version tag invalidates it when the digest changes. */
  def expected(spark: SparkSession, cache: Path, q: String): Option[Digest] = {
    val base = cache.resolve("oracle").resolve(s"$q-${sha(graft.SparkEntry.oracleSql(q))}")
    val pq = base.resolveSibling(base.getFileName.toString + ".parquet")
    val memo = base.resolveSibling(base.getFileName.toString + ".digest-v1")
    if (Files.exists(memo)) {
      val Array(c, r, lo, hi) = new String(Files.readAllBytes(memo), UTF_8).split("\t")
      Some(Digest(c, r.toLong, lo.toLong, hi.toLong))
    } else if (!Files.exists(pq)) None
    else {
      val d = Digest.of(spark.read.parquet(pq.toString))
      Files.write(memo, s"${d.columns}\t${d.rows}\t${d.lo}\t${d.hi}".getBytes(UTF_8))
      Some(d)
    }
  }
}
