package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** The JVM side of the benchmark. It drives graft only through its public
  * entry points (`SparkEntry.queries`, the `noop` sink,
  * `CacheScope.global.release()`) and records raw measurements;
  * perfbench/run.py turns them into metrics.
  *
  * Arguments (`--key value` pairs): `--data DIR --plan FILE --out DIR
  * --seconds S --trace 0|1 --cores N`. The plan file's first line lists
  * the distinct queries; every later line is one deck, a seeded order in
  * which each query of the pool runs once. The run writes each distinct
  * query's result to `out/results/<name>` and their oracle SQL to
  * `out/results/oracle_sql.json`, the layout tools/compare.py reads, and
  * every measurement to `out/trace.json`.
  *
  * A run is: session start, a cold pass (each distinct query's first call,
  * which builds every memoized fixture and persisted model of the fresh
  * data dir, its result written for the oracle check), then a closed loop
  * of one client thread over whole decks for about `--seconds` (at least
  * `MinExecutions` of each query). With `--trace 1` every query of the loop runs twice in a
  * row, once untraced and once traced, the order alternating from query
  * to query; only the traced execution registers listeners.
  */
object Harness {
  /** A query name that is not in `SparkEntry.queries`: it throws inside
    * the timed region, so the failure accounting can be tested end to end. */
  val Injected = "perfbench_injected_failure"

  /** Executions of each query a loop makes even when they take longer than
    * `--seconds`, so a run has two samples of each query on a slow host. A
    * traced deck executes each query twice. */
  val MinExecutions = 2

  /** Whether the loop starts another deck: while it has made fewer than
    * `MinExecutions` of each query, or while the deck, judged by the last
    * one, would end nearer the time budget than stopping now. */
  def nextDeck(executions: Int, elapsedS: Double, lastDeckS: Double,
      budgetS: Double): Boolean =
    executions < MinExecutions || elapsedS + lastDeckS / 2 < budgetS

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // Spans are recorded with nanoTime and reported in epoch milliseconds,
  // the clock Spark's listener events carry.
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def main(args: Array[String]): Unit =
    run(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One query's record. Times are epoch ms: `t0` closure call, `t1`
    * closure returned (sink starts), `t2` sink finished (release starts),
    * `t3` release finished. A failed query keeps the times it reached. */
  final class QueryRec(val name: String, val deck: Int, val traced: Boolean) {
    var t0, t1, t2, t3 = 0.0
    var cpuS = 0.0
    var error: Option[String] = None
    var cacheFrames = 0
    var cacheBytes = 0L
    val jobs = ArrayBuffer.empty[Array[Double]]   // start, end, stages
    var stages = 0
    val tasks = ArrayBuffer.empty[Array[Double]]
    val qes = ArrayBuffer.empty[Array[Double]]    // see Recorder.onSuccess
  }

  /** Attributes Spark events to the running query through the
    * `perfbench.qid` local property set on the client thread; Spark copies
    * local properties to every job the thread (or a SQL execution it
    * starts) submits. */
  final class Recorder extends org.apache.spark.scheduler.SparkListener
      with QueryExecutionListener {
    import org.apache.spark.scheduler._
    @volatile var current: QueryRec = _
    private val byQid = new java.util.concurrent.ConcurrentHashMap[String, QueryRec]()
    private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, QueryRec]()
    private val jobOwner = new java.util.concurrent.ConcurrentHashMap[Int, (QueryRec, Array[Double])]()

    def register(qid: String, q: QueryRec): Unit = byQid.put(qid, q)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val qid = Option(e.properties).map(_.getProperty("perfbench.qid")).orNull
      val q = if (qid == null) null else byQid.get(qid)
      if (q != null) {
        val rec = Array(e.time.toDouble, Double.NaN, e.stageIds.size.toDouble)
        q.synchronized(q.jobs += rec)
        jobOwner.put(e.jobId, (q, rec))
        e.stageIds.foreach(id => stageOwner.put(id, q))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOwner.remove(e.jobId)).foreach { case (_, rec) =>
        rec(1) = e.time.toDouble }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach(q =>
        q.synchronized(q.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { q =>
        val i = e.taskInfo
        val m = e.taskMetrics
        val rec =
          if (m == null) Array(i.launchTime.toDouble, i.finishTime.toDouble,
            0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
          else Array(i.launchTime.toDouble, i.finishTime.toDouble,
            m.executorRunTime.toDouble, m.executorCpuTime.toDouble,
            m.jvmGCTime.toDouble, m.inputMetrics.bytesRead.toDouble,
            m.shuffleWriteMetrics.bytesWritten.toDouble,
            m.shuffleWriteMetrics.recordsWritten.toDouble,
            m.shuffleReadMetrics.totalBytesRead.toDouble,
            m.shuffleReadMetrics.recordsRead.toDouble,
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
            m.shuffleReadMetrics.fetchWaitTime.toDouble)
        q.synchronized(q.tasks += rec)
      }

    /** Query executions are delivered after they finish; the bus is
      * drained before the next query starts, so `current` is still the
      * query they belong to. Record: analysis, optimization and planning
      * ms, nodes and exchanges of the final executed plan, and 1 when the
      * execution is a write command (the sink). */
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val q = current
      if (q != null) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val nodes = planNodes(qe.executedPlan)
        val exch = nodes.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        }
        val isSink = if (funcName == "save" || funcName == "command") 1.0 else 0.0
        q.synchronized(q.qes += Array(ms("analysis"), ms("optimization"),
          ms("planning"), nodes.size.toDouble, exch.toDouble, isSink))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every node of a physical plan, looking through adaptive plans (their
    * final plan), query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def run(opts: Map[String, String]): Unit = {
    val cores = opts("cores").toInt
    val traced = opts("trace") == "1"
    val dir = opts("data")
    val out = Paths.get(opts("out"))
    val lines = Files.readAllLines(Paths.get(opts("plan")), UTF_8).asScala
      .map(_.trim.split("\\s+").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    val distinct = lines.head
    val decks = lines.tail.toIndexedSeq

    val spark = session(cores, out.toString)
    val sc = spark.sparkContext
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    def fn(name: String): (SparkSession, String) => DataFrame =
      if (name == Injected) (_, _) => throw new RuntimeException("injected failure")
      else graft.SparkEntry.queries(name)

    // Cold pass: the first call of each distinct query on this run's fresh
    // data dir builds its fixtures; its result is kept for the oracle check.
    val results = out.resolve("results")
    val cold = ArrayBuffer.empty[(String, Double, Option[String])]
    val coldT = System.nanoTime()
    distinct.foreach { name =>
      val t = System.nanoTime()
      val err =
        try {
          fn(name)(spark, dir).write.mode("overwrite")
            .parquet(results.resolve(name).toString)
          None
        } catch { case e: Throwable => Some(describe(e)) }
        finally graft.llm.CacheScope.global.release()
      cold += ((name, (System.nanoTime() - t) / 1e9, err))
    }
    val fixtureS = (System.nanoTime() - coldT) / 1e9
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // The closed loop over whole decks, so every run has the same query
    // mix. Traced, each query runs as a pair, untraced and traced back to
    // back, so trace_overhead compares the same query under the same host
    // conditions; the order alternates, since the second execution of a
    // pair is the faster one.
    val budgetS = opts("seconds").toDouble
    val recorder = if (traced) Some(new Recorder) else None
    val recs = ArrayBuffer.empty[QueryRec]
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    var d, i = 0
    var lastDeckS = 0.0
    val perDeck = if (traced) 2 else 1
    while (d < decks.size && nextDeck(d * perDeck,
        (System.nanoTime() - t0) / 1e9, lastDeckS, budgetS)) {
      val ds = System.nanoTime()
      for (name <- decks(d)) {
        val modes = if (!traced) Seq(false)
          else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        for (tr <- modes) {
          val q = new QueryRec(name, d, tr)
          if (tr) recorder.foreach { r =>
            sc.addSparkListener(r)
            spark.listenerManager.register(r)
          }
          timedQuery(spark, fn, dir, q, if (tr) recorder else None)
          if (tr) recorder.foreach { r =>
            spark.listenerManager.unregister(r)
            sc.removeSparkListener(r)
          }
          recs += q
        }
        i += 1
      }
      lastDeckS = (System.nanoTime() - ds) / 1e9
      d += 1
    }
    val loopWallS = (System.nanoTime() - t0) / 1e9
    val loopCpuS = (osBean.getProcessCpuTime - c0) / 1e9

    val peakRssMb = procStatusKb("VmHWM") / 1024.0
    writeOracle(results.resolve("oracle_sql.json"), distinct)
    Files.writeString(out.resolve("trace.json"), Json.obj(Seq(
      "cores" -> Json.num(cores),
      "setup" -> Json.obj(Seq(
        "session_s" -> Json.num(sessionS), "fixture_s" -> Json.num(fixtureS),
        "setup_s" -> Json.num(setupS))),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "cold" -> Json.arr(cold.map { case (n, w, e) => Json.obj(Seq(
        "name" -> Json.str(n), "wall_s" -> Json.num(w),
        "error" -> e.map(Json.str).getOrElse("null"))) }),
      "loop" -> Json.obj(Seq("decks" -> Json.num(d), "wall_s" -> Json.num(loopWallS),
        "cpu_s" -> Json.num(loopCpuS),
        "queries" -> Json.arr(recs.map(render)))))), UTF_8)
    spark.stop()
  }

  /** One closed-loop query: the closure call, the noop sink and the
    * release, each a span under the query span. With a recorder, Spark's
    * events are attributed to the query and the listener bus is drained
    * after the release, outside the query's latency. */
  private def timedQuery(
      spark: SparkSession, fn: String => (SparkSession, String) => DataFrame,
      dir: String, q: QueryRec, recorder: Option[Recorder]): Unit = {
    val sc = spark.sparkContext
    recorder.foreach { r =>
      val qid = java.util.UUID.randomUUID().toString
      r.register(qid, q)
      r.current = q
      sc.setLocalProperty("perfbench.qid", qid)
    }
    val c0 = osBean.getProcessCpuTime
    q.t0 = nowMs()
    q.t1 = q.t0
    q.t2 = q.t0
    try {
      val df = fn(q.name)(spark, dir)
      q.t1 = nowMs()
      if (recorder.isDefined) {
        val an = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs.toDouble).getOrElse(0.0)
        q.synchronized(q.qes += Array(an, 0, 0, 0, 0, -1))
      }
      q.t2 = q.t1
      df.write.format("noop").mode("overwrite").save()
      q.t2 = nowMs()
    } catch {
      case e: Throwable =>
        q.error = Some(describe(e))
        val t = nowMs()
        if (q.t1 == q.t0) q.t1 = t
        q.t2 = t
    } finally {
      if (recorder.isDefined) {
        q.cacheFrames = sc.getPersistentRDDs.size
        q.cacheBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      graft.llm.CacheScope.global.release()
      q.t3 = nowMs()
      q.cpuS = (osBean.getProcessCpuTime - c0) / 1e9
      recorder.foreach { r =>
        sc.setLocalProperty("perfbench.qid", null)
        org.apache.spark.PerfbenchBus.drain(sc)
        r.current = null
      }
    }
  }

  private def render(q: QueryRec): String = q.synchronized {
    def rows(xs: Iterable[Array[Double]]) =
      Json.arr(xs.map(a => Json.arr(a.toSeq.map(Json.num))))
    Json.obj(Seq(
      "name" -> Json.str(q.name), "deck" -> Json.num(q.deck),
      "traced" -> q.traced.toString,
      "t" -> Json.arr(Seq(q.t0, q.t1, q.t2, q.t3).map(Json.num)),
      "cpu_s" -> Json.num(q.cpuS),
      "error" -> q.error.map(Json.str).getOrElse("null"),
      "cache_frames" -> Json.num(q.cacheFrames),
      "cache_bytes" -> Json.num(q.cacheBytes.toDouble),
      "stages" -> Json.num(q.stages),
      "jobs" -> rows(q.jobs), "tasks" -> rows(q.tasks), "qes" -> rows(q.qes)))
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  private def procStatusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  private def writeOracle(path: Path, names: Seq[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(path, Json.obj(names.distinct.flatMap(n =>
      sql.get(n).map(s => n -> Json.str(s)))), UTF_8)
  }
}

/** Just enough JSON writing for the trace; run.py parses it. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
