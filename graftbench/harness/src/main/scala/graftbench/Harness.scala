package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.{BusDrain, SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Closed-loop runner: one client, one query at a time, in a fixed order
  * per pass, over `SparkEntry.queries`. Each query is timed in three
  * phases from outside the program:
  *
  *  - build: calling the query function (size-gate samples and eager
  *    checkpoints run here);
  *  - plan: `queryExecution.executedPlan` (Catalyst and graft's rules);
  *  - exec: running that same executed plan with every output row
  *    materialized and discarded — what the `noop` sink does, without
  *    the second Catalyst pass a `df.write` would make.
  *
  * Pass 0 is the cold pass of a fresh JVM, run as a one-shot job would:
  * build, then write each result as parquet (plan, run and write in one
  * action); the oracle check reads those files. Pass 1 is an untimed
  * warm-up; measured warm passes follow until the time budget is spent.
  * With tracing on, measured passes alternate traced and untraced, so
  * the tracing overhead is measured in the same JVM. Everything goes to `<out>/result.json` (and, traced,
  * `<out>/spans.jsonl`).
  *
  * Args are key=value: data, out, queries (comma list), seconds, trace
  * (0|1), cores, sources (comma list of graft source file names, used to
  * attribute jobs to the file whose code fired them).
  */
object Harness {

  final case class Span(id: Int, parent: Int, name: String, pass: Int,
                        query: String, startMs: Double, endMs: Double)

  final case class QueryRun(pass: Int, kind: String, traced: Boolean,
                            q: String, buildS: Double, planS: Double,
                            execS: Double, err: Option[String])

  private val t0Nanos = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6

  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val data = kv("data")
    val out = kv("out")
    val names = kv("queries").split(',').filter(_.nonEmpty).toSeq
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val cores = kv("cores").toInt
    val sources = kv.getOrElse("sources", "").split(',').filter(_.nonEmpty).toSet
    new File(out).mkdirs()

    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val tables = Option(new File(data).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
      .sorted.toSeq
    require(tables.nonEmpty, s"no parquet inputs in $data")

    // --- set-up: JVM start -> session ready + inputs registered, then
    // the session is rebuilt twice more in this JVM
    val setupS = mutable.ArrayBuffer[Double]()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, out)
    register(spark, data, tables)
    setupS += (System.currentTimeMillis() - jvmStart) / 1e3
    for (_ <- 1 to 2) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t = System.nanoTime()
      spark = session(cores, out)
      register(spark, data, tables)
      setupS += (System.nanoTime() - t) / 1e9
    }
    val sc = spark.sparkContext

    val shuffle = new ShuffleCounter
    sc.addSparkListener(shuffle)
    val tracer = new Tracer(sources)
    if (trace) sc.addSparkListener(tracer)

    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    System.gc()
    oldGen.foreach(_.resetPeakUsage())

    val runs = mutable.ArrayBuffer[QueryRun]()
    val coldErr = mutable.Map[String, String]()
    val spans = mutable.ArrayBuffer[Span]()
    val passStats = mutable.ArrayBuffer[mutable.Map[String, Double]]()
    // spans are kept only in traced runs; untraced runs record nothing
    def span(parent: Int, name: String, pass: Int, q: String, s: Double,
             e: Double = 0): Int = {
      if (trace) spans += Span(spans.size, parent, name, pass, q, s, e)
      spans.size - 1
    }
    def close(id: Int): Unit =
      if (trace) spans(id) = spans(id).copy(endMs = nowMs)
    val runSpan = span(-1, "run", -1, "", nowMs)

    def runPass(pass: Int, kind: String, traced: Boolean): Double = {
      val tag = if (traced) "T" else "U"
      val ps = mutable.Map[String, Double]()
      val passSpan = span(runSpan, kind, pass, "", nowMs)
      val cg0 = CodeGenerator.compileTime
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var wall = 0.0
      for (q <- names) {
        val qSpan = span(passSpan, "query", pass, q, nowMs)
        val gc0 = gcMs()
        val times = Array(0.0, 0.0, 0.0)
        var err: Option[String] = None
        var df: DataFrame = null
        var plan: SparkPlan = null
        def phase(i: Int, name: String)(body: => Unit): Unit = if (err.isEmpty) {
          sc.setJobGroup(s"$tag|$pass|$q|$name", null, interruptOnCancel = false)
          val s = nowMs
          try body
          catch { case e: Throwable => err = Some(message(e)) }
          val e = nowMs
          times(i) = (e - s) / 1e3
          span(qSpan, name, pass, q, s, e)
        }
        phase(0, "build") { df = SparkEntry.queries(q)(spark, data) }
        if (kind == "cold") {
          // the cold pass is a one-shot job: plan, run and write each
          // result as parquet, which the oracle check then reads
          phase(2, "write") { df.write.mode("overwrite").parquet(s"$out/results/$q") }
          err.foreach(coldErr(q) = _)
        } else {
          phase(1, "plan") { plan = df.queryExecution.executedPlan }
          phase(2, "exec") {
            val qe = df.queryExecution
            SQLExecution.withNewExecutionId(qe, Some(s"graftbench $q")) {
              qe.toRdd.foreach(_ => ())
            }
          }
        }
        sc.clearJobGroup()
        close(qSpan)
        if (traced) add(ps, "jvm.gc_ms", (gcMs() - gc0).toDouble)
        wall += times.sum
        runs += QueryRun(pass, kind, traced, q, times(0), times(1), times(2), err)
        if (traced && err.isEmpty && plan != null) {
          planCounts(plan, ps)
          df.queryExecution.tracker.phases.foreach { case (ph, s) =>
            add(ps, s"plan.${ph}_ms", s.durationMs.toDouble)
          }
        }
        // blocks the query left registered, read before they are dropped
        if (traced) {
          add(ps, "cache.rdds_left", sc.getPersistentRDDs.size.toDouble)
          add(ps, "cache.block_mb", sc.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0)
        }
        // untimed: drop what the query cached and collect its garbage, so
        // neither is billed to the next query
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
      }
      close(passSpan)
      if (traced) {
        ps("pass_s") = wall
        ps("codegen.compile_ms") = (CodeGenerator.compileTime - cg0) / 1e6
        ps("codegen.classes") =
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0).toDouble
        ps("pass") = pass
        passStats += ps
      }
      wall
    }

    // --- timed passes: cold, one untimed warm-up pass (JIT and codegen
    // are still settling after the cold pass), then measured warm passes
    // until the time budget, counted from the warm-up, is spent
    runPass(0, "cold", trace)
    val warmStart = System.nanoTime()
    runPass(1, "warmup", traced = false)
    BusDrain(sc)
    val shuffle0 = shuffle.bytes.get
    var pass = 2
    var untraced = 0
    def budgetLeft = (System.nanoTime() - warmStart) / 1e9 < seconds
    while (budgetLeft || untraced < 2) {
      val traced = trace && pass % 2 == 0
      runPass(pass, "warm", traced)
      if (!traced) untraced += 1
      pass += 1
    }
    BusDrain(sc)
    val warmShuffleBytes = shuffle.bytes.get - shuffle0
    val heapPeakMb = oldGen.map(_.getPeakUsage.getUsed).sum / 1048576.0

    close(runSpan)
    if (trace) tracer.fold(passStats.toSeq, cores)
    spark.stop()

    val oracle = names.map(q => q -> SparkEntry.oracleSql.get(q))
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""setup_s":${setupS.mkString("[", ",", "]")},"""
    json ++= s""""warm_shuffle_bytes":$warmShuffleBytes,"""
    json ++= s""""heap_peak_mb":$heapPeakMb,"""
    json ++= "\"runs\":" + runs.map { r =>
      s"""{"pass":${r.pass},"kind":${str(r.kind)},"traced":${r.traced},"q":${str(r.q)},""" +
        s""""build_s":${r.buildS},"plan_s":${r.planS},"exec_s":${r.execS},""" +
        s""""err":${r.err.map(str).getOrElse("null")}}"""
    }.mkString("[", ",", "]") + ","
    json ++= "\"cold_err\":" + coldErr.map { case (k, v) => s"${str(k)}:${str(v)}" }
      .mkString("{", ",", "}") + ","
    json ++= "\"oracle\":" + oracle.map { case (k, v) =>
      s"${str(k)}:${v.map(str).getOrElse("null")}" }.mkString("{", ",", "}") + ","
    json ++= "\"job_sites\":" + tracer.sites.toSeq.sortBy(-_._2._2).map {
      case (k, (n, ms)) => s"${str(k)}:[$n,$ms]" }.mkString("{", ",", "}") + ","
    json ++= "\"traced_passes\":" + passStats.map { ps =>
      ps.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    json ++= "}"
    Files.write(Paths.get(s"$out/result.json"),
      json.toString.getBytes(StandardCharsets.UTF_8))
    if (trace) {
      val w = new PrintWriter(s"$out/spans.jsonl", "UTF-8")
      try spans.foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"pass":${s.pass},""" +
          s""""query":${str(s.query)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      } finally w.close()
    }
  }

  private def session(cores: Int, out: String): SparkSession = {
    val work = new File(out).getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Inputs are registered once the parquet footers are read and each
    * table is a named view: the state a user session is in before its
    * first query. */
  private def register(spark: SparkSession, data: String, tables: Seq[String]): Unit =
    tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Node counts and graft operator metrics from the final (AQE) plan. */
  private def planCounts(plan: SparkPlan, ps: mutable.Map[String, Double]): Unit = {
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => add(ps, "plan.exchanges", 1)
        case _: BroadcastNestedLoopJoinExec => add(ps, "plan.bnlj", 1)
        case _: CartesianProductExec => add(ps, "plan.cartesian", 1)
        case _ =>
      }
      val cls = p.getClass
      if (cls.getName.startsWith("graft.")) {
        if (cls.getSimpleName == "IntervalSweepJoinExec") add(ps, "plan.sweep_joins", 1)
        p.metrics.foreach { case (m, metric) =>
          add(ps, s"op.${cls.getSimpleName}.$m", metric.value.toDouble)
        }
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
  }
}

/** Sum-only shuffle-write counter: the one listener an untraced run has. */
final class ShuffleCounter extends SparkListener {
  val bytes = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
}

/** Records jobs, stages and tasks of traced passes (job group prefix
  * "T|"), then folds them into per-pass metrics. A job is filed under the
  * innermost graft source file on the stack of the call that started it
  * (e.g. `Sizing.scala` for a size-gate sample), so sample and checkpoint
  * jobs show without touching the program. */
final class Tracer(sources: Set[String]) extends SparkListener {
  final case class Job(group: Array[String], site: String, file: String,
                       start: Long, var end: Long)
  final class StageAgg {
    val taskMs = mutable.ArrayBuffer[Long]()
    var cpuNs, gcMs, swBytes, srBytes, fetchMs, spillBytes, failed = 0L
    var wallMs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, Array[String]]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  // SQL execution id -> innermost graft frame of the calling stack that
  // started it; jobs AQE submits from its own threads carry the id
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val frame = """\(?([\w$]+)\.scala:\d+\)?""".r

  private def graftFrame(stack: String): Option[String] =
    stack.split('\n').find(l =>
      frame.findFirstMatchIn(l).exists(m => sources.contains(m.group(1))))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      graftFrame(s.details).foreach(execSite.put(s.executionId, _))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    if (group.startsWith("T|")) {
      val g = group.split('|')
      val site = prop("spark.sql.execution.id").flatMap(i => Option(execSite.get(i.toLong)))
        .orElse(graftFrame(prop("callSite.short")
          .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))))
        .map(_.trim).getOrElse("")
      val file = frame.findFirstMatchIn(site).map(_.group(1)).getOrElse("")
      jobs.put(e.jobId, Job(g, site, file, e.time, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageGroup.containsKey(e.stageId)) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        if (e.reason != Success) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.swBytes += m.shuffleWriteMetrics.bytesWritten
          a.srBytes += m.shuffleReadMetrics.totalBytesRead
          a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (stageGroup.containsKey(i.stageId))
      for (s <- i.submissionTime; c <- i.completionTime) {
        val a = stages.computeIfAbsent(i.stageId, _ => new StageAgg)
        a.synchronized { a.wallMs = c - s }
      }
  }

  /** Jobs of traced passes per call site: site -> (count, total ms). */
  def sites: Map[String, (Int, Long)] =
    jobs.values.asScala.groupBy(_.site).map { case (s, js) =>
      s -> (js.size, js.map(j => j.end - j.start).sum) }

  /** Add job and executor metrics to each traced pass's map. */
  def fold(passes: Seq[mutable.Map[String, Double]], cores: Int): Unit = {
    val byPass = passes.map(p => p("pass").toInt.toString -> p).toMap
    def put(m: mutable.Map[String, Double], k: String, v: Double): Unit =
      m(k) = m.getOrElse(k, 0.0) + v
    for (j <- jobs.values.asScala; m <- byPass.get(j.group(1))) {
      val phase = j.group(3)
      put(m, s"$phase.jobs", 1)
      if (j.file.nonEmpty) {
        put(m, s"jobs.${j.file}.n", 1)
        put(m, s"jobs.${j.file}.ms", (j.end - j.start).toDouble)
      }
    }
    for ((sid, a) <- stages.asScala; m <- byPass.get(stageGroup.get(sid)(1))) {
      put(m, "exec.stages", 1)
      put(m, "exec.tasks", a.taskMs.size)
      put(m, "exec.task_ms", a.taskMs.sum.toDouble)
      put(m, "exec.cpu_ms", a.cpuNs / 1e6)
      put(m, "exec.gc_ms", a.gcMs.toDouble)
      put(m, "exec.shuffle_write_mb", a.swBytes / 1048576.0)
      put(m, "exec.shuffle_read_mb", a.srBytes / 1048576.0)
      put(m, "exec.fetch_wait_ms", a.fetchMs.toDouble)
      put(m, "exec.spill_mb", a.spillBytes / 1048576.0)
      put(m, "exec.failed_tasks", a.failed.toDouble)
      put(m, "_stage_slot_ms", a.wallMs.toDouble * cores)
      if (a.taskMs.size >= 2) {
        val sorted = a.taskMs.sorted
        put(m, "_skew_max_ms", sorted.last.toDouble)
        put(m, "_skew_med_ms", sorted(sorted.size / 2).toDouble)
      }
    }
    for (m <- passes) {
      val slot = m.getOrElse("_stage_slot_ms", 0.0)
      m("exec.slot_util") = if (slot > 0) m.getOrElse("exec.task_ms", 0.0) / slot else 0.0
      val med = m.getOrElse("_skew_med_ms", 0.0)
      m("exec.task_skew") = if (med > 0) m.getOrElse("_skew_max_ms", 0.0) / med else 0.0
      Seq("_stage_slot_ms", "_skew_max_ms", "_skew_med_ms").foreach(m.remove)
    }
  }
}
