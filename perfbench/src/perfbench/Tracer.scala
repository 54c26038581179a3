package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op tracing from outside the program: Spark's listener bus (jobs,
  * stages, tasks, cached blocks), each executed query's planning tracker
  * (phase times, rule times), the plans' exchange and cached-scan
  * counts, codegen counters and the JVM's GC beans.
  *
  * The listeners are attached only while a traced op runs. An op's
  * spans (op, builder call, planning phases, jobs, stages, store commit
  * tail, result collection) share its trace id and are kept in memory
  * until `writeSpans`.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[String]
  private var nextSpan = 0L

  // filled on the listener-bus thread while one op is open
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private var blocks = 0L

  private var codegen0 = (0L, 0L)
  private var gc0 = 0L
  private var io0 = 0L
  private var peakCache = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty(OpProperty)).orNull
      jobs(e.jobId) = JobRec(e.time, -1L, e.stageIds, op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec).submitted =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec)
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitted < 0) s.submitted = e.stageInfo.submissionTime.getOrElse(s.completed)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec)
      s.tasks += 1
      val info = e.taskInfo
      if (s.submitted > 0) s.waitMs += math.max(0L, info.launchTime - s.submitted)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid) blocks += 1
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    val graftNs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum
    val plan: Option[SparkPlan] =
      try Some(qe.executedPlan) catch { case _: Exception => None }
    val exchanges = plan.map(p => PlanWalk.collectWithSubqueries(p) { case e: Exchange => e }.size)
    val cached = plan.map(p =>
      PlanWalk.collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }.size)
    queries += QueryRec(phases, graftNs, exchanges.getOrElse(0), cached.getOrElse(0))
  }

  def begin(opId: Int): Unit = {
    jobs.clear(); stages.clear(); queries.clear(); blocks = 0L
    codegen0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    gc0 = gcMs()
    io0 = readChars()
    sc.setLocalProperty(OpProperty, opId.toString)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Closes the op's trace; returns its per-op counters. */
  def end(opId: Int, op: Driver.Op, t0: Long, tb: Long, t1: Long): Seq[(String, Any)] = {
    PerfbenchBus.drain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    sc.setLocalProperty(OpProperty, null)
    val cacheBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakCache = math.max(peakCache, cacheBytes)
    val codegenN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._1
    val codegenNs = CodeGenerator.compileTime - codegen0._2

    val root = span(opId, -1, "op:" + op.name, "op", t0, t1,
      Seq("kind" -> op.kind, "table" -> op.table))
    val build = span(opId, root, "build", "ops", t0, tb, Nil)
    val collect = if (t1 > tb) span(opId, root, "collect", "collect", tb, t1, Nil) else -1L
    def parentAt(us: Long): Long = if (us < tb || collect < 0) build else collect
    queries.foreach { q =>
      Seq("analysis", "optimization", "planning").foreach { ph =>
        q.phases.get(ph).foreach { case (s, e) =>
          span(opId, parentAt(s * 1000), ph, "plan", s * 1000, e * 1000, Nil)
        }
      }
    }
    var lastJobEnd = -1L
    var buildJobs = 0
    jobs.foreach { case (id, j) =>
      val js = j.start * 1000
      val je = if (j.end > 0) j.end * 1000 else t1
      lastJobEnd = math.max(lastJobEnd, je)
      if (js < tb) buildJobs += 1
      val jspan = span(opId, parentAt(js), "job", "exec", js, je, Seq("job" -> id, "op_property" -> j.op))
      j.stageIds.flatMap(stages.get).filter(_.completed > 0).foreach { s =>
        span(opId, jspan, "stage", "exec", s.submitted * 1000, s.completed * 1000,
          Seq("tasks" -> s.tasks))
      }
    }
    // a statement commits after its last job: manifest write and rename
    val commitMs = if (op.kind != "read" && lastJobEnd > t0 && lastJobEnd < tb) {
      span(opId, build, "commit", "store", lastJobEnd, tb, Nil)
      (tb - lastJobEnd) / 1000.0
    } else 0.0

    val st = stages.values.filter(_.completed > 0)
    Seq(
      "jobs" -> jobs.size, "build_jobs" -> buildJobs, "stages" -> st.size,
      "tasks" -> st.map(_.tasks).sum,
      "task_run_ms" -> st.map(_.runMs).sum, "task_cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
      "task_gc_ms" -> st.map(_.gcMs).sum, "task_wait_ms" -> st.map(_.waitMs).sum,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
      "spill_bytes" -> st.map(_.spill).sum, "input_bytes" -> st.map(_.input).sum,
      "graft_rules_ms" -> queries.map(_.graftNs).sum / 1e6,
      "exchanges" -> queries.map(_.exchanges).sum,
      "cached_scans" -> queries.map(_.cachedScans).sum,
      "codegen_compiles" -> codegenN, "codegen_ms" -> codegenNs / 1e6,
      "gc_ms" -> (gcMs() - gc0), "read_bytes" -> (readChars() - io0), "cache_bytes" -> cacheBytes,
      "blocks_written" -> blocks, "commit_ms" -> commitMs)
  }

  /** Run-level values of the traced run. */
  def globals(): Map[String, Any] = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Map("cache_peak_bytes" -> peakCache, "heap_live_mb" -> heap / 1048576.0)
  }

  def writeSpans(path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, spans.asJava, StandardCharsets.UTF_8)
  }

  private def span(trace: Int, parent: Long, name: String, layer: String,
      start: Long, end: Long, attrs: Seq[(String, Any)]): Long = {
    nextSpan += 1
    spans += Json.obj(Seq("trace" -> trace, "id" -> nextSpan,
      "parent" -> (if (parent < 0) null else parent), "name" -> name,
      "layer" -> layer, "start" -> start, "end" -> math.max(start, end)) ++ attrs: _*)
    nextSpan
  }

  /** Bytes this JVM read through read system calls (`rchar` of
    * /proc/self/io): file bytes a scan opened, whether or not the page
    * cache served them. 0 where the file does not exist. */
  private def readChars(): Long = {
    val f = Paths.get("/proc/self/io")
    if (!Files.exists(f)) return 0L
    Files.readAllLines(f).asScala.collectFirst {
      case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

object Tracer {
  val OpProperty = "perfbench.op"

  final case class JobRec(start: Long, end: Long, stageIds: Seq[Int], op: String)

  final class StageRec {
    var submitted = -1L
    var completed = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
  }

  final case class QueryRec(phases: Map[String, (Long, Long)], graftNs: Long,
      exchanges: Int, cachedScans: Int)

  object PlanWalk extends AdaptiveSparkPlanHelper
}
