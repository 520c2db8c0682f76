package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the calls the benchmark makes into the program. */
trait Probe {
  def op[T](name: String, pass: Int)(body: => T): T
  def phase[T](name: String)(body: => T): T
}

object NoProbe extends Probe {
  def op[T](name: String, pass: Int)(body: => T): T = body
  def phase[T](name: String)(body: => T): T = body
}

/** Wall clock in epoch microseconds with nanoTime resolution, on the same
  * scale as Spark's listener-event times (epoch milliseconds). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

final class Span(val id: Int, val parent: Int, val name: String, val pass: Int,
    val startUs: Long) {
  var endUs: Long = -1L
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def covers(tUs: Long): Boolean = tUs >= startUs && tUs <= endUs
}

/** The traced run's recorder. Spans stay in memory; Spark's listener,
  * query-execution and codegen events are attributed to them after each
  * traced pass, and everything is written as one JSON document at exit.
  *
  * Attribution: jobs carry the span id of the phase that issued them as
  * their job group; jobs without a known group (pools created before the
  * group was set) fall back to the time window. Tasks follow their stage's
  * job. Query executions are placed by the end of their planning phase,
  * block updates by arrival time.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener
    with QueryExecutionListener with Probe {
  private val sc = spark.sparkContext

  private final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)
  private final case class Task(job: Int, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, delayMs: Long, shuffleWrite: Long,
      shuffleRead: Long, fetchWaitMs: Long, spill: Long, rowsIn: Long,
      bytesIn: Long, rowsOut: Long, bytesOut: Long)
  private final case class Exec(planEndMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stagesDone = mutable.ArrayBuffer.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val blockSizes = mutable.Map.empty[String, Long]
  private val cacheSeries = mutable.ArrayBuffer.empty[(Long, Long)]

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var currentOp: Span = _
  private val passOps = mutable.ArrayBuffer.empty[Span]
  private val perPass = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]

  // ---- probe -----------------------------------------------------------

  private def open(name: String, parent: Int, pass: Int): Span = {
    val s = new Span(spans.size, parent, name, pass, Clock.us)
    spans += s
    s
  }

  /** Counters read around a span: codegen and filesystem totals. */
  private def snapshot(): Map[String, Double] =
    Map("codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble) ++
      CountingLocalFs.snapshot()

  def op[T](name: String, pass: Int)(body: => T): T = {
    val s = open(name, -1, pass)
    currentOp = s
    val before = snapshot()
    try body finally {
      s.endUs = Clock.us
      snapshot().foreach { case (k, v) => s.counts(k) = v - before.getOrElse(k, 0.0) }
      passOps += s
    }
  }

  def phase[T](name: String)(body: => T): T = {
    val o = currentOp
    val s = open(name, o.id, o.pass)
    sc.setJobGroup(s"perfbench-${s.id}", s"${o.name}/$name", interruptOnCancel = false)
    try body finally {
      s.endUs = Clock.us
      sc.clearJobGroup()
    }
  }

  // ---- listeners ---------------------------------------------------------

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    CountingLocalFs.enabled = true
  }

  /** Ends a traced pass: drains the listener bus, attributes the pass's
    * events to its operations and keeps the per-pass sums. */
  def detach(): Unit = {
    CountingLocalFs.enabled = false
    BusAccess.drain(sc)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
    synchronized {
      val sums = mutable.LinkedHashMap.empty[String, Double]
      passOps.foreach { s =>
        attribute(s)
        s.counts.foreach { case (k, v) =>
          sums(k) = if (k == "cache.peak_bytes") math.max(sums.getOrElse(k, 0.0), v)
            else sums.getOrElse(k, 0.0) + v
        }
      }
      sums("sched.slot_util") = ratio(sums.getOrElse("exec.run_s", 0.0),
        sums.getOrElse("op.wall_s", 0.0) * cores)
      sums("exec.cpu_frac") = ratio(sums.getOrElse("exec.cpu_s", 0.0),
        sums.getOrElse("exec.run_s", 0.0))
      perPass += sums
      passOps.clear()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(e.jobId, group.getOrElse(""), e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val run = m.executorRunTime
      val delay = math.max(0L, i.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks += Task(stageJob.getOrElse(e.stageId, -1), i.finishTime,
        run, m.executorCpuTime, m.jvmGCTime, delay, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      if (b.storageLevel.isValid) blockSizes(id) = b.memSize + b.diskSize
      else blockSizes.remove(id)
      cacheSeries += ((System.currentTimeMillis(), blockSizes.values.sum))
    }
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val end = ph.get("planning").orElse(ph.get("optimization")).orElse(ph.get("analysis"))
      .map(_.endTimeMs).getOrElse(System.currentTimeMillis())
    execs += Exec(end, ms("analysis"), ms("optimization"), ms("planning"))
  }

  // ---- attribution -------------------------------------------------------

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Union length (µs) of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def attribute(op: Span): Unit = {
    val children = spans.filter(_.parent == op.id).toSeq
    val groupOf = children.map(c => s"perfbench-${c.id}" -> c).toMap
    def inOp(tMs: Long) = op.covers(tMs * 1000)
    // jobs: by group, else by start time within the op
    val opJobs = jobs.values.filter(j => groupOf.contains(j.group) ||
      (!j.group.startsWith("perfbench-") && inOp(j.startMs))).toSeq
    val jobIds = opJobs.map(_.id).toSet
    val jobSpans = opJobs.map { j =>
      val parent = groupOf.get(j.group)
        .orElse(children.find(_.covers(j.startMs * 1000))).getOrElse(op)
      val end = if (j.endMs > 0) j.endMs else j.startMs
      val s = new Span(spans.size, parent.id, s"job/${j.id}", op.pass, j.startMs * 1000)
      s.endUs = end * 1000
      spans += s
      s
    }
    val opTasks = tasks.filter(t => jobIds.contains(t.job))
    val opExecs = execs.filter(x => inOp(x.planEndMs))
    val c = op.counts
    val wall = (op.endUs - op.startUs) / 1e6
    c("op.wall_s") = wall
    val build = children.find(_.name == "build")
    c("operators.build_s") = build.fold(0.0)(b => (b.endUs - b.startUs) / 1e6)
    c("operators.actions") = build.fold(0.0)(b => opExecs.count(x => b.covers(x.planEndMs * 1000)).toDouble)
    c("driver.nojob_s") = wall - covered(jobSpans.map(s => (s.startUs, s.endUs)), op.startUs, op.endUs) / 1e6
    c("plan.analysis_s") = opExecs.map(_.analysisMs).sum / 1e3
    c("plan.optimization_s") = opExecs.map(_.optimizationMs).sum / 1e3
    c("plan.planning_s") = opExecs.map(_.planningMs).sum / 1e3
    c("sched.jobs") = opJobs.size
    c("sched.stages") = stagesDone.count(s => stageJob.get(s).exists(jobIds.contains))
    c("sched.tasks") = opTasks.size
    c("sched.delay_s") = opTasks.map(_.delayMs).sum / 1e3
    c("sched.late_tasks") = opTasks.count(_.finishMs * 1000 > op.endUs)
    c("exec.run_s") = opTasks.map(_.runMs).sum / 1e3
    c("exec.cpu_s") = opTasks.map(_.cpuNs).sum / 1e9
    c("exec.gc_s") = opTasks.map(_.gcMs).sum / 1e3
    c("shuffle.write_bytes") = opTasks.map(_.shuffleWrite).sum
    c("shuffle.read_bytes") = opTasks.map(_.shuffleRead).sum
    c("shuffle.fetch_wait_s") = opTasks.map(_.fetchWaitMs).sum / 1e3
    c("shuffle.spill_bytes") = opTasks.map(_.spill).sum
    c("cache.peak_bytes") = (0L +: cacheSeries.filter(x => inOp(x._1)).map(_._2).toSeq).max
    c("sources.rows_read") = opTasks.map(_.rowsIn).sum
    c("sources.bytes_read") = opTasks.map(_.bytesIn).sum
    c("sinks.rows_written") = opTasks.map(_.rowsOut).sum
    c("sinks.bytes_written") = opTasks.map(_.bytesOut).sum
    c("sched.slot_util") = ratio(c("exec.run_s"), wall * cores)
    c("exec.cpu_frac") = ratio(c("exec.cpu_s"), c("exec.run_s"))
    tasks --= opTasks
  }

  /** Self time: a span's duration minus the part its children cover. */
  private def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startUs, k.endUs)).toSeq
    (s.endUs - s.startUs - covered(kids, s.startUs, s.endUs)) / 1e6
  }

  /** Writes the spans and the per-pass layer sums: `spans` holds every
    * span with its self time and counts, `layers` the median over traced
    * passes of each per-pass sum. */
  def finish(out: ObjectNode): Unit = synchronized {
    val arr = out.putArray("spans")
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id).put("parent", s.parent).put("name", s.name).put("pass", s.pass)
        .put("start_us", s.startUs).put("end_us", s.endUs).put("self_s", selfSeconds(s))
      val c = o.putObject("counts")
      s.counts.foreach { case (k, v) => c.put(k, v) }
    }
    val layers = out.putObject("layers")
    perPass.flatMap(_.keys).distinct.foreach { k =>
      val v = perPass.map(_.getOrElse(k, 0.0)).sorted
      layers.put(k, if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2)
    }
  }
}

/** A zero-delay counting `file:` filesystem: the local checksummed
  * filesystem Spark uses by default, counting metadata calls split by
  * the calling side (executor task threads vs the driver). */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.count
  override def listStatus(f: Path): Array[FileStatus] = { count("list"); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { count("stat"); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count("create")
    if (f.getName.startsWith("part-")) count("files")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count("rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count("delete"); super.delete(f, recursive) }
}

object CountingLocalFs {
  @volatile var enabled = false
  private val Kinds = Seq("list", "stat", "create", "rename", "delete")
  private val counters = (for (side <- Seq("driver", "exec"); k <- Kinds :+ "files")
    yield s"$side.$k" -> new AtomicLong).toMap

  def count(kind: String): Unit = if (enabled) {
    val side = if (Thread.currentThread.getName.startsWith("Executor task launch")) "exec" else "driver"
    counters(s"$side.$kind").incrementAndGet()
  }

  def snapshot(): Map[String, Double] = {
    val fs = for (side <- Seq("driver", "exec"); k <- Kinds)
      yield s"fs.$side.${k}_calls" -> counters(s"$side.$k").get.toDouble
    (fs :+ ("sinks.files_written" ->
      (counters("driver.files").get + counters("exec.files").get).toDouble)).toMap
  }

  /** Makes every later `file:` lookup in this JVM return a counting
    * instance: Hadoop caches one filesystem per scheme, so the first
    * lookup decides. */
  def install(): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), conf)
    System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
  }
}
