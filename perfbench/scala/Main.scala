package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** The benchmark's program side: one JVM, one SparkSession on
  * local[cores], one driver thread issuing the next operation only after
  * the previous one returned (a single-client closed loop).
  *
  * Usage: perfbench.Main <spec.json>
  *
  * The spec (written by run.py) names the workload, its inputs, the
  * measuring time and whether to trace. The raw measurements go to
  * `<work>/program.json`; run.py checks correctness and reduces them to
  * metrics. Exit code 3 means a set-up guard failed.
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readString(Paths.get(args(0))))
    val work = spec.get("work").asText()
    val traced = spec.get("trace").asBoolean()
    val cores = spec.get("cores").asInt()
    if (traced) CountingLocalFs.install()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = mapper.createObjectNode()
    out.put("jvm_start_ms", ManagementFactory.getRuntimeMXBean.getStartTime)
    val run = new Run(spark, spec, out, if (traced) Some(new Tracer(spark, cores)) else None)
    val code = try {
      spec.get("kind").asText() match {
        case "registry" => Registry.run(run)
        case "ingest" => Ingest.run(run)
      }
      0
    } catch { case g: GuardFailure =>
      System.err.println(s"perfbench: ${g.getMessage}")
      3
    }
    run.finish()
    Files.writeString(Paths.get(work, "program.json"), mapper.writeValueAsString(out))
    spark.stop()
    sys.exit(code)
  }
}

final class GuardFailure(msg: String) extends RuntimeException(msg)

/** State shared by a workload run: the session, the spec, the raw output
  * document, the optional tracer, and the timed-region bookkeeping. */
final class Run(val spark: SparkSession, val spec: JsonNode, val out: ObjectNode,
    val tracer: Option[Tracer]) {
  val seconds: Double = spec.get("seconds").asDouble()
  private val ops = out.putArray("ops")
  private val passes = out.putArray("passes")
  private var timedStartNs = 0L
  private var heapPeakMb = 0.0

  def strings(field: String): Seq[String] =
    spec.get(field).elements().asScala.map(_.asText()).toSeq

  /** Ends set-up: the next operation is the first timed one. */
  def startTimed(): Unit = {
    out.put("setup_end_ms", System.currentTimeMillis())
    timedStartNs = System.nanoTime()
  }

  def elapsed: Double = (System.nanoTime() - timedStartNs) / 1e9

  /** Whether pass `k` runs traced: a traced run alternates untraced and
    * traced passes, so each traced pass can be compared with the untraced
    * passes on either side of it. */
  def tracedPass(k: Int): Boolean = tracer.isDefined && k % 2 == 1

  /** Keep passing for at least the measuring time and at least three
    * passes; a traced run ends on an untraced pass. The process is still
    * warming up, so pass times fall from one pass to the next: a fixed
    * minimum keeps the measured passes the same on fast and slow hosts,
    * where a count set by time alone would not. */
  def morePasses(done: Int): Boolean =
    done < 3 || elapsed < seconds || (tracer.isDefined && done % 2 == 0)

  /** Times one operation. A failure is recorded (never as a fast success)
    * and the loop continues. */
  def op(name: String, pass: Int, traced: Boolean)(body: => Long): Double = {
    val t0 = System.nanoTime()
    val (rows, err) = try (body, null) catch {
      case e: Throwable => (-1L, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (pass >= 0) heapPeakMb = math.max(heapPeakMb, liveHeapMb())
    val o = ops.addObject()
    o.put("name", name).put("pass", pass).put("traced", traced)
      .put("wall_s", wall).put("rows", rows)
    if (err != null) { o.put("error", err); System.err.println(s"perfbench: $name failed: $err") }
    wall
  }

  /** Driver heap still live after an operation, before its cached data is
    * dropped: heap in use right after a full collection, untimed. The
    * heap in use after an ordinary collection depends on when the
    * collector last cleared the old generation, and moved by a third
    * between runs. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Spans for a traced operation; a no-op probe otherwise. */
  def probe(traced: Boolean): Probe = tracer.filter(_ => traced).getOrElse(NoProbe)
  def attach(traced: Boolean): Unit = if (traced) tracer.foreach(_.attach())
  def detach(traced: Boolean): Unit = if (traced) tracer.foreach(_.detach())

  def pass(index: Int, traced: Boolean, wall: Double): Unit =
    passes.addObject().put("index", index).put("traced", traced).put("wall_s", wall)

  /** Drops persisted and checkpointed data, then waits until no job or
    * task of the last operation is active. Returns the seconds waited. */
  def settle(): Double = {
    val t0 = System.nanoTime()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val st = spark.sparkContext.statusTracker
    val deadline = t0 + 30_000_000_000L
    def busy = st.getActiveJobIds().nonEmpty || st.getActiveStageIds().nonEmpty ||
      st.getExecutorInfos.exists(_.numRunningTasks > 0)
    while (busy && System.nanoTime() < deadline) Thread.sleep(1)
    (System.nanoTime() - t0) / 1e9
  }

  def finish(): Unit = {
    if (timedStartNs > 0) out.put("heap_peak_mb", heapPeakMb)
    tracer.foreach(_.finish(out))
  }
}
