package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSql, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The diagnostic run: Bench's exact loop (one timed noop write per
  * query, registry order) plus per-query attribution, to blame a
  * query's wall on driver actions, executor stages or GC before
  * touching it. Not part of the bench contract: never writes the bench
  * artifacts.
  *
  * Prints one summary line per query (wall, build = driver-side plan +
  * eager actions, GC delta, job count, executor task-time sum) and
  * writes `<outDir>/<query>.txt`: the formatted physical plan of the
  * executed write (the final AQE plan), then the top job sites and the
  * top stages by task-time with their shuffle volume. It also writes
  * `<outDir>/<query>.logical.txt`: the optimized logical plan of the
  * query's frame with expression, lambda-variable and RDD ids replaced
  * by placeholders, so two runs (or two builds) of an unchanged query
  * give byte-equal files where the executed AQE plan may not.
  *
  * Usage: BenchDiag [outDir, default /tmp/plans]; SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS and -DgraftBenchOnly as for Bench.
  *
  * Caveat: executor task-time is task WALL, not CPU — a fresh query's
  * first task wave blocks on the codegen compile KeyLock, so wide
  * stages of a cold query accrue large task-time with healthy wall;
  * compare task-time only between variants of the same stage width.
  */
object BenchDiag {
  private final case class StageRec(id: Int, name: String, tasks: Int,
      ms: Long, shWkb: Long, shWrec: Long, shRkb: Long)

  /** A plan string with its run-specific ids replaced: `#<id>`
    * expression ids, the counter suffix of lambda variables (`x_12`),
    * RDD ids (`MapPartitionsRDD[7]`), the `plan_id`s and query stage
    * numbers of cached physical plans, and JVM lambda class names and
    * identity hashes (`Queries$$$Lambda$6992/0x00007ff381934c08@3f8a`). */
  private[graft] def stableIds(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("\\b(\\w+)_\\d+(?=#N)", "$1_N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("QueryStage \\d+", "QueryStage N")
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+", "\\$Lambda")
      .replaceAll("(\\w)@\\p{XDigit}+\\b", "$1@N")

  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args.headOption.getOrElse("/tmp/plans"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(outDir)
    val only = sys.props.get("graftBenchOnly")
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
      .map(_.split(",").map(_.trim).toSet)
    val taskTime = new AtomicLong
    val stages = new ConcurrentLinkedQueue[StageRec]
    val jobSites = new ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobSites.add(j.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name.takeWhile(_ != '\n').take(70)).getOrElse("?")): Unit
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo; val m = si.taskMetrics
        taskTime.addAndGet(m.executorRunTime): Unit
        stages.add(StageRec(si.stageId, si.name.takeWhile(_ != '\n').take(70),
          si.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten / 1024,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead / 1024)): Unit
      }
    })
    // the noop write is the last execution a query runs, so the last
    // successful execution holds its final AQE plan
    val lastExec = new AtomicReference[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastExec.set(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def gcMs: Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(n => graft.sources.Tables(spark, sfDir, n).limit(1).count())
      SparkEntry.queries.headOption.foreach(_._2(spark, sfDir).limit(1).count())
    } catch { case _: Throwable => () }
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(sel => sel.exists(n.startsWith)) }
    selected.foreach { case (name, fn) =>
      GraftSql.drainListenerBus(spark)
      val gc0 = gcMs; taskTime.set(0); stages.clear(); jobSites.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      df.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSql.drainListenerBus(spark)
      val summary = f"$name%-32s wall $sec%7.2f  build $tBuild%6.2f  " +
        f"gc ${(gcMs - gc0) / 1000.0}%6.2f  jobs ${jobSites.size}%3d  " +
        f"taskTime ${taskTime.get / 1000.0}%8.1f s"
      println(summary)
      val sb = new StringBuilder(s"== $name (sf=$sfDir) ==\n$summary\n\n")
      sb.append(lastExec.get.explainString(FormattedMode))
      sb.append("\n\n== top job sites ==\n")
      jobSites.asScala.toSeq.groupBy(identity).toSeq
        .sortBy(-_._2.size).take(15).foreach { case (site, js) =>
          sb.append(f"  job x${js.size}%3d  $site\n")
        }
      sb.append("\n== top stages by executor task-time ==\n")
      stages.asScala.toSeq.sortBy(-_.ms).take(15).foreach { s =>
        sb.append(f"  stage ${s.id}%4d tasks ${s.tasks}%3d " +
          f"ms ${s.ms}%7d  shW ${s.shWkb}%8d KB/${s.shWrec}%9d rec " +
          f"shR ${s.shRkb}%8d KB  ${s.name}\n")
      }
      Files.writeString(outDir.resolve(s"$name.txt"), sb.toString)
      Files.writeString(outDir.resolve(s"$name.logical.txt"),
        stableIds(df.queryExecution.optimizedPlan.toString))
    }
    spark.stop()
  }
}
