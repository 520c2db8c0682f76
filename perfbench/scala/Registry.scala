package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** A registry workload: a named list of `SparkEntry.queries`, run as two
  * untimed warm-up passes, the first of which writes every output for the
  * oracle comparison, then as timed passes writing to `noop` until the
  * measuring time is spent. Persisted and checkpointed data is dropped
  * after each query and the next one starts only when no job is active.
  */
object Registry {
  def run(r: Run): Unit = {
    val spark = r.spark
    val data = r.spec.get("data").asText()
    val results = r.spec.get("results").asText()
    val names = r.strings("queries")
    // A renamed or removed query must not silently shrink the workload.
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    names.find(!registry.contains(_)).foreach(n =>
      throw new GuardFailure(s"query $n is missing from SparkEntry.queries"))
    names.find(!oracle.contains(_)).foreach(n =>
      throw new GuardFailure(s"query $n is missing from SparkEntry.oracleSql"))
    Files.createDirectories(Paths.get(results))
    Files.writeString(Paths.get(results, "oracle_sql.json"),
      Main.mapper.writeValueAsString(names.map(n => n -> oracle(n)).toMap.asJava))

    // Set-up: two warm-up passes. The first also builds the table indexes
    // and writes the outputs that are checked against the oracle; the
    // second is a timed pass with its time thrown away, so the timed
    // passes start further down the JVM's warm-up curve.
    names.foreach { n =>
      r.op(n, -1, traced = false) {
        val df = registry(n)(spark, data).coalesce(1)
        df.write.mode("overwrite").parquet(s"$results/$n")
        -1L
      }
      r.settle()
    }
    timedPass(r, names, -1, traced = false)

    r.startTimed()
    var k = 0
    while (r.morePasses(k)) {
      val traced = r.tracedPass(k)
      r.attach(traced)
      val wall = timedPass(r, names, k, traced)
      r.detach(traced)
      r.pass(k, traced, wall)
      k += 1
    }
  }

  /** One pass over the queries writing to `noop`; returns its wall. */
  private def timedPass(r: Run, names: Seq[String], k: Int, traced: Boolean): Double = {
    val data = r.spec.get("data").asText()
    var wall = 0.0
    names.foreach { n =>
      wall += r.op(n, k, traced) {
        val p = r.probe(traced)
        p.op(s"query/$n", k) {
          val df = p.phase("build")(SparkEntry.queries(n)(r.spark, data))
          p.phase("execute")(df.write.mode("overwrite").format("noop").save())
        }
        -1L
      }
      wall += r.settle()
    }
    wall
  }
}
