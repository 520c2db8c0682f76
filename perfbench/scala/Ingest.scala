package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.config.{Settings, SystemConn, TableSettings}
import graft.operators.Ingestion
import graft.sources.ParquetSource

/** The paper's workload: successive watermark increments through
  * `Ingestion.ingestionStep`, one table per reference system.
  *
  * Inputs come as epochs of rounds; each round holds one increment per
  * system. An epoch starts from empty landing, table and output
  * directories, so the landing history a step scans (and with it the
  * step cost) does not depend on how many epochs fit in the measuring
  * time. Before each step the increment is moved into the landing
  * directory untimed; only the step call is timed. An epoch is one pass,
  * and epochs always run to their end, so every run measures whole
  * epochs.
  */
object Ingest {
  def run(r: Run): Unit = {
    val systems = r.spec.get("systems")
    val first = r.spec.get("first_value").asText()
    val settings = Settings(systems.fields().asScala.map { e =>
      val s = e.getValue
      def opt(f: String) = Option(s.get(f)).map(_.asText())
      e.getKey -> SystemConn(dbms = "benchmark", tableSettings = Map(
        s.get("table").asText() -> TableSettings(
          refColumn = s.get("ref_column").asText(),
          refFirstValue = first,
          dateColumn = opt("date_column"),
          timeColumn = opt("time_column"),
          columnsToImport = Option(s.get("columns_to_import"))
            .map(_.elements().asScala.map(_.asText()).toSeq))))
    }.toMap)
    val names = systems.fieldNames().asScala.toSeq
    val (warmup, timedEpochs) = r.spec.get("epochs").elements().asScala.toSeq
      .partition(_.get("warmup").asBoolean())

    /** Runs one epoch; `k` is its timed pass index, -1 in set-up. */
    def runEpoch(epoch: JsonNode, k: Int, traced: Boolean): Unit = {
      val src = Paths.get(epoch.get("inputs").asText())
      val root = Paths.get(epoch.get("dir").asText())
      val label = epoch.get("name").asText()
      val p = r.probe(traced)
      var wall = 0.0
      for (round <- 0 until epoch.get("rounds").asInt(); sys <- names) {
        val s = systems.get(sys)
        val landing = root.resolve("landing").resolve(sys)
        Files.createDirectories(landing)
        Files.move(src.resolve(s"r$round").resolve(s"$sys.parquet"),
          landing.resolve(s"r$round.parquet"))
        val name = s"step/$sys/$label.$round"
        wall += r.op(name, k, traced) {
          p.op(name, k)(p.phase("build") {
            Ingestion.ingestionStep(r.spark, sys, s.get("table").asText(),
              ParquetSource(landing.toString), root.resolve("table").resolve(sys),
              root.resolve("out").resolve(sys).toString, settings,
              s.get("partitions").elements().asScala.map(_.asText()).toSeq,
              counting = true).rowCount.getOrElse(0L)
          })
        }
        wall += r.settle()
      }
      if (k >= 0) r.pass(k, traced, wall)
    }

    // Set-up: the warm-up epochs, untimed, checked like the others.
    warmup.foreach(runEpoch(_, -1, traced = false))
    r.startTimed()
    var k = 0
    while (k < timedEpochs.size && r.morePasses(k)) {
      val traced = r.tracedPass(k)
      r.attach(traced)
      runEpoch(timedEpochs(k), k, traced)
      r.detach(traced)
      k += 1
    }
    val done = r.out.putArray("epochs_done")
    timedEpochs.take(k).foreach(e => done.add(e.get("name").asText()))
  }
}
