package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — specs
  * must not call spark.stop()). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val registries =
    scala.collection.mutable.Map.empty[String, ListMap[String, DataFrame]]

  /** Every registry query over the fixture in `dir`, by name, built on
    * the first call for that `dir`. Building a query runs its thunk,
    * eager driver actions included, so the registry-wide lints
    * (RegistrySpec's schema and type checks, PlanSpec's window check)
    * share one build instead of paying it per lint. */
  def registry(dir: String): ListMap[String, DataFrame] = synchronized {
    registries.getOrElseUpdate(dir,
      Queries.all.map { case (name, fn) => name -> fn(spark, dir) })
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Runs `body` with the session settings `kv`, then restores them. */
  protected def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
