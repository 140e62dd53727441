package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; tests fork
  * once via sbt `Test / fork`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  /** Spec scratch path `name` under [[EventsStream.scratchRoot]]
    * (`target/scratch` of the working directory); no name gives the root
    * itself. */
  def scratch(name: String = ""): String =
    EventsStream.scratchRoot.resolve(name).toString

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", scratch("warehouse"))
      .config("spark.ui.enabled", "false")
      // the natives' SQL names, for the specs' call_function/selectExpr
      // checks (library code builds them as typed Columns)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
