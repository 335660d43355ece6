package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def fixtureDir: String = getClass.getResource("/gtfs-mini").getPath

  /** Lends `engine` to `body` and closes it after, so its projection
    * caches (and TransitSssp pins) never serve a later test or suite in
    * the shared session. */
  def withEngine[T](engine: graft.api.RoutingEngine)(body: graft.api.RoutingEngine => T): T =
    try body(engine) finally engine.close()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
