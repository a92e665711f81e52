package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The sf0.001 fixture directory, `~/testdata/sf0.001`. */
  val Sf0001Dir: String = s"${sys.props("user.home")}/testdata/sf0.001"
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
