package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one JVM-wide session via
  * getOrCreate; lazy so pure-JVM suites never start Spark). The
  * production configuration, at a fixed 4 cores so results and plan
  * shapes do not depend on the host's core count. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()

  def sf(name: String) = spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
}
