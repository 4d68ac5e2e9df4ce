package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sc = spark.sparkContext
}

object SparkSpec {
  // fixed geometry (4 threads, 4 shuffle partitions) whatever
  // SPARK_GRAFT_CPUS says, so a run's plans do not depend on the host
  lazy val session: SparkSession = GraftSession(4)
}
