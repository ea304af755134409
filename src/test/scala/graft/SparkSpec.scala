package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one JVM-wide session): the
  * harness session from [[Tables.localSession]], so every spec runs with
  * the same extensions Verify and Bench install.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits = spark.implicits
}

object SparkSpec {
  lazy val session: SparkSession = Tables.localSession(4)
}
