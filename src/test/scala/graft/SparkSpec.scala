package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: the production [[Sessions]]
  * configuration, one JVM-wide session, with a fixed small core count and
  * shuffle fan-out for test speed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.build("graft-test", cpus = 4)
}
