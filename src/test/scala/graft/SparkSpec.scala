package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  /** The mains' session at a fixed `local[4]`: specs never read
    * `SPARK_GRAFT_CPUS`, so plans and partition counts do not depend on
    * the box that runs them. */
  lazy val session: SparkSession = GraftSession(4)
}
