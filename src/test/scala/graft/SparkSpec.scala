package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite that runs on the factory's session — graft's rules and the
  * bench's config — at 4 cores, stopped after the suite. */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit = spark.stop()
}
