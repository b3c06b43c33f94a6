package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One `local[4]` GraftSession per spec, started before its first test
  * and stopped after its last. A spec that needs a static conf beyond
  * the shared contract (an extension, a state store) lists it in
  * `extraConf`; it goes into the same builder.
  */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>

  protected def extraConf: Map[String, String] = Map.empty

  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = GraftSession.builder(4).config(extraConf).getOrCreate()
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}
