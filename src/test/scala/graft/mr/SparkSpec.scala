package graft.mr

import graft.GraftSession
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate = one JVM-wide
  * session; the forked test JVM tears it down at exit). Built by
  * [[GraftSession]], so every spec runs under the engine's own config.
  */
trait SparkSpec extends AnyFunSuite {
  @transient lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sc: SparkContext = spark.sparkContext
}
