package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture: the graft session on local[4], whatever
  * the box (test data is tiny; a wider fan-out would be pure scheduling
  * overhead).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  lazy val session: SparkSession = SessionConf.local(4)
}
