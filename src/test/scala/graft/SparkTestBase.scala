package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole sbt test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("thorspark-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One root per test JVM for every [[tmpDir]]; the forked JVM deletes
    * it when the suite ends.
    */
  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("thorspark-test-")
    sys.addShutdownHook(graft.icelite.IceLite.deleteRecursively(r))
    r
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def tmpDir(prefix: String): String = SparkTestBase.tmpDir(prefix)
}
