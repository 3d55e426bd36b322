package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the shipped factory at 4 cores
  * (the test warehouse dir comes in as a `spark.*` system property,
  * see build.sbt), plus [[TempDirs]]' suite-scoped scratch dirs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {
  lazy val spark: SparkSession =
    GraftSession.local(4, appName = getClass.getSimpleName)

  val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // shared across suites in one JVM — do not stop; sbt forks one JVM
    // for the whole test run and Spark sessions are cheap to share.
    super.afterAll()
  }
}
