package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites. sf0.001 fixtures are the test inputs
  * (TESTDATA.md) — deterministic, small, same schemas as bench scale.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Sessions.get(cpus = 4)

  /** A fresh [[Sessions]] session sharing the suite's context (settings
    * and extensions only apply at session construction, so getOrCreate on
    * the existing default would silently skip them — clear, build,
    * restore).
    */
  def withFreshSession[A](cpus: Int)(f: SparkSession => A): A = {
    spark // built first, so the restore below cannot pick up the fresh one
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(Sessions.get(cpus))
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (Test / fork := true gives
    // one JVM per run) — do not stop it here.
    super.afterAll()
  }
}
