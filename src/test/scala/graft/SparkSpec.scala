package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the production session ([[Sessions.local]])
  * at a fixed 4 cpus, so test parallelism does not follow
  * SPARK_GRAFT_CPUS (tiny fixtures; more partitions would be pure
  * scheduler overhead).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(cpus = SparkSpec.Cpus)

  /** Smoke-scale fixtures (TESTDATA.md). */
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // Session is shared across suites in one forked JVM — do not stop it.
    super.afterAll()
  }
}

object SparkSpec {
  val Cpus = 4
}
