package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: the suites share one process-wide session built
  * by [[GraftSession]], the same configuration Verify and Bench run. It is
  * pinned at 4 cores and 4 shuffle partitions whatever `SPARK_GRAFT_CPUS`
  * says, because the plan goldens and PartitionInvarianceSpec's co-prime
  * 3/17 partition counts are designed against that baseline. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected val sf0001 = "/root/testdata/sf0.001"

  protected lazy val spark: SparkSession = GraftSession(cores = 4)

  override protected def afterAll(): Unit = {
    // SparkSession is process-shared across suites (getOrCreate); do not stop
    super.afterAll()
  }
}
