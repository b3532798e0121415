package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: the suites share one process-wide session built
  * by [[GraftSession]], the same configuration Verify and Bench run. It is
  * pinned at 4 cores and 4 shuffle partitions whatever `SPARK_GRAFT_CPUS`
  * says, so every suite plans alike on any host. The catalog-wide passes
  * set their own counts on `newSession()` clones: [[CatalogSweep]] runs 3
  * shuffle partitions and PartitionInvarianceSpec's hostile run 17, both
  * co-prime with each other and unequal to this default. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected val sf0001: String = SparkSpec.Sf0001

  protected lazy val spark: SparkSession = SparkSpec.session

  /** The catalog entry `name` at sf0.001. */
  protected def entry(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)

  override protected def afterAll(): Unit = {
    // SparkSession is process-shared across suites (getOrCreate); do not stop
    super.afterAll()
  }
}

object SparkSpec {
  val Sf0001 = "/root/testdata/sf0.001"

  def session: SparkSession = GraftSession(cores = 4)
}
