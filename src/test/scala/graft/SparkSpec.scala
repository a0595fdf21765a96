package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. One session per JVM
  * (ScalaTest runs suites in the forked test JVM); `getOrCreate` makes the
  * suites share it so startup cost is paid once. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it launches from this
    * thread. `body` runs in a fresh job group; a sentinel job submitted
    * in the same group afterwards reaches the status tracker after every
    * job `body` launched (job events arrive in submission order), so once
    * the sentinel shows up the group's other jobs are all of `body`'s. */
  def jobsLaunchedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      val sentinel = sc.parallelize(Seq(1), 1).countAsync()
      assert(sentinel.get() == 1L)
      val sentinelId = sentinel.jobIds.head
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sc.statusTracker.getJobIdsForGroup(group).contains(sentinelId) &&
        System.nanoTime() < deadline) Thread.`yield`()
      val ids = sc.statusTracker.getJobIdsForGroup(group)
      assert(ids.contains(sentinelId), "the sentinel job never reached the status tracker")
      (out, ids.count(_ != sentinelId))
    } finally sc.clearJobGroup()
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4, Map("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
