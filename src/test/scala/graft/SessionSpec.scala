package graft

import org.apache.logging.log4j.{Level, LogManager}

import scala.jdk.CollectionConverters._

/** One engine configuration: the spec fixture runs exactly the settings
  * [[Session]] gives Bench and Verify, and nothing else in the tree can
  * build a differently configured session. */
class SessionSpec extends SparkSpec {

  private def effective(s: org.apache.spark.sql.SparkSession, key: String): Option[String] =
    s.conf.getOption(key).orElse(s.sparkContext.getConf.getOption(key))

  test("the fixture session and its clones carry every engine conf Session sets") {
    val clone = spark.newSession()
    Session.settings(4).foreach { case (k, v) =>
      assert(effective(spark, k).contains(v), s"fixture: $k")
      assert(effective(clone, k).contains(v), s"cloned session: $k")
    }
    assert(effective(spark, "spark.sql.optimizer.excludedRules").exists(
      _.contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")))
    assert(effective(spark, "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      .contains("256k"))
  }

  test("WindowExec logs at ERROR, so the global-window warning stays out of the logs") {
    val log = LogManager.getLogger(Session.WindowLogger)
    assert(log.getLevel == Level.ERROR && !log.isWarnEnabled)
  }

  private def scalaSources(root: String): Seq[java.nio.file.Path] = {
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try stream.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally stream.close()
  }

  test("only graft/Session.scala builds a SparkSession") {
    val builderCall = "SparkSession" + ".builder"
    val builders = (scalaSources("src/main/scala") ++ scalaSources("src/test/scala"))
      .filter(p => java.nio.file.Files.readString(p).contains(builderCall))
      .map(_.toString)
    assert(builders == Seq("src/main/scala/graft/Session.scala"))
  }

  test("the library reads no SPARK_GRAFT_ env knob besides CPUS and SF_DIR") {
    val knob = """SPARK_GRAFT_[A-Z_]+""".r
    val read = scalaSources("src/main/scala").flatMap(p =>
      knob.findAllIn(java.nio.file.Files.readString(p))).toSet
    assert(read.subsetOf(Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")), read)
  }
}
