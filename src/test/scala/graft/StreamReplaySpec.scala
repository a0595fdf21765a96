package graft

import graft.streaming.StreamReplay
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The st replay harness: it cleans up after a body that throws, and it
  * is the only place in StreamReplay.scala that builds the scaffold. */
class StreamReplaySpec extends SparkSpec {

  test("a replay body that throws surfaces its own exception and leaves nothing behind") {
    spark.catalog.clearCache()
    var clone: SparkSession = null
    var tmp: String = null
    val thrown = intercept[IllegalStateException] {
      StreamReplay.replay(spark, "st00") { r =>
        clone = r.s
        tmp = r.tmp
        r.pin(Tables.events(r.s, sf).select(col("user_id"))).count()
        assert(!spark.sharedState.cacheManager.isEmpty)
        val events = Tables.events(r.s, sf).select(col("user_id"), col("ts"))
        r.drainToMemory(r.orderedFeed(events, nFiles = 2, perTrigger = 1))
        assert(r.s.catalog.listTables().collect().exists(_.name.startsWith("graft_st00_")))
        throw new IllegalStateException("the body's own failure")
      }
    }
    assert(thrown.getMessage == "the body's own failure")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(!clone.catalog.listTables().collect().exists(_.name.startsWith("graft_st")))
    assert(clone.streams.active.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp)))
  }

  test("the streaming scaffold appears only inside the harness") {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/StreamReplay.scala")).asScala.toIndexedSeq
    // the harness: the Replay class (from its scaladoc) through the end of `def replay`
    val classAt = lines.indexWhere(_.contains("final class Replay"))
    val start = lines.lastIndexWhere(_.trim.startsWith("/**"), classAt)
    val defAt = lines.indexWhere(_.contains("def replay("))
    val end = lines.indexWhere(_ == "  }", defAt)
    assert(0 <= start && classAt < defAt && defAt < end, (start, classAt, defAt, end))
    val primitives = Seq("Trigger.AvailableNow", "\"checkpointLocation\"", "Session.isolated",
      "localCheckpoint", "dropTempView", "jsonFileSource", "newSession")
    primitives.foreach { p =>
      val outside = lines.indices.filter(i => lines(i).contains(p) && (i < start || i > end))
      assert(outside.isEmpty, s"$p outside the replay harness at lines ${outside.map(_ + 1)}")
    }
  }
}
