package graft

import graft.model.{PipelineStateRow, PipelineStatus}
import graft.state.StateLog
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Encoders}

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{Callable, Executors, TimeUnit}

/** The state journal's file format, concurrency and failure guarantees. */
class StateLogSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = Encoders.product[PipelineStateRow].schema

  private def rows(df: DataFrame): Set[PipelineStateRow] =
    df.as[PipelineStateRow].collect().toSet

  private def parquetFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq

  test("journal reads Spark-written and driver-written appends alike; nulls stay null") {
    val dir = s"${Files.createTempDirectory("graft-mixed")}/state"
    // an append as a Spark write makes it: a one-row part file renamed in
    val old = PipelineStateRow("a", "2026-01-01T00:00:00.000000000Z", "pipeline",
      PipelineStatus.Succeeded, "score=1.000000")
    Seq(old).toDS().coalesce(1).write.parquet(s"$dir.spark")
    val part = new java.io.File(s"$dir.spark").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dir))
    Files.move(part.toPath, Paths.get(dir, s"append-${UUID.randomUUID()}.parquet"))

    val log = new StateLog(spark, dir)
    val nul = log.append("b", "pipeline", PipelineStatus.Failed, null)
    val empty = log.append("c", "pipeline", PipelineStatus.Succeeded, "")
    val expected = Set(old, nul, empty)

    // every file, whichever writer made it, reads back as the row schema
    parquetFiles(dir).foreach(f =>
      assert(spark.read.parquet(s"$dir/$f").schema == rowSchema, f))
    assert(spark.read.option("mergeSchema", "true").parquet(dir).schema == rowSchema)
    assert(spark.read.parquet(dir).filter($"detail".isNull).select("pipeline_id")
      .as[String].collect().toSeq == Seq("b"))
    assert(spark.read.parquet(dir).filter($"detail" === "").count() == 1)

    def check(): Unit = {
      assert(rows(log.journal()) == expected)
      assert(rows(log.latestPerPipeline()) == expected)
      assert(log.stageMetrics().as[(String, Long, Long, Double)].collect().toSeq ==
        Seq(("pipeline", 3L, 2L, 0.666667)))
      assert(log.currentStatus("a").contains(old)) // journal fallback
      assert(log.currentStatus("b").contains(nul))
    }
    check()
    log.compact()
    assert(parquetFiles(dir).size == 1)
    check()
  }

  test("an unreadable journal fails loudly; only a missing one reads as empty") {
    val dir = s"${Files.createTempDirectory("graft-corrupt")}/state"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, s"append-${UUID.randomUUID()}.parquet"), "not parquet")
    // a known pipeline must not read as unknown because its journal is damaged
    intercept[Exception](new StateLog(spark, dir).currentStatus("p1"))
    assert(new StateLog(spark, s"$dir-missing").journal().isEmpty)
  }

  test("concurrent appends: every row lands once, no staging left, status is the newest row") {
    val root = Files.createTempDirectory("graft-conc")
    val log = new StateLog(spark, s"$root/state")
    val pool = Executors.newFixedThreadPool(8)
    try {
      val runs = (0 until 8).map(t => pool.submit(new Callable[Unit] {
        def call(): Unit = (0 until 25).foreach(i =>
          log.append(s"p$t", s"stage$i",
            if (i % 2 == 0) PipelineStatus.Running else PipelineStatus.Succeeded))
      }))
      runs.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdown()
    val journal = log.journal()
    assert(journal.count() == 200)
    assert(journal.select("pipeline_id", "stage").distinct().count() == 200)
    assert(!root.toFile.list().exists(_.contains(".append-")))
    val newest = rows(log.latestPerPipeline())
    assert(newest.map(_.pipeline_id) == (0 until 8).map(t => s"p$t").toSet)
    newest.foreach(r => assert(log.currentStatus(r.pipeline_id).contains(r)))
    assert(newest.forall(_.stage == "stage24"))
  }

  test("a rename that returns false fails the append or compaction and loses no row") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.renamefail.impl", classOf[StateLogSpec.RenameFailingFs].getName)
    val root = Files.createTempDirectory("graft-renamefail")
    val dir = s"renamefail://$root/state"
    val log = new StateLog(spark, dir)
    val first = log.append("p1", "pipeline", PipelineStatus.Running)
    log.append("p2", "pipeline", PipelineStatus.Running)

    // append: fails loudly, keeps the staged row, rolls the status back
    StateLogSpec.failRenameInto = Some("append-")
    try {
      val e = intercept[java.io.IOException](
        log.append("p1", "pipeline", PipelineStatus.Succeeded))
      assert(e.getMessage.contains("returned false"))
    } finally StateLogSpec.failRenameInto = None
    val staged = root.toFile.list().filter(_.startsWith("state.append-"))
    assert(staged.length == 1)
    assert(rows(spark.read.parquet(s"renamefail://$root/${staged.head}"))
      .map(_.status) == Set(PipelineStatus.Succeeded))
    assert(log.currentStatus("p1").contains(first))
    assert(log.journal().count() == 2)

    // compaction: fails before deleting an input, keeps the merged copy
    StateLogSpec.failRenameInto = Some("compacted-")
    try intercept[java.io.IOException](log.compact())
    finally StateLogSpec.failRenameInto = None
    assert(parquetFiles(s"$root/state").size == 2)
    assert(log.journal().count() == 2)
    assert(spark.read.parquet(s"renamefail://$root/state.compact.tmp").count() == 2)
  }
}

object StateLogSpec {

  /** Name prefix of rename targets that [[RenameFailingFs]] refuses. */
  @volatile var failRenameInto: Option[String] = None

  /** The local file system under the `renamefail` scheme, whose `rename`
    * returns false (the HDFS/S3A way of failing) for targets named with
    * the [[failRenameInto]] prefix. */
  class RenameFailingFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("renamefail:///")
    override def getScheme: String = "renamefail"
    override def rename(src: Path, dst: Path): Boolean =
      if (failRenameInto.exists(dst.getName.startsWith)) false else super.rename(src, dst)
  }
}
