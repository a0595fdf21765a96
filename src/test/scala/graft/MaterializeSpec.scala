package graft

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one temp-resource scope: it releases everything a body acquired,
  * on failure as on success, and it is the only lifecycle in src/main. */
class MaterializeSpec extends SparkSpec {

  test("a body that throws surfaces its own exception and leaves nothing behind") {
    spark.catalog.clearCache()
    var tmp: String = null
    var released = false
    val thrown = intercept[IllegalStateException] {
      Materialize.scoped(spark, "graft-materialize-spec-") { m =>
        tmp = m.tmp
        spark.range(0, 100, 1, 2).write.parquet(s"$tmp/t")
        m.onClose { released = true }
        m.onClose { throw new RuntimeException("a failing cleanup") }
        assert(m.pin(spark.read.parquet(s"$tmp/t")).count() == 100)
        assert(!spark.sharedState.cacheManager.isEmpty)
        throw new IllegalStateException("the body's own failure")
      }
    }
    assert(thrown.getMessage == "the body's own failure")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(released, "a failing hook stopped the hooks registered before it")
    assert(!Files.exists(Paths.get(tmp)))
  }

  test("the result stays readable after the temp dir it was read from is deleted") {
    var tmp: String = null
    val out = Materialize.scoped(spark, "graft-materialize-spec-") { m =>
      tmp = m.tmp
      spark.range(0, 50, 1, 2).select((col("id") * 2).as("v")).write.parquet(s"$tmp/t")
      spark.read.parquet(s"$tmp/t").agg(count(lit(1)), sum(col("v")))
    }
    assert(!Files.exists(Paths.get(tmp)))
    val row = out.head()
    assert((row.getLong(0), row.getLong(1)) == (50L, 2450L))
  }

  test("d06 leaves no history table and no history dir behind") {
    def tables() = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_d06_history_fp_")).toSet
    def dirs() = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-d06-history-fp-")).toSet
    val (tablesBefore, dirsBefore) = (tables(), dirs())
    assert(graft.dedup.Dedup.d06IncrementalDedup(spark, sf).count() > 0)
    assert(tables() == tablesBefore)
    assert(dirs() == dirsBefore)
  }

  test("temp dirs, shutdown hooks and persists appear in src/main only in Materialize") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val lifecycle = Seq("createTempDirectory", "addShutdownHook", "MEMORY_AND_DISK")
    val outside = for {
      f <- files if f.getFileName.toString != "Materialize.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      p <- lifecycle if line.contains(p)
    } yield s"$p at ${root.relativize(f)}:${i + 1}"
    assert(outside.isEmpty, outside.mkString("; "))
  }
}
