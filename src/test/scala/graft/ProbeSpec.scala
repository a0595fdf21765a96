package graft

/** Every [[Probe]] mode, once, on the shared session at sf0.001. */
class ProbeSpec extends SparkSpec {

  test("time: wall, cpu and every job of the faster run, plus the solo artifact") {
    val lines = Probe.run(spark, "time", sf, Seq("q01_pricing_summary"))
    val head = """TIME q01_pricing_summary wall=\S+ cpu=\S+ jobs=(\d+) stages=\d+ tasks=(\d+)""".r
    val (jobs, tasks) = lines.head match { case head(j, t) => (j.toInt, t.toInt) }
    assert(jobs > 0 && tasks > 0, lines.head)
    assert(lines.count(_.startsWith("   job=")) == jobs)
    assert(lines.last.startsWith("TIME wrote tmp/probe_sf0.001.json"))
    val artifact = java.nio.file.Files.readString(java.nio.file.Paths.get("tmp/probe_sf0.001.json"))
    assert(artifact.startsWith("""{"sf":"sf0.001",""") && artifact.contains("\"q01_pricing_summary\":"))
  }

  test("stream: one line per micro-batch of the timed replay") {
    val lines = Probe.run(spark, "stream", sf, Seq("st11_outer_join_replay"))
    val head = """STREAM st11_outer_join_replay wall=\S+ batches=(\d+)""".r
    val batches = lines.head match { case head(b) => b.toInt }
    assert(batches > 0)
    assert(lines.tail.size == batches && lines.tail.forall(_.contains("triggerExecution=")))
  }

  test("plan: the executions a query runs while it builds come before its final plan") {
    // d02 localCheckpoints its shingle index while it builds, so its
    // top-level plan alone starts at the checkpoint
    val lines = Probe.run(spark, "plan", sf, Seq("d02_ngram_jaccard"))
    val intermediate = lines.init
    assert(intermediate.nonEmpty, "no intermediate execution was drained")
    assert(intermediate.zipWithIndex.forall { case (p, i) =>
      p.startsWith(s"== d02_ngram_jaccard INTERMEDIATE EXECUTION ${i + 1} (") })
    assert(intermediate.exists(_.contains("(localCheckpoint)")))
    assert(lines.last.startsWith("== d02_ngram_jaccard FINAL PLAN =="))
    assert((lines.last +: intermediate).forall(_.contains("== Physical Plan ==")))
    assert(lines.last.contains("isFinalPlan=true"))
  }

  test("plan: sections come in query order and a query's final collect is never the next query's") {
    val (d02, q01) = ("d02_ngram_jaccard", "q01_pricing_summary")
    val lines = Probe.run(spark, "plan", sf, Seq(d02, q01))
    val owners = lines.map(_.stripPrefix("== ").takeWhile(_ != ' '))
    val firstQ01 = owners.indexOf(q01)
    assert(firstQ01 > 0 && owners.take(firstQ01).forall(_ == d02) &&
      owners.drop(firstQ01).forall(_ == q01), owners)
    def body(section: String) = section.dropWhile(_ != '\n')
    val d02Final = body(lines.find(_.startsWith(s"== $d02 FINAL PLAN ==")).get)
    assert(!lines.drop(firstQ01).exists(body(_) == d02Final),
      "d02's final collect was listed under q01")
  }

  test("plan: wide field lists print whole, not cut at maxToStringFields") {
    // s16's JL projection runs an intermediate execution wider than
    // Spark's default 25 printed fields
    val lines = Probe.run(spark, "plan", sf, Seq("s16_jl_project"))
    assert(lines.exists(_.startsWith("== s16_jl_project INTERMEDIATE EXECUTION")))
    assert(!lines.exists(_.contains("more fields")), "a plan was cut at maxToStringFields")
  }

  test("recall: the PQ grid and the hard-regime IVF sweep, as fractions") {
    val lines = Probe.run(spark, "recall", sf, Nil)
    val row = """(RECALL|HARD-IVF) .*worst=([0-9.]+) mean=([0-9.]+).*""".r
    val parsed = lines.map { case row(kind, w, m) => (kind, w.toDouble, m.toDouble) }
    assert(parsed.count(_._1 == "RECALL") == 4 && parsed.count(_._1 == "HARD-IVF") == 6)
    assert(parsed.forall { case (_, w, m) => 0 <= w && w <= m && m <= 1 })
  }
}
