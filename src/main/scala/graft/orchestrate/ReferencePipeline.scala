package graft.orchestrate

import graft.Observed
import graft.model.{PipelineConfig, PipelineLayout, PipelineOutcome}
import graft.quality.Quality
import graft.quality.Quality.Check
import graft.sink.Sinks
import graft.state.StateLog
import graft.transform.Transform
import graft.validate.SchemaValidator
import graft.validate.SchemaValidator.Rule
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** The reference's end-to-end batch pipeline (SURVEY §3.1), collapsed to
  * one Spark program:
  *
  * validate → ValidationChoice (invalid → quarantine) → transform →
  * quality → QualityChoice (score > 0.8 → promote, else fail), with
  * per-stage state journaling and the archive copy (SDP.py:268).
  *
  * Gate-before-write ordering (SURVEY §7.4): the processed output is
  * staged under a run-scoped directory and only *promoted* (atomic rename)
  * after the quality gate passes — the transformed data is written once,
  * scored by the write job itself, and never recomputed.
  */
object ReferencePipeline {

  final case class Spec(
      rules: Seq[Rule],
      transform: Transform.Step,
      checks: Seq[Check],
      tsCol: String = "ts")

  def run(pipelineId: String, input: DataFrame, spec: Spec,
          layout: PipelineLayout, stateLog: StateLog,
          config: PipelineConfig = PipelineConfig()): PipelineOutcome = {
    val spark = input.sparkSession
    val staging = s"${layout.processed}/.staging/$pipelineId"
    val runner = new PipelineRunner(stateLog, config)

    // The gate's score is computed once, by the staged write, and carried
    // to the Succeed terminal — promote moves the staged files, so
    // re-reading after promotion would race the rename.
    var gateScore = 0.0
    val flow =
      Flow.Task("validate", SchemaValidator.applyRules(_, spec.rules),
        Flow.Task("route", { validated =>
          val (valid, invalid) = SchemaValidator.route(validated)
          Sinks.quarantine(invalid.drop(SchemaValidator.IsValidCol),
            layout.errors, "validation", pipelineId)
          valid.drop(SchemaValidator.IsValidCol, SchemaValidator.ErrorsCol)
        },
        Flow.Task("archive", { df => Sinks.archive(df, layout.archive, pipelineId); df },
        Flow.Task("transform", spec.transform,
        Flow.Task("stage_output", { df =>
          gateScore = stageScored(df, staging, spec.tsCol, spec.checks); df },
        Flow.Choice("quality_gate", { _ => gateScore > config.gateThreshold },
          Flow.Task("promote", { df =>
            Sinks.promoteStaged(spark, staging, layout.processed); df },
            Flow.Succeed(_ => gateScore)),
          Flow.Fail("Data quality score below threshold")))))))

    runner.run(pipelineId, flow, input)
  }

  /** Stage `df` under `staging` and return its quality score
    * ([[Quality.scoreAll]] over exactly the rows written). The score is
    * observed on the write job itself ([[graft.Observed]]), so scoring
    * costs no read-back of the staged files and no aggregate job of its
    * own. An all-invalid batch stages no rows and scores 0.0 (1.0 with no
    * checks), like any empty frame. An empty write can come back without
    * the observed score, so that one case scores the frame with an
    * aggregate of its own.
    *
    * OVERWRITE: a retry after a partial write — or a re-run of the same
    * pipeline id whose earlier attempt failed the gate — replaces the
    * stale staging content instead of appending a duplicate copy that
    * promote would then publish. Each attempt observes afresh. */
  private[graft] def stageScored(df: DataFrame, staging: String, tsCol: String,
                                 checks: Seq[Check]): Double = {
    val (_, score) = Observed(df, Quality.scoreAll(checks))(
      Sinks.writePartitioned(_, staging, tsCol, SaveMode.Overwrite))
    score.fold(Quality.batchScore(df, checks))(_.getDouble(0))
  }

  /** Convenience filter used by tests to inspect quarantined rows. */
  def quarantined(spark: org.apache.spark.sql.SparkSession,
                  layout: PipelineLayout, pipelineId: String): DataFrame =
    Sinks.readQuarantine(spark, layout.errors)
      .filter(col("_error_batch") === pipelineId)
}
