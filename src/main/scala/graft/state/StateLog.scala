package graft.state

import graft.model.{PipelineStateRow, PipelineStatus}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{AnalysisException, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import java.io.IOException
import java.time.Instant
import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Append-only pipeline state journal (SURVEY §2.1 K5, §2.4 G2).
  *
  * The reference journals one row per stage transition to DynamoDB with
  * composite key (pipeline_id, ISO-8601 timestamp) (SDP.py:325-339). Here
  * the journal is Parquet (queryable with the same engine that runs the
  * data plane) fronted by an in-memory latest-state map so `status(id)`
  * right after `start(id)` is read-your-writes — DynamoDB gave the
  * reference strong per-key reads; the map restores that without waiting
  * on file-commit visibility.
  *
  * State rows are metadata (O(runs × stages), not O(data)), so a
  * driver-side map and one single-row Parquet file written by the driver
  * per append (no Spark job) are the right scale trade-off even at 100 TB
  * of *data*; the Parquet journal is what dashboards (G2) query.
  */
final class StateLog(spark: SparkSession, path: String) {

  private val latest = TrieMap.empty[String, PipelineStateRow]

  /** Newest row per pipeline whose journal write SUCCEEDED — the rollback
    * target when a later write fails. Without it, two overlapping failed
    * appends could roll the map back to a row that was itself never
    * journaled (A stamps, B stamps over A, A's write fails — no rollback,
    * B owns the slot — then B's write fails and rolls back to A).
    * Both this map and [[latest]] hold one row per pipeline id — they
    * grow with the number of DISTINCT pipelines, not with append volume
    * (a control-plane-sized footprint, not a data-sized one). */
  private val lastJournaled = TrieMap.empty[String, PipelineStateRow]
  import spark.implicits._

  /** Fixed-width ISO-8601 (always 9 fractional digits): `Instant.toString`
    * emits variable precision, which breaks the lexicographic-==-
    * chronological property the latest-row window sort relies on
    * ('Z' sorts after '.', so "…:00Z" would sort AFTER "…:00.500Z"). */
  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** Stamp a row and publish it to the in-memory map under the shared
    * monitor. The lock covers ONLY timestamping + the map (microseconds),
    * never a file write: it exists so [[appendDetail]]'s status-read and
    * its row's timestamp are assigned atomically relative to every other
    * append's — otherwise a completion row could be stamped between the
    * read and the re-journal and the stale status would sort newest. If
    * the subsequent file write fails the map briefly leads the journal;
    * the thrown exception tells the caller the row needs re-appending. */
  private def stampAndPublish(pipelineId: String, stage: String, status: String,
                              detail: String): PipelineStateRow = synchronized {
    val row = PipelineStateRow(pipelineId, TsFormat.format(Instant.now()), stage, status, detail)
    latest.put(pipelineId, row)
    row
  }

  /** Journal the stamped row; if the write fails, roll the in-memory map
    * back to the newest row whose write SUCCEEDED (never to a stamped-but-
    * unjournaled row — see [[lastJournaled]]) so `currentStatus` never
    * serves a status absent from the journal. If no journaled row exists
    * in this JVM the slot is cleared; `currentStatus` then falls back to
    * the journal read, which is correct by definition. */
  private def writeOrRollback(row: PipelineStateRow): Unit =
    try {
      writeRow(row)
      synchronized {
        // timestamp guard: two concurrent successful writes may complete
        // out of stamp order — keep the newest stamped row (fixed-width
        // ISO timestamps make string order chronological)
        lastJournaled.get(row.pipeline_id) match {
          case Some(j) if j.timestamp >= row.timestamp => ()
          case _ => lastJournaled.put(row.pipeline_id, row)
        }
        // repair `latest` if a FAILED newer append's rollback ran inside
        // the window between this row's successful writeRow and this
        // block: that rollback read lastJournaled before this update and
        // restored an older journaled row (or cleared the slot), even
        // though this row is already durable. Both paths serialize on
        // this monitor, so after both have run, `latest` is the newest
        // JOURNALED row either way. Never touches a newer stamped row —
        // an in-flight append still owns the slot.
        latest.get(row.pipeline_id) match {
          case Some(cur) if cur.timestamp >= row.timestamp => ()
          case _ => latest.put(row.pipeline_id, row)
        }
      }
    } catch {
      case e: Throwable =>
        synchronized {
          latest.get(row.pipeline_id) match {
            case Some(cur) if cur eq row =>
              lastJournaled.get(row.pipeline_id) match {
                case Some(j) => latest.put(row.pipeline_id, j)
                case None    => latest.remove(row.pipeline_id)
              }
            case _ => () // a newer append already owns the slot
          }
        }
        throw e
    }

  /** Write one already-stamped row into the journal as a single-row
    * Parquet file, from the driver: no Spark job, just a file write with
    * the session's Hadoop settings (the same filesystem configuration a
    * Spark write would use). Each append writes its OWN staging file
    * outside the journal directory and renames it in as
    * `append-<uuid>.parquet`, so a reader never lists a half-written file
    * and concurrent appends (PipelineService run futures, the metrics
    * listener) share nothing. Runs unlocked: per-append staging is exactly
    * what makes concurrent writes safe. */
  private def writeRow(row: PipelineStateRow): Unit = {
    val id = UUID.randomUUID().toString
    val conf = spark.sessionState.newHadoopConf()
    val staged = new Path(s"$path.append-$id")
    val fs = staged.getFileSystem(conf)
    try {
      val writer = new StateLog.RowWriterBuilder(HadoopOutputFile.fromPath(staged, conf))
        .withConf(conf).build()
      try writer.write(row) finally writer.close()
    } catch {
      case NonFatal(e) => // the staged file is incomplete: it holds no durable row
        try fs.delete(staged, false) catch { case NonFatal(d) => e.addSuppressed(d) }
        throw e
    }
    fs.mkdirs(new Path(path))
    val target = new Path(path, s"append-$id.parquet")
    // rename returning false (HDFS/S3A convention) would leave the journal
    // without this row. Fail loudly AND leave the staged file behind — it
    // holds the only durable copy of the row, named after the journal so
    // an operator can recover it (cf. promoteStaged).
    if (!fs.rename(staged, target))
      throw new IOException(
        s"StateLog.append: rename $staged -> $target returned false; row preserved in $staged")
  }

  /** Append one state row. */
  def append(pipelineId: String, stage: String, status: String, detail: String = ""): PipelineStateRow = {
    val row = stampAndPublish(pipelineId, stage, status, detail)
    writeOrRollback(row)
    row
  }

  /** Append `detail` under the pipeline's CURRENT status, atomically with
    * respect to concurrent [[append]]s (the control plane's PUT). The
    * journal fallback for ids this JVM never wrote is prefetched OUTSIDE
    * the lock (it is a Spark read); inside the lock the in-memory map is
    * re-checked first, so an append that raced the prefetch wins. None if
    * the id is unknown. */
  def appendDetail(pipelineId: String, stage: String, detail: String): Option[PipelineStateRow] = {
    val prefetched =
      if (latest.contains(pipelineId)) None else latestFromJournal(pipelineId)
    val stamped = synchronized {
      latest.get(pipelineId).orElse(prefetched).map(cur =>
        stampAndPublish(pipelineId, stage, cur.status, detail))
    }
    stamped.foreach(writeOrRollback)
    stamped
  }

  /** Latest known state per pipeline — in-memory for ids this JVM wrote. */
  def currentStatus(pipelineId: String): Option[PipelineStateRow] =
    latest.get(pipelineId).orElse(latestFromJournal(pipelineId))

  private def latestFromJournal(pipelineId: String): Option[PipelineStateRow] =
    journal()
      .filter(col("pipeline_id") === pipelineId)
      .orderBy(col("timestamp").desc)
      .as[PipelineStateRow]
      .take(1).headOption

  /** Full journal as a DataFrame. Read with the known row schema, so no
    * schema-inference job runs. A journal that does not exist yet is
    * empty; any other read failure propagates — an unreadable journal
    * must not make known pipelines look unknown. */
  def journal(): DataFrame =
    try spark.read.schema(StateLog.RowSchema).parquet(path)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        Seq.empty[PipelineStateRow].toDS().toDF()
    }

  /** Latest row per pipeline id (window keep-first) — the reference's
    * `status` lookup shape (SURVEY §2.5). */
  def latestPerPipeline(): DataFrame = {
    val w = Window.partitionBy(col("pipeline_id"))
      .orderBy(col("timestamp").desc, col("stage").desc)
    journal()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** List pipelines, optionally filtered by current status — the
    * `GET /pipelines?status=running` surface (README:183-191). */
  def list(statusFilter: Option[String] = None): DataFrame = {
    val base = latestPerPipeline()
    statusFilter.fold(base)(st => base.filter(col("status") === st))
  }

  /** Compact the append-only journal (SURVEY §7.4): thousands of runs ×
    * stages × retries produce one tiny parquet file per append; compaction
    * merges them. Run periodically like the reference's nightly crawler.
    * History is preserved — compaction merges files, never drops rows.
    *
    * Crash/concurrency safety: the input file set is snapshotted FIRST;
    * the compacted file is copied INTO the live directory before the
    * snapshot inputs are deleted. Appends racing the compaction land as
    * new files outside the snapshot and survive; the journal directory
    * never disappears. The worst crash window (after copy-in, mid-delete)
    * leaves some rows duplicated in the journal — an append log tolerates
    * that (latest-per-pipeline is unaffected) — and never loses rows. */
  def compact(): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return
    val inputs = fs.listStatus(new Path(path))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    if (inputs.length <= 1) return
    val snapshot = spark.read.schema(StateLog.RowSchema)
      .parquet(inputs.map(_.toString).toIndexedSeq: _*)
    val tmp = s"$path.compact.tmp"
    snapshot.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    fs.listStatus(new Path(tmp))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val target = new Path(path, s"compacted-${UUID.randomUUID()}.parquet")
        // a false rename means the merged rows never reached the journal:
        // fail before deleting a single input, and keep the compacted copy
        if (!fs.rename(st.getPath, target))
          throw new IOException(
            s"StateLog.compact: rename ${st.getPath} -> $target returned false; " +
              s"inputs kept, merged copy in $tmp")
      }
    inputs.foreach(fs.delete(_, false))
    fs.delete(new Path(tmp), true)
    ()
  }

  /** G2: per-stage success/failure counts and rate over the journal —
    * the health metrics behind the reference's dashboards (README:236-241). */
  def stageMetrics(): DataFrame =
    journal()
      .filter(col("status").isin(PipelineStatus.Succeeded, PipelineStatus.Failed))
      .groupBy(col("stage"))
      .agg(
        count(lit(1)).as("n_runs"),
        sum(when(col("status") === PipelineStatus.Succeeded, 1L).otherwise(0L)).as("n_success"),
        round(avg(when(col("status") === PipelineStatus.Succeeded, 1.0).otherwise(0.0)), 6)
          .as("success_rate"))
}

object StateLog {

  /** The journal's row schema: what every reader gets back, whichever
    * writer (this driver-side writer or an older Spark write) made the
    * file. */
  private val RowSchema: StructType = Encoders.product[PipelineStateRow].schema

  /** Footer key under which Spark keeps a file's Spark schema. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Parquet schema a Spark write gives [[RowSchema]]: every column an
    * optional UTF-8 binary, in the message Spark names `spark_schema`. */
  private val ParquetSchema: MessageType = {
    require(RowSchema.forall(_.dataType == StringType),
      s"StateLog writes string columns only: $RowSchema")
    new MessageType("spark_schema", RowSchema.fieldNames.toIndexedSeq.map(name =>
      Types.optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType())
        .named(name): Type): _*)
  }

  /** Writes [[PipelineStateRow]]s field by field; a null field is left out
    * of the record, which is how Parquet stores a null. */
  private final class RowWriteSupport extends WriteSupport[PipelineStateRow] {
    private var out: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(ParquetSchema,
        java.util.Map.of(SparkRowMetadataKey, RowSchema.json))

    override def prepareForWrite(recordConsumer: RecordConsumer): Unit = out = recordConsumer

    override def write(row: PipelineStateRow): Unit = {
      out.startMessage()
      row.productIterator.zip(RowSchema.fieldNames.iterator).zipWithIndex.foreach {
        case ((null, _), _) => ()
        case ((v, name), i) =>
          out.startField(name, i)
          out.addBinary(Binary.fromString(v.toString))
          out.endField(name, i)
      }
      out.endMessage()
    }
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[PipelineStateRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[PipelineStateRow] =
      new RowWriteSupport
  }
}
