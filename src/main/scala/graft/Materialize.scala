package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The one lifecycle for a row's temporary resources: temp dirs, pinned
  * frames, catalog tables, listeners, streams.
  *
  * Materialize before cleanup: a row's result is a plan that may read
  * the temp dir's files, a pinned frame or a table the row registered,
  * so [[scoped]] eagerly materializes it before releasing any of them.
  * A row never writes that checkpoint itself.
  *
  * Persist corpus-scale, checkpoint contract-sized: a frame that grows
  * with the corpus is [[Scope.pin]]ned (`persist(MEMORY_AND_DISK)`), not
  * checkpointed. A local checkpoint stores unreplicated executor-local
  * partitions with the lineage severed, so at 100 TB one lost executor
  * kills the whole query; a persisted frame keeps its lineage and a lost
  * block recomputes. The result `scoped` checkpoints is the row's own
  * contract-sized output, exactly where a local checkpoint is right.
  * Pinned frames persist lazily: the first consumer materializes each
  * partition under the block manager's get-or-compute lock and later
  * consumers read the cache. */
object Materialize {

  /** What a [[scoped]] body can acquire. Everything it acquires is
    * released when the scope closes, on success and on failure. */
  final class Scope private[Materialize] (s: SparkSession, prefix: String) {
    private var dir: String = null
    private val pins = ArrayBuffer.empty[DataFrame]
    private val hooks = ArrayBuffer.empty[() => Unit]

    /** A temp dir named after the scope's prefix, created on first use
      * and deleted with everything under it. */
    def tmp: String = synchronized {
      if (dir == null) dir = java.nio.file.Files.createTempDirectory(prefix).toString
      dir
    }

    /** `df` persisted until the scope closes. */
    def pin(df: DataFrame): DataFrame = synchronized {
      pins += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Runs `cleanup` when the scope closes; hooks run in reverse order
      * of registration. */
    def onClose(cleanup: => Unit): Unit = synchronized { hooks += (() => cleanup) }

    private[Materialize] def close(): Unit = synchronized {
      def quietly(step: => Unit): Unit = try step catch { case NonFatal(_) => () }
      pins.foreach(f => quietly { f.unpersist(false); () })
      hooks.reverseIterator.foreach(h => quietly(h()))
      if (dir != null) quietly {
        val p = new Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true); ()
      }
    }
  }

  /** `body`'s result, eagerly checkpointed; then the scope closes. No
    * cleanup failure masks an exception from `body`. */
  def scoped(s: SparkSession, prefix: String)(body: Scope => DataFrame): DataFrame = {
    val m = new Scope(s, prefix)
    try body(m).localCheckpoint(eager = true)
    finally m.close()
  }
}
