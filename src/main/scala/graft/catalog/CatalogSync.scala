package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Catalog registration + partition discovery (SURVEY §3.4) — the
  * reference's Glue database + nightly crawler (SDP.py:581-616) collapsed
  * to Spark's own catalog.
  *
  * `register` creates an external Parquet table over a path;
  * `sync` re-discovers partitions (`MSCK REPAIR TABLE` semantics via
  * `recoverPartitions`) — the "crawler run". Schema comes from the Parquet
  * footers (self-describing), i.e. the crawler's inference step is the
  * format's own metadata.
  */
object CatalogSync {

  /** Register (or replace) an external table over a Parquet path. For a
    * Hive-partitioned layout, pass the partition columns so the catalog
    * prunes on them. */
  def register(spark: SparkSession, table: String, path: String,
               partitionCols: Seq[String] = Seq("year", "month", "day", "hour")): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val schema = spark.read.parquet(path).schema
    val dataCols = schema.fields.filterNot(f => partitionCols.contains(f.name))
    val dataDdl = dataCols.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val partDdl = schema.fields.filter(f => partitionCols.contains(f.name))
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    if (partDdl.nonEmpty) {
      spark.sql(
        s"""CREATE TABLE $table ($dataDdl) USING parquet
           |PARTITIONED BY ($partDdl) LOCATION '$path'""".stripMargin)
      sync(spark, table)
    } else {
      spark.sql(s"CREATE TABLE $table ($dataDdl) USING parquet LOCATION '$path'")
    }
  }

  /** The crawler pass: re-discover partitions added since registration AND
    * re-infer the schema — the reference's crawler re-runs inference daily
    * (SDP.py:602-616), so a column that appears in newly-landed partitions
    * must become queryable without re-registering the table. */
  def sync(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    if (meta.partitionColumnNames.nonEmpty)
      spark.catalog.recoverPartitions(table)
    mergeNewColumns(spark, table)
  }

  /** Schema evolution half of the crawler: re-read the Parquet footers
    * under the table location with `mergeSchema` and ALTER TABLE ADD
    * COLUMNS for fields the catalog doesn't know yet. Old files simply
    * read NULL for the added column (Parquet by-name resolution); type
    * CHANGES to an existing column are not merged — that's a rewrite, not
    * an evolution, and the read would fail loudly rather than coerce. */
  def mergeNewColumns(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    // a registered table whose location holds no data files yet (first
    // partition not landed, or data archived away) has nothing to merge —
    // the crawler pass must no-op. Detected EXPLICITLY (not by swallowing
    // AnalysisException, which would also hide corrupt files or a
    // misconfigured location from every nightly sync thereafter).
    import org.apache.hadoop.fs.Path
    val loc = new Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // visibility matches the parquet reader's: `_`/`.`-prefixed paths
    // (committer _temporary dirs, .crc checksums) are NOT data — counting
    // them would send a crash-litter-only location into schema inference,
    // which ignores them and dies on 'unable to infer'
    def visible(name: String): Boolean =
      !name.startsWith("_") && !name.startsWith(".")
    def hasDataFile(p: Path): Boolean =
      fs.listStatus(p).exists { st =>
        visible(st.getPath.getName) &&
          (if (st.isDirectory) hasDataFile(st.getPath) else true)
      }
    if (!fs.exists(loc) || !hasDataFile(loc)) return
    val fresh = spark.read.option("mergeSchema", "true")
      .parquet(meta.location.toString).schema
    val known = meta.schema.fieldNames.map(_.toLowerCase).toSet
    val added = fresh.fields.filterNot(f => known.contains(f.name.toLowerCase))
    if (added.nonEmpty) {
      val ddl = added.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD COLUMNS ($ddl)")
    }
  }

  /** Query a registered table (the Athena surface, README:155-164). */
  def query(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)

  /** The crawler's STATISTICS half (Glue crawlers record table/column
    * stats the query planner consumes): `ANALYZE TABLE` for table-level
    * row/byte counts plus per-column min/max/null/NDV. At 100 TB this is
    * what turns the optimizer cost-based — join reorder, broadcast
    * selection, and partition-size estimates all read these numbers
    * instead of file sizes; the row count is EXACT (one scan), the NDV is
    * a HyperLogLog++ estimate (the same approximate-vs-exact trade as
    * g04/g07). */
  def analyze(spark: SparkSession, table: String,
              columns: Seq[String] = Seq.empty): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS " +
        columns.map(c => s"`$c`").mkString(", "))
    ()
  }

  /** Read one column's recorded stats off the public SQL surface
    * (`DESCRIBE EXTENDED table column` → info_name/info_value rows):
    * min, max, num_nulls, distinct_count, ... as strings. */
  def columnStats(spark: SparkSession, table: String,
                  column: String): Map[String, String] =
    spark.sql(s"DESCRIBE EXTENDED $table `$column`")
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap

  /** The planner-visible row count for a catalog table under CBO — the
    * contract [[analyze]] exists to satisfy: `Some(exact rows)` when
    * stats are recorded and `spark.sql.cbo.enabled` is on, `None` when
    * the optimizer is back to file-size-only estimates. Stats read the
    * conf of the thread's active session, so `spark`'s is pinned: a
    * session from `Session.isolated` is never the active one. */
  def plannerRowCount(spark: SparkSession, table: String): Option[BigInt] =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      spark.table(table).queryExecution.optimizedPlan.stats.rowCount
    }
}
