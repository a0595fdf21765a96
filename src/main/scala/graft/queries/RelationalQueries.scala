package graft.queries

import graft.{Session, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational/SQL query surface (SURVEY.md §2.3–2.7, tier [A]).
  *
  * The reference delegates all analytics to Athena's ANSI SQL
  * (README.md:155-164, SDP.py:578-629); here that surface is expressed
  * Spark-first with the DataFrame API so Catalyst handles pushdown, column
  * pruning, join strategy selection, partial aggregation, and AQE.
  *
  * Conventions shared with the DuckDB oracle (see
  * [[graft.SparkEntry.oracleSql]]):
  *  - every computed column is aliased identically on both sides;
  *  - every query has a total ORDER BY (ties broken by a unique key) so the
  *    result is deterministic row-for-row;
  *  - double-valued aggregates are rounded so the two engines' floating-point
  *    accumulation order cannot flip a hash compare.
  *
  * Scale notes (the 100 TB story): all queries below are shuffle-minimal —
  * filters sit directly on the scan (parquet pushdown), small dimension sides
  * are broadcast explicitly, and aggregations rely on Spark's partial (map-
  * side) aggregation. Nothing collects to the driver.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q01: TPC-H Q1-style pricing summary — grouped aggregation with partial
    * (map-side) combine; one shuffle on the 2 grouping keys. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** q02: TPC-H Q6-style selective filter + aggregate. The three predicates
    * are pushed into the parquet scan (row-group min/max skipping at scale). */
  def q02FilterAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_rows"))

  /** q03: TPC-H Q5-style multi-way join: lineitem⋈orders⋈customer⋈nation⋈region.
    * nation/region are broadcast (tiny dims); customer⋈orders⋈lineitem shuffle
    * on their join keys. Flagship query. */
  def q03JoinRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val c  = Tables.customer(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** q04: left outer join — customers kept even with zero orders; count(o_orderkey)
    * skips the null-extended rows while count(*) keeps them. */
  def q04LeftJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"), count(lit(1)).as("n_rows"))
      .orderBy(col("c_mktsegment"))

  /** q05: full outer join of two pre-aggregated sides (suppliers vs customers
    * per nation) — aggregate-before-join shrinks both shuffle inputs. */
  def q05FullJoin(s: SparkSession, d: String): DataFrame = {
    val su = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    val cu = Tables.customer(s, d).groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    su.join(cu, Seq("nationkey"), "full")
      .select(col("nationkey"),
              coalesce(col("n_supp"), lit(0L)).as("n_supp"),
              coalesce(col("n_cust"), lit(0L)).as("n_cust"))
      .orderBy(col("nationkey"))
  }

  /** q06: left-semi join (SQL EXISTS) — customers having at least one big order. */
  def q06SemiJoin(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 100000.0)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** q07: left-anti join (SQL NOT EXISTS) — the reference's DLQ-exclusion
    * pattern (SURVEY §2.3): customers with no high-value order. (The
    * threshold keeps the result non-empty at every test SF — every customer
    * has *some* order, so anti-joining on all orders checks nothing.) */
  def q07AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000.0),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_no_big_order"))
      .orderBy(col("c_mktsegment"))

  /** q08: self theta-join — nation pairs within a region (equi key + `<`
    * residual keeps it a hash join, not a nested loop). */
  def q08ThetaJoin(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d).select(
      col("n_nationkey").as("k1"), col("n_name").as("nation_a"), col("n_regionkey").as("rk1"))
    val n2 = Tables.nation(s, d).select(
      col("n_nationkey").as("k2"), col("n_name").as("nation_b"), col("n_regionkey").as("rk2"))
    n1.join(n2, col("rk1") === col("rk2") && col("k1") < col("k2"))
      .select(col("nation_a"), col("nation_b"))
      .orderBy(col("nation_a"), col("nation_b"))
  }

  /** q09: cross join (tiny × tiny — Catalyst plans a broadcast nested loop). */
  def q09CrossJoin(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name"), col("n_name"))

  /** q10: ranking window — top-3 orders per customer. Window ORDER BY is made
    * total with the unique o_orderkey tie-break so results are deterministic. */
  def q10WindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** q11: analytic windows — running sum / lag / lead over a per-supplier
    * timeline (restricted to a supplier subset to bound output size). */
  def q11WindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 10)
      .withColumn("running_qty", sum(col("l_quantity"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .withColumn("next_qty", lead(col("l_quantity"), 1).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("running_qty"), col("prev_qty"), col("next_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** q12: exact distinct aggregation (expands to two-phase agg in Spark). */
  def q12DistinctAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("d_parts"),
           countDistinct(col("l_suppkey")).as("d_supps"),
           count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** q13: ROLLUP — hierarchy subtotals; grouping nulls made explicit with a
    * marker so both engines agree (the data itself has no nulls). */
  def q13Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("rf"), col("ls"))

  /** q14: CUBE — all grouping combinations. */
  def q14Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("sum_price"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("sum_price"), col("n_rows"))
      .orderBy(col("status"), col("priority"))

  /** q15: GROUPING SETS via the SQL surface (spark.sql over a temp view). */
  def q15GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("gs_lineitem")
    s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             sum(l_quantity) AS sum_qty
      FROM gs_lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls
    """)
  }

  /** q16: top-k — ORDER BY ... LIMIT k plans as TakeOrderedAndProject (per-
    * partition top-k then a single merge; no global sort at scale). */
  def q16TopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** q17: set operations — INTERSECT / EXCEPT / UNION semantics over
    * customer key sets, computed in ONE orders scan: a single
    * `groupBy(o_custkey)` derives per-customer year membership flags, and
    * both/only96/any fall out of the flags (a literal
    * intersect/except/union formulation scans orders six times). */
  def q17SetOps(s: SparkSession, d: String): DataFrame = {
    val y96 = col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp")
    val y97 = col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp")
    Tables.orders(s, d)
      .filter(y96 || y97)
      .groupBy(col("o_custkey"))
      .agg(max(when(y96, 1).otherwise(0)).as("in96"),
           max(when(y97, 1).otherwise(0)).as("in97"))
      .agg(
        count(lit(1)).as("n_any"), // every grouped customer bought in 96 or 97
        sum(when(col("in96") === 1 && col("in97") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("in96") === 1 && col("in97") === 0, 1L).otherwise(0L)).as("n_only96"))
      .select(expr("stack(3, 'any', n_any, 'both', n_both, 'only96', n_only96) AS (op, n)"))
      .orderBy(col("op"))
  }

  /** q34: the set OPERATORS themselves (§2.6) — `intersect`, `except` and
    * distinct `union` over nation-key sets from two different tables.
    * q17 answers the same-shape business question in one scan; this query
    * exists so Spark's Intersect/Except/Distinct-Union physical operators
    * stay under oracle coverage (small distinct inputs — the honest use
    * of these operators at scale; set algebra over a fact table belongs
    * in a grouped aggregate like q17). */
  def q34SetOperators(s: SparkSession, d: String): DataFrame = {
    val custN = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").as("nationkey")).distinct()
    val suppN = Tables.supplier(s, d)
      .filter(col("s_acctbal") > 5000.0)
      .select(col("s_nationkey").as("nationkey")).distinct()
    custN.intersect(suppN).withColumn("op", lit("both"))
      .union(custN.except(suppN).withColumn("op", lit("cust_only")))
      .union(custN.union(suppN).distinct().withColumn("op", lit("either")))
      .groupBy(col("op")).agg(count(lit(1)).as("n"))
      .orderBy(col("op"))
  }

  /** q18: scalar function sweep — string / math functions in one projection
    * (all codegen'd builtins, SURVEY §2.7). */
  def q18ScalarFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name8"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        round(col("p_retailprice") * 1.1, 2).as("bumped"),
        abs(col("p_size") - lit(25)).as("dsize"),
        floor(log(col("p_retailprice"))).as("ln_floor"),
        // long, not int: matches DuckDB's BIGINT length() so the oracle
        // hash compare sees identical dtypes
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy(col("p_partkey"))

  /** q19: timestamp part derivation — the reference's partition-projection
    * columns (SDP.py:197 `year=/month=/day=/hour=`), SURVEY P5. */
  def q19DateParts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        year(col("ts")).as("year"),
        month(col("ts")).as("month"),
        dayofmonth(col("ts")).as("day"),
        hour(col("ts")).as("hour"),
        date_format(col("ts"), "yyyy-MM-dd HH").as("bucket"))
      .orderBy(col("event_id"))

  /** q20: JSON extraction — the reference ingests JSON payloads and routes on
    * JSONPath expressions (SDP.py:406, :413); here over events.props. */
  def q20Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** q33: the infer-then-parse JSON path (§2.7: `json_tuple`,
    * `schema_of_json`, `to_json` — the three not exercised by q20/q32).
    * `schema_of_json` infers the payload schema from ONE sampled row (a
    * deliberate driver-side pre-pass, like dynamic pivot's value
    * collection: schema inference over unknown payloads IS a pre-pass at
    * any scale); `json_tuple` generator-extracts fields; `to_json`
    * round-trips the parsed struct, all cross-checked per row. */
  def q33JsonInfer(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // fallback sample keeps the inferred shape (struct<k:bigint>) when the
    // table is empty / all-null, so the query returns an empty frame with
    // the same schema instead of throwing on head-of-empty
    val sample = ev.select(col("props")).na.drop().limit(1)
      .collect().headOption.map(_.getString(0)).getOrElse("""{"k": 0}""")
    val payloadSchema = schema_of_json(lit(sample))
    ev.select(col("event_id"), col("event_type"), col("props"))
      .select(col("event_type"), col("props"),
        json_tuple(col("props"), "k").as("k_str"))
      .withColumn("j", from_json(col("props"), payloadSchema))
      .withColumn("rt", to_json(col("j")))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k_str").cast("long")).as("sum_k"),
        count(when(col("j.k").cast("string") === col("k_str"), 1)).as("n_struct_agree"),
        // STRUCTURAL round-trip: re-parse to_json's output and compare the
        // structs (a string compare against a rewritten `props` would also
        // rewrite ": " sequences inside string values). Conditioned on a
        // present `k` so the count equals the oracle's k-not-null count.
        count(when(col("j.k").isNotNull &&
            from_json(col("rt"), payloadSchema) === col("j"), 1))
          .as("n_roundtrip"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** q21: tumbling time window (1 h) — batch form of the streaming T2 rollup;
    * date_trunc keeps the bucket comparable across engines. */
  def q21TimeWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))

  /** q22: percentiles per group (SURVEY G6), split by column cardinality —
    * the distinction that decides whether the plan survives 100×:
    *
    *  - `l_quantity` has ~50 distinct values, so exact `percentile` (a
    *    TypedImperativeAggregate buffering a value→count map per group) is
    *    BOUNDED state — it stays exact.
    *  - `l_extendedprice` is near-unique; exact percentile over 3 groups
    *    would buffer ~N/3 distinct doubles in one final-agg task's map —
    *    unbounded state at scale. It uses `approx_percentile` instead: a
    *    fixed-size mergeable quantile sketch (accuracy 10000 ⇒ rank error
    *    ≤ 1e-4·N), combined map-side like any algebraic aggregate.
    *
    * The oracle checks what a rank sketch actually guarantees: a second
    * aggregation pass counts the fraction of rows ≤ the sketch's p99
    * answer and asserts it lands within ±max(0.005, 1.5/n) of 0.99
    * (the constant floor covers the 1e-4 rank error plus tie slack;
    * the 1.5/n term keeps the band no finer than the group's own rank
    * granularity at small n) — the q25-style
    * tolerance-band contract, since sketch internals differ across
    * engines. The rank-check join broadcasts the 3-row aggregate; both
    * passes are plain scans. */
  def q22Percentiles(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    val agg = li.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"),
        expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99_sketch"))
    li.join(broadcast(agg), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        first(col("p50")).as("p50"),
        first(col("p95")).as("p95"),
        {
          // band half-width scales with group count: a group of n rows
          // has rank granularity 1/n, so a fixed ±0.005 band is finer
          // than the data can resolve below n ≈ 200 rows and would
          // spuriously fail on tiny SFs even when the sketch is exact.
          val n = count(lit(1))
          val h = greatest(lit(0.005), lit(1.5) / n)
          val frac = sum(when(col("l_extendedprice") <= col("p99_sketch"), 1L)
            .otherwise(0L)).cast("double") / n
          (frac >= lit(0.99) - h && frac <= lit(0.99) + h).as("p99_rank_ok")
        })
      .orderBy(col("l_returnflag"))
  }

  /** q23: broadcast-join enrichment (SURVEY P3) — fact rows enriched from a
    * dimension with an explicit broadcast hint. */
  def q23BroadcastEnrich(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  /** q24: correlated scalar subquery via SQL — orders above their customer's
    * average order value. */
  def q24Subquery(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("sq_orders")
    s.sql("""
      SELECT o_custkey, count(*) AS n_above
      FROM sq_orders o
      WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM sq_orders i
                            WHERE i.o_custkey = o.o_custkey)
      GROUP BY o_custkey
      ORDER BY o_custkey
    """)
  }

  /** q38: correlated EXISTS / NOT EXISTS via SQL — nations that have a
    * high-balance customer but no deeply negative one, with their supplier
    * counts. Catalyst decorrelates both predicates (RewritePredicateSubquery)
    * into a left-semi and a left-anti hash join on `nationkey` — at scale
    * neither subquery is ever evaluated per-row, and the tiny customer
    * aggregates broadcast. (q06/q07 express the same joins with the
    * DataFrame API; this row pins the SQL-subquery path the reference's
    * Athena users would actually write.) */
  def q38ExistsSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.supplier(s, d).createOrReplaceTempView("ex_supplier")
    Tables.nation(s, d).createOrReplaceTempView("ex_nation")
    Tables.customer(s, d).createOrReplaceTempView("ex_customer")
    // total_bal sums micro-scaled integers (s_acctbal is an exact 2-dp
    // decimal, so round(x*100) is exact and the sum is order-free) — the
    // p16/p20/x03 idiom, so no parallel-double-sum order can flip the
    // rounded digit between engines (ADVICE r6). The cents sum is CAST to
    // DOUBLE before the division: Spark parses the `100.0` literal as
    // DECIMAL(4,1), so BIGINT/DECIMAL would type the column DECIMAL where
    // DuckDB's division yields DOUBLE — same values, different serialized
    // type, hash mismatch (the r07 red row).
    s.sql("""
      SELECT n_name, count(*) AS n_suppliers,
             round(CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0, 2) AS total_bal
      FROM ex_supplier s JOIN ex_nation n ON s.s_nationkey = n.n_nationkey
      WHERE EXISTS (SELECT 1 FROM ex_customer c
                    WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal > 9000)
        AND NOT EXISTS (SELECT 1 FROM ex_customer c
                        WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal < -999)
      GROUP BY n_name
      ORDER BY n_name
    """)
  }

  /** q39: correlated LATERAL derived table via SQL — each mktsegment's top
    * spender joined laterally to that customer's order stats. The lateral
    * aggregate decorrelates (DecorrelateInnerQuery) into one grouped
    * aggregate over orders + a hash join — per-customer re-execution never
    * happens at scale; the top-spender side is a WindowGroupLimit over the
    * customer scan. */
  def q39LateralJoin(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("lat_customer")
    Tables.orders(s, d).createOrReplaceTempView("lat_orders")
    s.sql("""
      SELECT t.c_mktsegment, t.c_custkey, o.n_orders, o.max_price
      FROM (SELECT c_mktsegment, c_custkey,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey) AS rnk
            FROM lat_customer) t,
           LATERAL (SELECT count(*) AS n_orders,
                           round(coalesce(max(o_totalprice), 0.0), 2) AS max_price
                    FROM lat_orders o WHERE o.o_custkey = t.c_custkey) o
      WHERE t.rnk <= 3
      ORDER BY t.c_mktsegment, t.c_custkey
    """)
  }

  /** q40: the distribution-ranking window functions q10/q26 don't cover —
    * dense_rank, percent_rank, cume_dist — over a deterministic
    * (price DESC, key) order per priority class. Same scale shape as q10:
    * one hash exchange on the partition key, per-partition sort, no
    * global sort until the final (tiny) ORDER BY. The two distribution
    * functions are exact rationals of rank and partition size, so
    * round(·,6) agrees bitwise across engines. */
  def q40WindowDistribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        dense_rank().over(w).as("drank"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .orderBy(col("o_orderkey"))
  }

  /** q41: recursive CTE (new in Spark 4.x — UnionLoop execution) — every
    * supplier walks its implicit binary-tree ancestry (parent = key div
    * 2) to the root and the depth distribution is rolled up. The
    * iterative-graph shape SQL users previously had to hand-loop on the
    * driver (d07's propagation) now runs as engine-level recursion: each
    * step is one distributed plan over the frontier, O(log N) steps for
    * this tree — the recursion DEPTH, not the corpus, bounds the step
    * count at any scale. */
  def q41RecursiveCte(s: SparkSession, d: String): DataFrame = {
    Tables.supplier(s, d).createOrReplaceTempView("rc_supplier")
    s.sql("""
      WITH RECURSIVE chain(k, anc, depth) AS (
        SELECT s_suppkey, s_suppkey, 0 FROM rc_supplier
        UNION ALL
        SELECT k, anc DIV 2, depth + 1 FROM chain WHERE anc > 1
      )
      SELECT depth, count(*) AS n_nodes, count(DISTINCT anc) AS n_ancestors
      FROM chain
      GROUP BY depth
      ORDER BY depth
    """)
  }

  /** q42: ANSI ordered-set aggregates — the SQL:2008 inverse-distribution
    * functions (`percentile_cont` / `percentile_disc` WITHIN GROUP),
    * completing §2.4 G6 beyond q22's approximate form with EXACT
    * percentiles. The hash-exact oracle is safe because the ordering
    * column is integer cents and the percentiles are quarters: the
    * interpolation a + (b−a)·f with f ∈ {0.25, 0.5, 0.75} over integers
    * ≤ 2^52 is exact IEEE arithmetic (b−a integer; ·f a power-of-two
    * scale), so both engines produce bit-identical doubles — no q22-style
    * tolerance band needed. `percentile_disc` picks an element, exact by
    * construction. At scale this plans as a sort-based aggregate per
    * group — one keyed exchange, no window. */
  /** The q42 SQL, shared verbatim with the oracle (only the table name
    * differs — the g15Sql single-sourcing pattern): the bit-exactness
    * argument requires both engines to evaluate the identical text. */
  private def q42Sql(table: String): String = s"""
      SELECT event_type, count(*) AS n,
             percentile_cont(0.25) WITHIN GROUP
               (ORDER BY CAST(round(value * 100) AS BIGINT)) AS p25,
             percentile_cont(0.5)  WITHIN GROUP
               (ORDER BY CAST(round(value * 100) AS BIGINT)) AS p50,
             percentile_cont(0.75) WITHIN GROUP
               (ORDER BY CAST(round(value * 100) AS BIGINT)) AS p75,
             CAST(percentile_disc(0.5) WITHIN GROUP
               (ORDER BY CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS p50_disc
      FROM $table
      GROUP BY event_type
      ORDER BY event_type"""

  def q42OrderedSetAgg(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("os_events")
    s.sql(q42Sql("os_events"))
  }

  /** The q43 SQL, shared verbatim with the oracle (the q42Sql pattern).
    * Bivariate statistics panel — corr / covariance / stddev / linear
    * regression per group, the §2.4 completion beyond q22/q42's
    * univariate quantiles. Identical text does NOT make the doubles
    * bit-identical here (each engine merges co-moments in its own
    * order), so every statistic is rounded at digits the measured
    * magnitudes make drift-proof: abs rounding granularity sits ≥ 3
    * orders above the ~1e-12-relative co-moment summation error at
    * these group sizes (corr ~1e-3 @6dp, covar ~1e3 @4dp, slope ~16
    * @4dp, intercept ~5e4 @4dp). One partial-aggregated pass per
    * group — the co-moment buffers merge map-side like any sum. */
  private def q43Sql(table: String): String = s"""
      SELECT l_returnflag, count(*) AS n,
             round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
             round(covar_pop(l_extendedprice, l_quantity), 4) AS covar_pop_pq,
             round(covar_samp(l_extendedprice, l_quantity), 4) AS covar_samp_pq,
             round(stddev_samp(l_quantity), 6) AS sd_qty,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
      FROM $table
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""

  def q43StatsPanel(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("sp_lineitem")
    s.sql(q43Sql("sp_lineitem"))
  }

  /** q44: UNPIVOT/melt — the inverse of q30/q36's pivot, completing the
    * reshape surface: four lineitem measures melt to (id, measure, v)
    * long form (Spark's native `Dataset.unpivot`, an Expand under the
    * hood — one scan, no join, rows × 4 map-side), then a grouped
    * rollup per (flag, measure) pins the reshape exactly via
    * cent-scaled integer sums. Long form is what generic downstream
    * consumers (metric stores, plotting, per-measure quality rules)
    * want — the wide→long reshape is a real operator, not sugar. */
  def q44Unpivot(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "v")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("v") * 100).cast("long")).as("cents"))
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** q45: skewed enrich under AQE skew-join (VERDICT r9 item 4) — the
    * P3 broadcast-enrich shape when the dimension is NOT broadcastable
    * and the fact's join key is Zipf-hot: 3/4 of the fact rows collapse
    * onto one key, so a plain sort-merge join serializes the hot
    * partition onto one task — THE silent 100× scale-killer p23 dodges
    * by manual salting. This row takes the other production path:
    * leave the plan declarative and let AQE's runtime skew-split divide
    * the hot partition (duplicating the matching build rows), asserted
    * by PlanSpec on the executed plan's `skew=true` markers.
    *
    * Confs are set on a CLONED session (the st02 discipline — never
    * mutate the shared session): broadcast disabled to force the
    * shuffled join the shape is about; the skew thresholds are scaled
    * to toy SF (at production SF the 256 MB default plays the same
    * role). The aggregate after the join is exact integers, so the
    * oracle is a plain SQL restatement. */
  def q45SkewJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = Session.isolated(s, "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // thresholds sized to COMPRESSED shuffle bytes at toy SF (the stats
      // AQE reads are post-lz4: the 10k-row hot partition is ~10 KB)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b")
    def sk(c: org.apache.spark.sql.Column) =
      when(pmod(c, lit(4L)) =!= 0, lit(0L)).otherwise(c)
    // the fact rows carry their payload (event_id, value) through the
    // join — realistic, and load-bearing for DETECTION at toy SF: skew
    // stats are COMPRESSED bytes, and a hot partition of byte-identical
    // (0, event_type) rows lz4-compresses below any sane threshold
    // (measured: skew never fired until the incompressible columns rode
    // along)
    val ev = Tables.events(s2, d)
      .select(sk(col("user_id")).as("sk"), col("event_type"),
        col("event_id"), col("value"))
      // multiple MAP tasks ahead of the join shuffle: AQE splits a
      // skewed reduce partition by mapper ranges, so a single-file scan
      // (one mapper, the toy-SF shape) leaves the hot partition
      // unsplittable no matter the thresholds (measured). A production
      // scan has thousands of mappers naturally; this round-robin is
      // the toy-SF stand-in for that.
      .repartition(8)
    // the dim is made key-unique by FILTER, not aggregate: AQE\'s skew
    // rule only splits a SortMergeJoin whose children are
    // ENSURE_REQUIREMENTS shuffles directly under Sort — an inline
    // aggregate (whose output partitioning already satisfies the join)
    // or a user repartition() on the dim side masks the split (measured:
    // skew=true never appeared until the dim became filter+project)
    val c = col("c_custkey").cast("long")
    val dim = Tables.customer(s2, d)
      .filter((c % 4 === 0 && c =!= 0) || c === 1)
      .select(sk(c).as("sk"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    // NO distinct-on-the-join-key in the output: count(DISTINCT sk)
    // would make the aggregate's required distribution ride the join's
    // hash integrity, and AQE then (correctly) refuses the skew split —
    // splitting would break same-key co-location for the distinct
    // (measured: skew=true vanished with countDistinct(sk) present)
    ev.join(dim, "sk")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("bal_cents")).as("sum_bal_cents"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** q46 burst threshold: an event is "bursty" when its user produced at
    * least this many events in the trailing hour (itself included) —
    * sized so the flag bites at every test SF (trailing-hour peaks are
    * 3/3/4 at sf0.001/0.01/0.1). */
  val BurstMin = 3L

  /** q46: event-time trailing-interval windows — the per-EVENT rolling
    * aggregate q37's fixed tumbling/sliding grid cannot express: at
    * every event, how many events (and how much value) its user
    * produced in the trailing hour and trailing 10 minutes. This is the
    * rate-limiter / burst-detector shape: the decision attaches to the
    * EVENT, not a bucket, so the frame must slide per row. Frames are
    * RANGE over epoch MICROSECONDS — both engines order by the same
    * BIGINT; INTERVAL literals over sub-second timestamps are a
    * boundary-semantics trap between engines, epoch-integer ranges are
    * not (boundary inclusive: exactly-one-hour-ago counts). Duplicate
    * timestamps are RANGE peers in both engines, so ties cannot skew
    * the frame. Scale: ONE shuffle on user_id; both frames ride the
    * same sort within the partition; the rollup reuses the exchange. */
  def q46TrailingWindow(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("tus"))
    val wH = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-3600L * 1000000L, 0L)
    val wM = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-600L * 1000000L, 0L)
    base
      .withColumn("n_1h", count(lit(1)).over(wH))
      .withColumn("v_1h", round(sum(col("value")).over(wH), 4))
      .withColumn("n_10m", count(lit(1)).over(wM))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("n_1h")).as("peak_1h"),
        max(col("n_10m")).as("peak_10m"),
        sum(when(col("n_1h") >= BurstMin, 1L).otherwise(0L)).as("n_bursty"),
        round(max(col("v_1h")), 4).as("max_v_1h"))
      .orderBy(col("user_id"))
  }

  /** q47: running DISTINCT-count window — per user, ordered by event
    * time, how many DISTINCT event types the user has produced so far,
    * and when the user first covered the full set. Spark has no
    * `count(DISTINCT) OVER`, so the operator is re-expressed with the
    * standard two-window identity: a row is a "discovery" iff it is the
    * first row of its (user, type) block when the partition is sorted
    * by (type, time) — `lag(event_type)` detects the block edge — and
    * the running distinct count is then the running SUM of the
    * discovery flag in time order. Both windows share ONE hash
    * partition on user_id (one Exchange, two in-partition Sorts,
    * PlanSpec-pinned) — the naive per-(user,type) row_number would add
    * a second full shuffle. The DuckDB oracle runs its NATIVE
    * `count(DISTINCT …) OVER` — an independently-engineered
    * implementation of the semantics, not a restatement (a06's oracle
    * discipline). ROWS frames on a (tus, event_id)-unique ordering on
    * both sides, so tie-peers cannot differ.
    *
    * Scale: one shuffle on user_id; the rollup reuses the partitioning.
    * Per-row state is O(1) — the discovery flag carries the distinct
    * set implicitly, where a naive collect_set-over-window materializes
    * an O(#types) array per ROW. */
  def q47WindowDistinct(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tus"))
    val byType = Window.partitionBy(col("user_id"))
      .orderBy(col("event_type"), col("tus"), col("event_id"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    base
      .withColumn("is_first",
        (lag(col("event_type"), 1).over(byType).isNull ||
          lag(col("event_type"), 1).over(byType) =!= col("event_type"))
          .cast("long"))
      .withColumn("d_sofar", sum(col("is_first")).over(byTime))
      .withColumn("rn", row_number().over(byTime).cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("is_first")).as("n_types"),
        max(when(col("is_first") === 1L, col("rn"))).as("cover_rn"),
        max(when(col("is_first") === 1L, col("tus"))).as("cover_tus"),
        max(col("d_sofar")).as("max_d_sofar"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, Q] = Map(
    "q47_window_distinct" -> q47WindowDistinct _,
    "q46_trailing_window" -> q46TrailingWindow _,
    "q45_skew_join"       -> q45SkewJoin _,
    "q44_unpivot"         -> q44Unpivot _,
    "q43_stats_panel"     -> q43StatsPanel _,
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_filter_agg"      -> q02FilterAgg _,
    "q03_join_revenue"    -> q03JoinRevenue _,
    "q04_left_join"       -> q04LeftJoin _,
    "q05_full_join"       -> q05FullJoin _,
    "q06_semi_join"       -> q06SemiJoin _,
    "q07_anti_join"       -> q07AntiJoin _,
    "q08_theta_join"      -> q08ThetaJoin _,
    "q09_cross_join"      -> q09CrossJoin _,
    "q10_window_rank"     -> q10WindowRank _,
    "q11_window_running"  -> q11WindowRunning _,
    "q12_distinct_agg"    -> q12DistinctAgg _,
    "q13_rollup"          -> q13Rollup _,
    "q14_cube"            -> q14Cube _,
    "q15_grouping_sets"   -> q15GroupingSets _,
    "q16_topk"            -> q16TopK _,
    "q17_set_ops"         -> q17SetOps _,
    "q18_scalar_funcs"    -> q18ScalarFuncs _,
    "q19_date_parts"      -> q19DateParts _,
    "q20_json"            -> q20Json _,
    "q33_json_infer"      -> q33JsonInfer _,
    "q34_set_operators"   -> q34SetOperators _,
    "q21_time_window"     -> q21TimeWindow _,
    "q22_percentiles"     -> q22Percentiles _,
    "q23_broadcast_enrich"-> q23BroadcastEnrich _,
    "q24_subquery"        -> q24Subquery _,
    "q38_exists_subquery" -> q38ExistsSubquery _,
    "q39_lateral_join"    -> q39LateralJoin _,
    "q40_window_distribution" -> q40WindowDistribution _,
    "q41_recursive_cte"   -> q41RecursiveCte _,
    "q42_ordered_set_agg" -> q42OrderedSetAgg _,
  )

  /** DuckDB-equivalent SQL (driver runs these over the same parquet tables). */
  val oracleSql: Map[String, String] = Map(
    // q42: the IDENTICAL SQL text (single-sourced via q42Sql); integer
    // cents + quarter fractions make the interpolation bit-exact
    "q42_ordered_set_agg" -> q42Sql("events"),
    // q43: the IDENTICAL SQL text; rounding digits chosen against the
    // measured co-moment magnitudes (see q43Sql scaladoc)
    "q43_stats_panel" -> q43Sql("lineitem"),
    // q44: DuckDB's native UNPIVOT — an independently-implemented
    // reshape, not a restatement of Spark's Expand
    "q44_unpivot" -> """
      WITH m AS (
        UNPIVOT (SELECT l_returnflag, l_quantity, l_extendedprice,
                        l_discount, l_tax
                 FROM lineitem)
        ON l_quantity, l_extendedprice, l_discount, l_tax
        INTO NAME measure VALUE v)
      SELECT l_returnflag, measure, count(*) AS n,
             CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM m GROUP BY l_returnflag, measure
      ORDER BY l_returnflag, measure""",
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 6) AS avg_qty,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_agg" -> """
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""",
    "q03_join_revenue" -> """
      SELECT n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY n_name""",
    "q04_left_join" -> """
      SELECT c_mktsegment, count(o_orderkey) AS n_orders, count(*) AS n_rows
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",
    "q05_full_join" -> """
      SELECT coalesce(su.nationkey, cu.nationkey) AS nationkey,
             coalesce(n_supp, 0) AS n_supp,
             coalesce(n_cust, 0) AS n_cust
      FROM (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) su
      FULL JOIN (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) cu
      USING (nationkey)
      ORDER BY nationkey""",
    "q06_semi_join" -> """
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      ORDER BY c_custkey""",
    "q07_anti_join" -> """
      SELECT c_mktsegment, count(*) AS n_no_big_order
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",
    "q08_theta_join" -> """
      SELECT n1.n_name AS nation_a, n2.n_name AS nation_b
      FROM nation n1 JOIN nation n2
        ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
      ORDER BY nation_a, nation_b""",
    "q09_cross_join" -> """
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name""",
    "q10_window_rank" -> """
      SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders) t
      WHERE rk <= 3
      ORDER BY o_custkey, rk""",
    "q11_window_running" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             sum(l_quantity) OVER w AS running_qty,
             lag(l_quantity, 1) OVER w AS prev_qty,
             lead(l_quantity, 1) OVER w AS next_qty
      FROM lineitem
      WHERE l_suppkey <= 10
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY l_suppkey, l_orderkey, l_linenumber""",
    "q12_distinct_agg" -> """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS d_parts,
             count(DISTINCT l_suppkey) AS d_supps,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q13_rollup" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             sum(l_quantity) AS sum_qty, count(*) AS n_rows
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls""",
    "q14_cube" -> """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_rows
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""",
    "q15_grouping_sets" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             sum(l_quantity) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls""",
    "q16_topk" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10""",
    "q17_set_ops" -> """
      WITH b96 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                     AND o_orderdate <  TIMESTAMP '1997-01-01'),
           b97 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                     AND o_orderdate <  TIMESTAMP '1998-01-01')
      SELECT 'any' AS op, count(*) AS n FROM (SELECT * FROM b96 UNION SELECT * FROM b97) t
      UNION ALL
      SELECT 'both' AS op, count(*) AS n FROM (SELECT * FROM b96 INTERSECT SELECT * FROM b97) t
      UNION ALL
      SELECT 'only96' AS op, count(*) AS n FROM (SELECT * FROM b96 EXCEPT SELECT * FROM b97) t
      ORDER BY op""",
    "q18_scalar_funcs" -> """
      SELECT p_partkey,
             upper(substr(p_name, 1, 8)) AS name8,
             concat(p_brand, '#', p_type) AS brand_type,
             round(p_retailprice * 1.1, 2) AS bumped,
             abs(p_size - 25) AS dsize,
             CAST(floor(ln(p_retailprice)) AS BIGINT) AS ln_floor,
             length(p_name) AS name_len
      FROM part
      ORDER BY p_partkey""",
    "q19_date_parts" -> """
      SELECT event_id,
             year(ts) AS year, month(ts) AS month, day(ts) AS day, hour(ts) AS hour,
             strftime(ts, '%Y-%m-%d %H') AS bucket
      FROM events
      ORDER BY event_id""",
    "q34_set_operators" -> """
      WITH custn AS (
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        WHERE c_mktsegment = 'BUILDING'),
      suppn AS (
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        WHERE s_acctbal > 5000.0),
      tagged AS (
        SELECT 'both' AS op, nationkey FROM (SELECT * FROM custn INTERSECT SELECT * FROM suppn)
        UNION ALL
        SELECT 'cust_only' AS op, nationkey FROM (SELECT * FROM custn EXCEPT SELECT * FROM suppn)
        UNION ALL
        SELECT 'either' AS op, nationkey FROM (SELECT * FROM custn UNION SELECT * FROM suppn))
      SELECT op, count(*) AS n FROM tagged GROUP BY op ORDER BY op""",
    // CORPUS COUPLING (deliberate, like the tolerance-band contracts):
    // n_struct_agree / n_roundtrip equal the k-not-null count because
    // every generated props payload is valid JSON (malformed payloads
    // would make from_json null and drop out of both counts on the Spark
    // side while this SQL still counts their extractable k — if the
    // events generator ever emits malformed props, this oracle must gain
    // a json_valid() guard).
    "q33_json_infer" -> """
      SELECT event_type,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             CAST(count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NOT NULL)
               AS BIGINT) AS n_struct_agree,
             CAST(count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NOT NULL)
               AS BIGINT) AS n_roundtrip,
             count(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    "q20_json" -> """
      SELECT event_type,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             count(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    "q21_time_window" -> """
      SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_bucket, event_type""",
    // p50/p95 are exact on the bounded-cardinality column and compare
    // value-for-value; p99 on the near-unique column is a sketch whose
    // comparable contract is the rank band (stated as a constant here,
    // verified by the Spark side's second-pass rank count — q25-style).
    "q22_percentiles" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 6)  AS p50,
             round(quantile_cont(l_quantity, 0.95), 6) AS p95,
             TRUE AS p99_rank_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q23_broadcast_enrich" -> """
      SELECT p_brand,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
      ORDER BY p_brand""",
    "q24_subquery" -> """
      SELECT o_custkey, count(*) AS n_above
      FROM orders o
      WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders i
                            WHERE i.o_custkey = o.o_custkey)
      GROUP BY o_custkey
      ORDER BY o_custkey""",
    "q38_exists_subquery" -> """
      SELECT n_name, count(*) AS n_suppliers,
             round(CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0, 2) AS total_bal
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal > 9000)
        AND NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal < -999)
      GROUP BY n_name
      ORDER BY n_name""",
    "q39_lateral_join" -> """
      SELECT t.c_mktsegment, t.c_custkey, o.n_orders, o.max_price
      FROM (SELECT c_mktsegment, c_custkey,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey) AS rnk
            FROM customer) t,
           LATERAL (SELECT count(*) AS n_orders,
                           round(coalesce(max(o_totalprice), 0.0), 2) AS max_price
                    FROM orders o WHERE o.o_custkey = t.c_custkey) o
      WHERE t.rnk <= 3
      ORDER BY t.c_mktsegment, t.c_custkey""",
    "q40_window_distribution" -> """
      SELECT o_orderkey, o_orderpriority,
             dense_rank() OVER w AS drank,
             round(percent_rank() OVER w, 6) AS prank,
             round(cume_dist() OVER w, 6) AS cdist
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderkey""",
    // q47: DuckDB's NATIVE count(DISTINCT) OVER — an independently-
    // engineered implementation of the running-distinct semantics, not
    // a restatement of Spark's two-window identity. cover_rn/cover_tus
    // are derived the independent way too: the first row where the
    // running distinct count reaches the user's total.
    "q47_window_distinct" -> """
      WITH b AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
        FROM events),
      w AS (
        SELECT user_id, tus,
               count(DISTINCT event_type) OVER (
                 PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d,
               row_number() OVER (
                 PARTITION BY user_id ORDER BY tus, event_id) AS rn
        FROM b),
      t AS (
        SELECT user_id, count(*) AS n_events,
               count(DISTINCT event_type) AS n_types
        FROM b GROUP BY user_id)
      SELECT t.user_id,
             CAST(t.n_events AS BIGINT) AS n_events,
             CAST(t.n_types AS BIGINT) AS n_types,
             CAST(min(CASE WHEN w.d = t.n_types THEN w.rn END) AS BIGINT)
               AS cover_rn,
             CAST(min(CASE WHEN w.d = t.n_types THEN w.tus END) AS BIGINT)
               AS cover_tus,
             CAST(max(w.d) AS BIGINT) AS max_d_sofar
      FROM w JOIN t USING (user_id)
      GROUP BY t.user_id, t.n_events, t.n_types
      ORDER BY t.user_id""",
    // q46: the same epoch-microsecond RANGE frames (named windows), the
    // same inclusive trailing boundaries, per-row round before the max
    "q46_trailing_window" -> s"""
      WITH b AS (
        SELECT user_id, value, epoch_us(ts) AS tus FROM events),
      w AS (
        SELECT user_id, value,
               count(*) OVER h AS n_1h,
               round(sum(value) OVER h, 4) AS v_1h,
               count(*) OVER m AS n_10m
        FROM b
        WINDOW h AS (PARTITION BY user_id ORDER BY tus
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
               m AS (PARTITION BY user_id ORDER BY tus
                     RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW))
      SELECT user_id, count(*) AS n_events,
             CAST(max(n_1h) AS BIGINT) AS peak_1h,
             CAST(max(n_10m) AS BIGINT) AS peak_10m,
             CAST(sum(CASE WHEN n_1h >= $BurstMin THEN 1 ELSE 0 END)
               AS BIGINT) AS n_bursty,
             round(max(v_1h), 4) AS max_v_1h
      FROM w GROUP BY user_id ORDER BY user_id""",
    "q45_skew_join" -> """
      WITH ev AS (
        SELECT CASE WHEN user_id % 4 <> 0 THEN 0 ELSE user_id END AS sk,
               event_type, value
        FROM events),
      dim AS (
        SELECT CASE WHEN c_custkey % 4 <> 0 THEN 0 ELSE c_custkey END AS sk,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
        WHERE (c_custkey % 4 = 0 AND c_custkey <> 0) OR c_custkey = 1)
      SELECT ev.event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(dim.bal_cents) AS BIGINT) AS sum_bal_cents,
             CAST(sum(CAST(round(ev.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM ev JOIN dim ON ev.sk = dim.sk
      GROUP BY ev.event_type
      ORDER BY ev.event_type""",
    // same recursion; DuckDB spells integer division //
    "q41_recursive_cte" -> """
      WITH RECURSIVE chain(k, anc, depth) AS (
        SELECT s_suppkey, s_suppkey, 0 FROM supplier
        UNION ALL
        SELECT k, anc // 2, depth + 1 FROM chain WHERE anc > 1
      )
      SELECT depth, count(*) AS n_nodes, count(DISTINCT anc) AS n_ancestors
      FROM chain
      GROUP BY depth
      ORDER BY depth""",
  )
}
