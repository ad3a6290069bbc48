package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{AggFunctions, GeoFunctions, PiiFunctions, TextFunctions, VectorFunctions}
import graft.operators.{AsOfJoin, Audit, BpeTrainer, Centrality, Chunking, Cleaning, ConnectedComponents, Dedup, Diagnostics, Encoding, Funnel, Importance, Layout, Linkage, Merge, Packing, Retention, Rollup, Sampling, Similarity, Sketches, SkewJoin, Spatial, SyntheticGeo, TfIdf}

/** The engine's query catalog: one entry per operator from SURVEY.md §2 plus
  * the LLM-data-pipeline surface (dedup / similarity / text analysis /
  * multimodal). Each `queries` entry has a DuckDB `oracleSql` twin where the
  * semantics are SQL-expressible; non-SQL operators (MinHash, SimHash, LSH
  * ANN) are rows-only entries backed by ScalaTest golden specs.
  *
  * Cross-engine determinism: every floating-point aggregate goes through
  * exact DECIMAL accumulation ([[AggFunctions]], [[VectorFunctions]]), so
  * Spark and DuckDB produce bit-identical doubles regardless of row order or
  * partitioning; every LIMIT carries a total tie-breaking ORDER BY.
  */
object Queries {

  private type Q = (SparkSession, String) => DataFrame

  // SQL fragment helpers (DuckDB dialect) mirroring AggFunctions exactly.
  private def dSum(e: String, scale: Int = 4) =
    s"CAST(sum(CAST($e AS DECIMAL(38,$scale))) AS DOUBLE)"
  private def dAvg(e: String, scale: Int = 4) =
    s"${dSum(e, scale)}/count($e)"

  /** DuckDB mirror of [[AggFunctions.stddevExact]] — keep in LOCKSTEP with
    * it: integer-units squared sum (exact, via HUGEINT — DuckDB executes
    * DECIMAL(18)×DECIMAL(18) in int64 and overflows past ~9.2e18), then
    * the same magnitude-tiered truncation (HUGEINT floor-div ≡ Spark's
    * remainder-subtract on non-negatives; small sums convert exactly) and
    * the same clamped fixed-order closed form. */
  private def dStd(e: String, scale: Int = 4) = {
    val unit = math.pow(10, scale).toLong
    val u = s"CAST(CAST(CAST($e AS DECIMAL(18,$scale)) * $unit AS DECIMAL(18,0)) AS HUGEINT)"
    val ssu = s"sum($u * $u)"
    val exactK = s"1e${-2 * scale}"
    val tiers = (3 to 21 by 3).map { d =>
      val thresh = (BigDecimal(9) * BigDecimal(10).pow(15 + d)).toBigInt
      s"WHEN $ssu < $thresh THEN CAST($ssu // ${BigDecimal(10).pow(d).toBigInt} AS DOUBLE) * 1e${d - 2 * scale}"
    }.mkString(" ")
    val last = s"ELSE CAST($ssu // ${BigDecimal(10).pow(24).toBigInt} AS DOUBLE) * 1e${24 - 2 * scale}"
    val ss = s"(CASE WHEN $ssu < 9000000000000000 THEN CAST($ssu AS DOUBLE) * $exactK $tiers $last END)"
    s"sqrt(greatest($ss - ${dSum(e, scale)}*${dSum(e, scale)}/CAST(count($e) AS DOUBLE), CAST(0.0 AS DOUBLE))" +
      s"/(CAST(count($e) AS DOUBLE) - CAST(1.0 AS DOUBLE)))"
  }

  /** Exact-decimal money product: 2-decimal source columns are cast to
    * decimal BEFORE multiplying, so the product is exact in both engines.
    * (Casting a ~1e5-magnitude double product to DECIMAL(38,10) is NOT
    * cross-engine safe: DuckDB's double→decimal conversion multiplies by
    * 10^scale in double precision and can land one unit off Spark's exact
    * BigDecimal rounding.)
    */
  private def discPriceDec: Column =
    (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2))).cast(DecimalType(18, 4))
  private def chargeDec: Column =
    (discPriceDec * (lit(1.0) + col("l_tax")).cast(DecimalType(18, 2))).cast(DecimalType(18, 6))
  private val discPriceDecSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))"
  private val chargeDecSql =
    s"CAST($discPriceDecSql * CAST(CAST(1.0 AS DOUBLE) + l_tax AS DECIMAL(18,2)) AS DECIMAL(18,6))"
  private val revenueSql = s"CAST(sum($discPriceDecSql) AS DOUBLE)"

  // ---------------------------------------------------------------- q01
  // A2-family grouped aggregation (SURVEY §2.7): the TPC-H Q1 shape —
  // scan + filter + 8-way hash aggregate with map-side partials.
  private val q01: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        AggFunctions.sumExact(col("l_quantity")).as("sum_qty"),
        AggFunctions.sumExact(col("l_extendedprice")).as("sum_base_price"),
        sum(discPriceDec).cast("double").as("sum_disc_price"),
        sum(chargeDec).cast("double").as("sum_charge"),
        AggFunctions.avgExact(col("l_quantity")).as("avg_qty"),
        AggFunctions.avgExact(col("l_extendedprice")).as("avg_price"),
        AggFunctions.avgExact(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | ${dSum("l_quantity")} AS sum_qty,
       | ${dSum("l_extendedprice")} AS sum_base_price,
       | CAST(sum($discPriceDecSql) AS DOUBLE) AS sum_disc_price,
       | CAST(sum($chargeDecSql) AS DOUBLE) AS sum_charge,
       | ${dAvg("l_quantity")} AS avg_qty,
       | ${dAvg("l_extendedprice")} AS avg_price,
       | ${dAvg("l_discount")} AS avg_disc,
       | count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  // The reference's v_hourly_traffic view shape (src/database.py:101-112):
  // DATE_TRUNC tumbling-hour rollup (A2/X3) over the events stream table.
  private val q02: Q = (s, dir) =>
    Rollup
      .hourlyRollup(Tables.events(s, dir), "ts", Seq("event_type"), "value")
      .orderBy("hour", "event_type")

  private val q02Sql =
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
       | count(*) AS n_events, ${dSum("\"value\"")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- q03
  // The reference acceptance query get_top_cells (src/etl.py:283-299):
  // rollup → temporal filter → per-key AVG → top-10 (TakeOrderedAndProject).
  private val q03: Q = (s, dir) => {
    val hourly = Rollup.hourlyRollup(Tables.events(s, dir), "ts", Seq("user_id"), "value")
    hourly
      .filter(col("hour") >= lit("2024-01-05 00:00:00").cast("timestamp"))
      .groupBy(col("user_id"))
      .agg(AggFunctions.avgExact(col("total_value")).as("avg_load"))
      .orderBy(col("avg_load").desc, col("user_id").asc)
      .limit(10)
  }

  private val q03Sql =
    s"""WITH hourly AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, user_id,
       |         ${dSum("\"value\"")} AS total_value
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, ${dAvg("total_value")} AS avg_load
       |FROM hourly WHERE hour >= TIMESTAMP '2024-01-05 00:00:00'
       |GROUP BY user_id ORDER BY avg_load DESC, user_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q04
  // A4 value_counts (notebook cell 13): group-count, desc.
  private val q04: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type").asc)

  private val q04Sql =
    """SELECT event_type, count(*) AS n FROM events
      |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin

  // ---------------------------------------------------------------- q05
  // A6 per-column null profile (notebook isnull().sum()) — single pass.
  private val q05: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val aggs = l.columns.toSeq.map(c => (count(lit(1)) - count(col(c))).as(c))
    l.agg(aggs.head, aggs.tail: _*)
  }

  private val q05Sql = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    "SELECT " + cols.map(c => s"count(*) - count($c) AS $c").mkString(", ") + " FROM lineitem"
  }

  // ---------------------------------------------------------------- q06
  // A5 describe(): count/mean/std/min/max per metric column, melted.
  // Std uses the deterministic sum-of-squares identity (AggFunctions).
  // ONE scan: all 15 aggregates in a single pass, then the one-row result
  // is unpivoted to a row per metric (a per-metric agg + unionAll would
  // read lineitem once per metric).
  private val q06: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val metrics = Seq("l_quantity", "l_extendedprice", "l_discount")
    val aggs = metrics.flatMap { m =>
      Seq(
        count(col(m)).as(s"${m}_n"),
        AggFunctions.avgExact(col(m)).as(s"${m}_mean"),
        AggFunctions.stddevExact(col(m)).as(s"${m}_std"),
        min(col(m)).as(s"${m}_min"),
        max(col(m)).as(s"${m}_max")
      )
    }
    l.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(metrics.map(m =>
        struct(
          lit(m).as("metric"),
          col(s"${m}_n").as("n"),
          col(s"${m}_mean").as("mean"),
          col(s"${m}_std").as("std"),
          col(s"${m}_min").as("min"),
          col(s"${m}_max").as("max"))): _*)).as("kv"))
      .select(col("kv.*"))
      .orderBy("metric")
  }

  private val q06Sql = {
    def one(m: String) =
      s"""SELECT '$m' AS metric, count($m) AS n, ${dAvg(m)} AS mean,
         | ${dStd(m)} AS std,
         | min($m) AS min, max($m) AS max FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount").map(one).mkString("", "\nUNION ALL\n", "\nORDER BY metric")
  }

  // ---------------------------------------------------------------- q07
  // C1/C2/C3 cleaning semantics (reference src/etl.py:134-153) on events:
  // coerce-or-null cast with fill-0 + negative clamp, per row, no shuffle.
  private val q07: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(
        col("event_id"),
        date_trunc("day", col("ts")).as("day"),
        Cleaning.coerceNumericFill0(regexp_extract(col("props"), "[0-9]+", 0)).as("k_value"),
        Cleaning.clampNonNegative(col("value") - lit(150.0)).as("value_clamped")
      )
      .orderBy("event_id")

  private val q07Sql =
    """SELECT event_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      | coalesce(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE), CAST(0.0 AS DOUBLE)) AS k_value,
      | greatest("value" - CAST(150.0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS value_clamped
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q08
  // F2 range predicates + P6 computed projection; filters reach the scan
  // (PushedFilters) so the 100 TB version prunes at parquet row-group level.
  private val q08: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_partkey").between(100, 1099) && col("l_quantity").between(10, 40))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price")
      )
      .orderBy("l_orderkey", "l_linenumber")

  private val q08Sql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      | l_extendedprice*(CAST(1.0 AS DOUBLE)-l_discount) AS net_price
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 1099 AND l_quantity BETWEEN 10 AND 40
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q09
  // F3/J4 membership via broadcast left-semi join (the Spark form of the
  // reference's isin(valid_provinces), src/etl.py:260-263).
  private val q09: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val q09Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q10
  // J1 FK-orphan audit as broadcast left-anti join.
  private val q10: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private val q10Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q11
  // X1/X2/J3 normalization: title-case + literal-map patch (the reference's
  // province_map, src/etl.py:217-225) as a pure expression — no join.
  private val q11: Q = (s, dir) => {
    val m = map(lit("Middle East"), lit("Mid-East"))
    Tables.region(s, dir)
      .select(
        col("r_regionkey"),
        coalesce(element_at(m, initcap(lower(trim(col("r_name"))))), initcap(lower(trim(col("r_name")))))
          .as("r_name_norm")
      )
      .orderBy("r_regionkey")
  }

  private val q11Sql =
    """WITH t AS (
      |  SELECT r_regionkey,
      |    list_aggregate(list_transform(string_split(lower(trim(r_name)), ' '),
      |                   w -> upper(w[1]) || w[2:]), 'string_agg', ' ') AS titled
      |  FROM region)
      |SELECT r_regionkey,
      |  CASE WHEN titled = 'Middle East' THEN 'Mid-East' ELSE titled END AS r_name_norm
      |FROM t ORDER BY r_regionkey""".stripMargin

  // ---------------------------------------------------------------- q12
  // 3-way join + grouped agg + top-k (TPC-H Q3 shape): broadcast the
  // filtered customer dim, shuffle-join orders⋈lineitem on orderkey.
  private val q12: Q = (s, dir) => {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(discPriceDec).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  private val q12Sql =
    s"""SELECT o_orderkey, o_orderdate,
       | $revenueSql AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY o_orderkey, o_orderdate
       |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q13
  // 6-way star join (TPC-H Q5 shape): dims broadcast, facts shuffle once on
  // orderkey; the supplier-nation colocation condition rides the same join.
  private val q13: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter(col("r_name").isin("EUROPE", "ASIA"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .filter(c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(
        o("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          o("o_orderdate") < lit("1999-01-01 00:00:00").cast("timestamp")
      )
      .groupBy(col("n_name"))
      .agg(
        sum(discPriceDec).cast("double").as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  private val q13Sql =
    s"""SELECT n_name,
       | $revenueSql AS revenue,
       | count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name IN ('EUROPE', 'ASIA')
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q14
  // Window top-N per group: one shuffle on the partition key, rank inside.
  private val q14: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("event_type", "rnk")
  }

  private val q14Sql =
    """SELECT event_type, event_id, "value", rnk FROM (
      |  SELECT event_type, event_id, "value",
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY "value" DESC, event_id) AS BIGINT) AS rnk
      |  FROM events) t
      |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin

  // ---------------------------------------------------------------- q15
  // ROLLUP grouping sets over a dim join (extension beyond the reference —
  // Catalyst expands to a single Expand + hash aggregate).
  private val q15: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("n_name"))
      .agg(
        AggFunctions.sumExact(col("o_totalprice")).as("total_sales"),
        count(lit(1)).as("n_orders"),
        grouping(col("n_name")).cast("long").as("is_total")
      )
      .orderBy(col("is_total"), col("n_name").asc_nulls_first)
  }

  private val q15Sql =
    s"""SELECT n_name, ${dSum("o_totalprice")} AS total_sales, count(*) AS n_orders,
       | CAST(grouping(n_name) AS BIGINT) AS is_total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY ROLLUP(n_name)
       |ORDER BY is_total, n_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q16
  // DISTINCT (hash-distinct = groupBy on all columns).
  private val q16: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  private val q16Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q17
  // §2.9 constraint audit suite: the reference's 9-invariant validator
  // (src/etl.py:302-328) generalized — CHECK-style predicates fused into
  // one pass per table, plus FK-orphan and PK-uniqueness audits.
  private val q17: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val e = Tables.events(s, dir)
    val checks = Audit.auditAll(
      Map("lineitem" -> l, "orders" -> o, "events" -> e),
      Seq(
        Audit.Constraint("lineitem_quantity_nonneg", "lineitem", col("l_quantity") >= 0),
        Audit.Constraint("lineitem_discount_range", "lineitem", col("l_discount").between(0, 1)),
        Audit.Constraint("lineitem_price_nonneg", "lineitem", col("l_extendedprice") >= 0),
        Audit.Constraint("orders_totalprice_nonneg", "orders", col("o_totalprice") >= 0),
        Audit.Constraint("events_value_nonneg", "events", col("value") >= 0)
      )
    )
    // FK/PK audits as lazy union legs: the entire 7-check suite is ONE plan
    // and ONE action; Spark schedules the independent scan stages
    // concurrently (previously 4+ sequential driver-blocking jobs).
    val fk = Audit.fkOrphanAudit("fk_orders_customer", o,
      Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"))
    val pk = Audit.pkViolationAudit("pk_lineitem_unique", l, Seq("l_orderkey", "l_linenumber"))
    checks.unionAll(fk).unionAll(pk)
      .withColumnRenamed("constraint", "check_name")
      .orderBy("check_name")
  }

  private val q17Sql =
    """SELECT 'events_value_nonneg' AS check_name,
      |  (SELECT count(*) FROM events WHERE NOT ("value" >= 0)) AS violations
      |UNION ALL SELECT 'fk_orders_customer',
      |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |UNION ALL SELECT 'lineitem_discount_range',
      |  (SELECT count(*) FROM lineitem WHERE NOT (l_discount BETWEEN 0 AND 1))
      |UNION ALL SELECT 'lineitem_price_nonneg',
      |  (SELECT count(*) FROM lineitem WHERE NOT (l_extendedprice >= 0))
      |UNION ALL SELECT 'lineitem_quantity_nonneg',
      |  (SELECT count(*) FROM lineitem WHERE NOT (l_quantity >= 0))
      |UNION ALL SELECT 'orders_totalprice_nonneg',
      |  (SELECT count(*) FROM orders WHERE NOT (o_totalprice >= 0))
      |UNION ALL SELECT 'pk_lineitem_unique',
      |  (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      |                         GROUP BY 1, 2 HAVING count(*) > 1) t)
      |ORDER BY check_name""".stripMargin

  // ---------------------------------------------------------------- q18
  // EXISTS subquery (TPC-H Q4 shape) — planned as a left-semi join; the
  // correlated condition rides the join, no per-row subquery execution.
  private val q18: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  private val q18Sql =
    """SELECT o_orderpriority, count(*) AS n_orders FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q19
  // Aggregate-then-join with HAVING (TPC-H Q18 shape): the heavy grouped
  // aggregation runs first and its small survivor set joins back to dims.
  private val q19: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val big = l.groupBy(col("l_orderkey"))
      .agg(AggFunctions.sumExact(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150.0)
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("c_name"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(20)
  }

  private val q19Sql =
    s"""WITH big AS (
       |  SELECT l_orderkey, ${dSum("l_quantity")} AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING ${dSum("l_quantity")} > 150.0)
       |SELECT o_orderkey, o_orderdate, c_name, total_qty
       |FROM big JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q20
  // Exact dedup by normalized-content hash (one shuffle on a 128-bit key).
  private val q20: Q = (s, dir) =>
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .withColumn("n_docs", col("n_docs"))
      .orderBy("fingerprint")

  private val q20Sql =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      | count(*) AS n_docs, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin

  // ---------------------------------------------------------------- q21
  // Token counting / char stats (text-analysis surface) — per-row codegen.
  private val q21: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        TextFunctions.charCountNoSpace(col("text")).cast("long").as("n_chars_nospace"),
        TextFunctions.meanTokenLength(col("text")).as("mean_token_len")
      )
      .orderBy("doc_id")

  private val q21Sql =
    """SELECT doc_id,
      | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      | CAST(length(text) AS BIGINT) AS n_chars,
      | CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_chars_nospace,
      | CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
      |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |           / CAST((CASE WHEN length(trim(text)) = 0 THEN 0
      |                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS DOUBLE) END
      |   AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q22
  // Quality scoring: length/punctuation/stopword heuristics composed into a
  // deterministic [0,1] score.
  private val q22: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality_score")
      )
      .orderBy("doc_id")

  // DuckDB mirrors of TextFunctions' quality expressions (shared by q22 and
  // the composed-curation q73 so the two oracles can never drift apart).
  private val duckNTokens =
    "(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"
  private val duckPunctRatio = {
    val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
    s"CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST($punct AS DOUBLE)/CAST(length(text) AS DOUBLE) END"
  }
  private val duckStopCount = {
    val stopList = TextFunctions.StopWords.map(w => s"'$w'").mkString(", ")
    s"""len(list_filter(CASE WHEN length(trim(lower(text))) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END, t -> t IN ($stopList)))""".stripMargin
  }
  private val duckStopRatio =
    s"CASE WHEN $duckNTokens = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST($duckStopCount AS DOUBLE)/CAST($duckNTokens AS DOUBLE) END"
  private val duckQualityScore =
    s"""least(CAST($duckNTokens AS DOUBLE)/CAST(64.0 AS DOUBLE), CAST(1.0 AS DOUBLE))*CAST(0.4 AS DOUBLE)
       |  + least(($duckStopRatio)*CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE))*CAST(0.4 AS DOUBLE)
       |  + least(($duckPunctRatio)*CAST(20.0 AS DOUBLE), CAST(1.0 AS DOUBLE))*CAST(0.2 AS DOUBLE)""".stripMargin

  private val q22Sql =
    s"""SELECT doc_id,
       | $duckPunctRatio AS punct_ratio,
       | $duckStopRatio AS stopword_ratio,
       | $duckQualityScore AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q23
  // Language identification (marker-token heuristic + CJK codepoint rule).
  private val q23: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  private val q23Sql = {
    def markers(lang: String) =
      TextFunctions.LangMarkers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    def cnt(lang: String) =
      s"""len(list_filter(CASE WHEN length(trim(lower(text))) = 0 THEN []
         |    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END, t -> t IN (${markers(lang)})))""".stripMargin
    s"""WITH c AS (
       |  SELECT doc_id, text,
       |    ${cnt("en")} AS c_en, ${cnt("de")} AS c_de, ${cnt("es")} AS c_es, ${cnt("fr")} AS c_fr,
       |    (length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))) AS c_zh
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN c_zh * 2 > length(text) THEN 'zh'
       |       WHEN c_en = 0 AND c_de = 0 AND c_es = 0 AND c_fr = 0 THEN 'und'
       |       WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
       |       WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
       |       WHEN c_es >= c_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q24
  // Document fingerprinting: normalized md5 (cross-engine); the rolling
  // 64-bit variant is a rows-only op (q27 family) with ScalaTest goldens.
  private val q24: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  private val q24Sql =
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q25
  // N-gram Jaccard near-dup candidates: shingle-bucket self-join — the
  // exact-verification tier of the dedup stack. k=5 word-grams: on the
  // harness's small-vocabulary synthetic docs, k=3 shingles collide across
  // most doc pairs and the self-join goes quadratic (~86M join rows at
  // sf0.1); 5-grams keep buckets selective with the same oracle on both
  // sides.
  // Stop-shingle prune ON (shingles shared by more docs than this carry no
  // near-dup signal but drive quadratic pair blowup); the DuckDB oracle
  // below applies the IDENTICAL doc-frequency cut so both engines compute
  // the same pruned result.
  private val q25MaxShingleFreq = 200L

  private val q25: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", k = 5, minShared = 2,
        maxShingleFreq = q25MaxShingleFreq)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .orderBy("doc_a", "doc_b")

  private val q25Sql =
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 5 THEN []
      |      ELSE list_transform(range(0, len(regexp_split_to_array(trim(text), '\\s+')) - 4),
      |        i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i+1, i+5), ' '))
      |      END) AS shingles
      |  FROM documents),
      |e0 AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
      |rare AS (SELECT shingle FROM e0 GROUP BY shingle HAVING count(*) <= $q25MaxShingleFreq),
      |e AS (SELECT e0.* FROM e0 JOIN rare USING (shingle))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared,
      |  CAST(count(*) AS DOUBLE) / CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE) AS jaccard
      |FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
      |HAVING count(*) >= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q26/q27
  // MinHash signatures and SimHash sketches. The sketches are xxhash64 +
  // splitmix64 over shingles/tokens — pure 64-bit integer arithmetic, so
  // the DuckDB oracle reimplements BOTH hashes in SQL ([[DuckHash]]:
  // wrap-around u64 via HUGEINT-mod, list_reduce folds) and checks the
  // sketch VALUES bit-for-bit, not just row counts.
  private val q26: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    Dedup.minHashSignatures(d, "doc_id", "text", k = 3, numHashes = 32)
      .select(
        col("doc").as("doc_id"),
        element_at(col("sig"), 1).as("sig_0"),
        element_at(col("sig"), 2).as("sig_1"),
        element_at(col("sig"), 3).as("sig_2"),
        element_at(col("sig"), 4).as("sig_3")
      )
      .orderBy("doc_id")
  }

  private val q26Sql = {
    def sig(i: Int) =
      s"coalesce(a.s$i, 9223372036854775807) AS sig_$i"
    s"""WITH toks AS (
       |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |shg AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN []
       |    ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS shingles
       |  FROM toks),
       |hx0 AS (SELECT doc_id, unnest(shingles) AS tok FROM shg),
       |${DuckHash.xxhash64Ctes("tok")},
       |mx0 AS (SELECT doc_id,
       |  ${DuckHash.wadd("h", DuckHash.wmul("CAST(seed AS UBIGINT)", DuckHash.Golden.toString))} AS sx,
       |  seed
       |  FROM (SELECT doc_id, h, unnest([0, 1, 2, 3]) AS seed FROM hx12)),
       |${DuckHash.mix64Ctes("sx")},
       |mins AS (SELECT doc_id, seed, min(${DuckHash.signed("mh")}) AS mn FROM mx4 GROUP BY doc_id, seed),
       |agg AS (SELECT doc_id,
       |  min(CASE WHEN seed = 0 THEN mn END) AS s0,
       |  min(CASE WHEN seed = 1 THEN mn END) AS s1,
       |  min(CASE WHEN seed = 2 THEN mn END) AS s2,
       |  min(CASE WHEN seed = 3 THEN mn END) AS s3
       |  FROM mins GROUP BY doc_id)
       |SELECT d.doc_id, ${sig(0)}, ${sig(1)}, ${sig(2)}, ${sig(3)}
       |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  private val q27: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.simHash64(col("text")).as("simhash"))
      .orderBy("doc_id")

  private val q27Sql =
    s"""WITH nrm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM documents),
       |hx0 AS (SELECT doc_id,
       |  unnest(CASE WHEN length(trim(nt)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(nt), '\\s+') END) AS tok
       |  FROM nrm),
       |${DuckHash.xxhash64Ctes("tok")},
       |bits AS (SELECT doc_id, h, unnest(range(0, 64)) AS bitpos FROM hx12),
       |cnts AS (SELECT doc_id, bitpos,
       |  sum(CASE WHEN (h // CAST(power(2, bitpos) AS UBIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS c
       |  FROM bits GROUP BY doc_id, bitpos),
       |sims AS (SELECT doc_id,
       |  sum(CASE WHEN c >= 0 THEN CAST(power(2, 63 - bitpos) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS sim
       |  FROM cnts GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(CAST(CASE WHEN s.sim >= CAST('9223372036854775808' AS HUGEINT)
       |                     THEN s.sim - CAST('18446744073709551616' AS HUGEINT)
       |                     ELSE s.sim END AS BIGINT), -1) AS simhash
       |FROM documents d LEFT JOIN sims s USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q28
  // Exact KNN: brute-force cosine top-k, decimal-exact scoring (broadcast
  // queries, map-only scan, per-query top-k window).
  private val q28: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity
      .knnExact(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, exact = true)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"), col("cosine"))
      .orderBy("query_id", "rnk")
  }

  private val q28Sql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |p AS (SELECT q.qid, c.vec_id AS nid, unnest(q.qv) AS qe, unnest(c.embedding) AS ce
      |      FROM q JOIN embeddings c ON c.vec_id <> q.qid),
      |d AS (SELECT qid, nid,
      |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
      |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nq,
      |  CAST(sum(CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nc
      |  FROM p GROUP BY qid, nid),
      |s AS (SELECT qid AS query_id, nid AS neighbor_id, dot/sqrt(nq*nc) AS cosine FROM d),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
      |      FROM s)
      |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q29
  // Embedding-cosine near-dup pairs above a threshold. `allPairs = true`
  // (explicit, exact-recall quadratic form) on a blocked 200-vector subset —
  // the DEFAULT nearDupPairs path is LSH-blocked and is what runs at scale.
  private val q29: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
    Similarity
      .nearDupPairs(e, "vec_id", "embedding", threshold = 0.25, exact = true, allPairs = true)
      .orderBy("id_a", "id_b")
  }

  private val q29Sql =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb, unnest(a.embedding) AS ae, unnest(b.embedding) AS be
      |      FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |d AS (SELECT ida, idb,
      |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
      |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS na,
      |  CAST(sum(CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nb
      |  FROM p GROUP BY ida, idb)
      |SELECT ida AS id_a, idb AS id_b, dot/sqrt(na*nb) AS cosine
      |FROM d WHERE dot/sqrt(na*nb) > 0.25
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q30
  // LSH ANN (random hyperplanes, multi-table probing), exact-decimal
  // candidate scoring. The oracle replays the WHOLE pipeline in DuckDB:
  // hyperplane weights from the same splitmix64 mix (DuckHash), the same
  // ordered double fold for projections (list_reduce mirrors Spark's
  // sequential `aggregate`), bucket equi-join, then q28-style decimal
  // cosine — so bucketing AND ranking are value-checked. Recall vs exact
  // KNN is additionally asserted in ScalaTest.
  private val q30: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity
      .knnLsh(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, exact = true)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"), col("cosine"))
      .orderBy("query_id", "rnk")
  }

  private val q30Sql = {
    // w(seed, plane, dim) = splitmix64(p*1000003 + d + seed*2654435761) as
    // signed double / 2^63 — VectorFunctions.hyperplaneSignBits verbatim.
    // Weights are PRECOMPUTED once per (table, plane) as an ordered list
    // (same per-element values, so the ordered projection fold is
    // bit-identical) instead of re-deriving the mix per corpus vector —
    // ~500x fewer splitmix64 evaluations, 94s -> 1s oracle runtime.
    val mixed = DuckHash.signed(
      DuckHash.mix64Inline("CAST(p*1000003 + dd + tbl*2654435761 AS UBIGINT)"))
    s"""WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
       |wl AS (SELECT tbl, p, list(wv ORDER BY dd) AS w
       |  FROM (SELECT tbl, p, dd, ($mixed / 9.223372036854776e18) AS wv
       |        FROM (SELECT unnest([17, 41, 97]) AS tbl),
       |             (SELECT unnest(range(0, 8)) AS p),
       |             (SELECT unnest(range(0, (SELECT dim FROM dims))) AS dd))
       |  GROUP BY tbl, p),
       |b0 AS (SELECT vec_id, embedding, unnest([17, 41, 97]) AS tbl FROM embeddings),
       |pr AS (SELECT b0.vec_id, b0.tbl, wl.p,
       |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          list_transform(range(0, len(embedding)), dd ->
       |            CAST(embedding[dd+1] AS DOUBLE) * w[dd+1])),
       |          (acc, x) -> acc + x) AS proj
       |      FROM b0 JOIN wl ON b0.tbl = wl.tbl),
       |b AS (SELECT vec_id, tbl,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list(CASE WHEN proj >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END ORDER BY p)),
       |          (acc, bb) -> acc * 2 + bb) AS bucket
       |      FROM pr GROUP BY vec_id, tbl),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10),
       |p AS (SELECT cand.query_id, cand.neighbor_id,
       |        unnest(qe.embedding) AS qe, unnest(ce.embedding) AS ce
       |      FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
       |                JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
       |d AS (SELECT query_id, neighbor_id,
       |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
       |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nq,
       |  CAST(sum(CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nc
       |  FROM p GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, dot/sqrt(nq*nc) AS cosine,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nc) DESC, neighbor_id) AS BIGINT) AS rnk
       |      FROM d)
       |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q31
  // Multimodal-column plumbing: opaque binary payload + typed metadata.
  // The "decode" is a deterministic stub (container has no codec libs); the
  // byte-level metadata extraction is real and oracle-checked.
  private val q31: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha256_hex"),
        (lit(32L) + length(col("payload")).cast("long") % 480).as("fake_width"),
        (lit(32L) + (length(col("payload")).cast("long") * 7) % 480).as("fake_height")
      )
      .orderBy("doc_id")

  private val q31Sql =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | sha256(text) AS sha256_hex,
      | 32 + CAST(octet_length(encode(text)) AS BIGINT) % 480 AS fake_width,
      | 32 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 480 AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q32
  // CUBE grouping sets — one Expand + single hash aggregate.
  private val q32: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        AggFunctions.sumExact(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status")
      )
      .orderBy(col("g_flag"), col("g_status"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q32Sql =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n, ${dSum("l_quantity")} AS sum_qty,
       | CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       | CAST(grouping(l_linestatus) AS BIGINT) AS g_status
       |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q33
  // Sessionization: 30-minute-gap session breaks via lag + running count —
  // the standard event-stream window pattern (one shuffle on user_id).
  private val q33: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn(
        "is_new",
        when(
          lag(col("ts"), 1).over(w).isNull ||
            (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) > 1800000000L,
          1L
        ).otherwise(0L)
      )
      .groupBy(col("user_id"))
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  private val q33Sql =
    """WITH t AS (
      |  SELECT user_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
      |              > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM events)
      |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q34
  // Exact distinct aggregation (Expand-based two-phase distinct count).
  private val q34: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events")
      )
      .orderBy("event_type")

  private val q34Sql =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q35
  // Set operations: INTERSECT / EXCEPT (hash-distinct based).
  private val q35: Q = (s, dir) => {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
    val i = building.intersect(withOrders).select(lit("building_with_orders").as("op"), col("c_custkey"))
    val e = building.except(withOrders).select(lit("building_no_orders").as("op"), col("c_custkey"))
    i.unionAll(e).orderBy("op", "c_custkey")
  }

  private val q35Sql =
    """SELECT 'building_with_orders' AS op, c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT SELECT o_custkey AS c_custkey FROM orders) t1
      |UNION ALL
      |SELECT 'building_no_orders' AS op, c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT SELECT o_custkey AS c_custkey FROM orders) t2
      |ORDER BY op, c_custkey""".stripMargin

  // ---------------------------------------------------------------- q36
  // Manual CASE pivot (conditional aggregation) — one pass, no Pivot node.
  private val q36: Q = (s, dir) => {
    def per(t: String) = coalesce(
      AggFunctions.sumExact(when(col("event_type") === t, col("value"))),
      lit(0.0)
    ).as(s"${t}_value")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(per("purchase"), per("click"), per("error"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  private val q36Sql = {
    def per(t: String) =
      s"coalesce(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN \"value\" END AS DECIMAL(38,4))) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS ${t}_value"
    s"""SELECT user_id, ${per("purchase")}, ${per("click")}, ${per("error")}, count(*) AS n_events
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- q37
  // Exact percentiles (sort-based; both engines interpolate linearly and
  // agree bit-for-bit — verified on the harness data). EXACT TIER ONLY:
  // the buffer holds each group's full value list, which works at oracle
  // scale but cliffs on billion-row groups — q41 is the approx_percentile
  // scale tier of this same query.
  private val q37: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        // array form: ONE value buffer for both l_extendedprice quantiles
        percentile(col("l_extendedprice"), array(lit(0.25), lit(0.75))).as("__pp"),
        count(lit(1)).as("n")
      )
      .select(
        col("l_returnflag"), col("median_qty"),
        element_at(col("__pp"), 1).as("p25_price"),
        element_at(col("__pp"), 2).as("p75_price"),
        col("n"))
      .orderBy("l_returnflag")

  private val q37Sql =
    """SELECT l_returnflag,
      | quantile_cont(l_quantity, 0.5) AS median_qty,
      | quantile_cont(l_extendedprice, 0.25) AS p25_price,
      | quantile_cont(l_extendedprice, 0.75) AS p75_price,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q38
  // §2.12 streaming rollup, executed in BATCH mode: hourlyWindow is the
  // same code that runs under readStream/writeStream (StreamingSpec runs it
  // with a MemoryStream); `window('1 hour')` tumbling start == date_trunc
  // hour, so the batch result is fully oracle-checkable.
  private val q38: Q = (s, dir) =>
    graft.streaming.StreamingRollup
      .hourlyWindow(Tables.events(s, dir), "ts", Seq("event_type"), "value")
      .orderBy("hour", "event_type")

  private val q38Sql =
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
       | count(*) AS n_events, ${dSum("\"value\"")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- q39
  // S3-family wide→long melt (the census unpivot shape, catalog-visible):
  // one stack Generator per row, no shuffle; DuckDB UNPIVOT is the oracle.
  private val q39: Q = (s, dir) =>
    Cleaning
      .melt(
        Tables.lineitem(s, dir),
        idCols = Seq("l_orderkey", "l_linenumber"),
        valueCols = Seq("l_quantity", "l_extendedprice", "l_discount"),
        varName = "variable", valName = "value")
      .orderBy("l_orderkey", "l_linenumber", "variable")

  private val q39Sql =
    """SELECT l_orderkey, l_linenumber, variable, "value"
      |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount FROM lineitem)
      |UNPIVOT ("value" FOR variable IN (l_quantity, l_extendedprice, l_discount))
      |ORDER BY l_orderkey, l_linenumber, variable""".stripMargin

  // ---------------------------------------------------------------- q41
  // q37's SCALE tier: approximate per-group percentiles certified by an
  // EXACT RANK CHECK. The brackets come from approx_percentile (GK
  // sketch, accuracy=100 — see AggFunctions.percentileApprox) over the
  // q76 DETERMINISTIC ~10% hash sample — one bounded aggregation whose
  // result is ONE ROW PER RETURN FLAG, pulled to the driver and inlined
  // as literals — and the single remaining full pass counts
  // #{v < bracket} and #{v ≤ bracket} per group in pure codegen. This is
  // the one-full-pass shape an audit should have at 100 TB: the estimate
  // leg sketches the sample, the audit leg is one map-side
  // conditional-count scan, and nothing broadcasts or shuffles beyond a
  // flag-count-sized row set. (The round-8 form ran the GK digests over
  // the FULL table and then a second full audit pass — the audit cost
  // twice what it audited; at production scale either leg works, the
  // audit's full pass is the fixed cost either way. The GK digest's
  // value-level rank error against full data remains pinned in
  // PercentileSpec.)
  //
  // Verdict: with ties the bracket element's true rank is any position in
  // [lt+1, le], so the check is interval overlap — lt ≤ (p+ε)·n AND
  // le ≥ (p−ε)·n, integer cross-multiplies, no doubles. ε per flag =
  // 30‰ base (3× the GK nominal 10‰, the merge-degradation convention)
  // + a 3σ binomial sampling term (3000·sqrt(0.25/n_sample)‰, the
  // worst-case p=0.5 normal bound): the tolerance follows the sample
  // size, so the booleans the oracle asserts as TRUE hold
  // deterministically at every SF instead of riding a fixed margin that
  // a small gate SF could breach.
  private val q41: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val key = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    // bracket table: one row per flag (bounded — flags are an enum). It
    // joins back BROADCAST instead of collecting to the driver: the audit
    // becomes ONE execution (sample-agg stage → broadcast → audit scan),
    // no driver round trip, no per-run literal re-codegen — the audit scan
    // reads each flag's brackets as plain columns.
    val est = li
      .filter(graft.functions.HashFunctions.mix64(key).bitwiseAND(lit(1023L)) < lit(102L))
      .groupBy(col("l_returnflag"))
      .agg(
        AggFunctions.percentileApprox(col("l_quantity"), 0.5, 100).as("__m"),
        // ARRAY-form: one digest per COLUMN, not per quantile.
        approx_percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.75)), lit(100)).as("__pp"),
        count(lit(1)).as("__ns"))
      // per-flag tolerance in per-mil: 30 + 3σ binomial sampling term
      .select(col("l_returnflag"), col("__m"),
        element_at(col("__pp"), 1).as("__p25"),
        element_at(col("__pp"), 2).as("__p75"),
        (lit(30L) + ceil(lit(3000.0) * sqrt(lit(0.25) / col("__ns").cast("double")))
          .cast("long")).as("__t"))
    def rankOk(pPerMil: Int, lt: Column, le: Column, n: Column, t: Column) =
      coalesce(
        (lt * 1000L <= (lit(pPerMil.toLong) + t) * n) &&
          (le * 1000L >= (lit(pPerMil.toLong) - t) * n),
        lit(false))
    // left join: a flag the sample somehow missed still audits (as a
    // deterministic FALSE through rankOk's coalesce) instead of vanishing.
    // Deliberate failure surface: a FULLY-empty sample (possible only if
    // the ~10% hash sample drew zero rows — i.e. a near-empty table)
    // likewise yields all-FALSE audit rows, which the oracle flags as a
    // mismatch; there is no in-engine assertion because empty-input runs
    // of an audit must still return a frame (the gate compares, the
    // engine doesn't throw).
    li.join(broadcast(est), Seq("l_returnflag"), "left")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        first(col("__t")).as("__t"),
        count(when(col("l_quantity") < col("__m"), 1)).as("__ltm"),
        count(when(col("l_quantity") <= col("__m"), 1)).as("__lem"),
        count(when(col("l_extendedprice") < col("__p25"), 1)).as("__lt25"),
        count(when(col("l_extendedprice") <= col("__p25"), 1)).as("__le25"),
        count(when(col("l_extendedprice") < col("__p75"), 1)).as("__lt75"),
        count(when(col("l_extendedprice") <= col("__p75"), 1)).as("__le75"))
      .select(
        col("l_returnflag"),
        col("n"),
        rankOk(500, col("__ltm"), col("__lem"), col("n"), col("__t")).as("median_ok"),
        rankOk(250, col("__lt25"), col("__le25"), col("n"), col("__t")).as("p25_ok"),
        rankOk(750, col("__lt75"), col("__le75"), col("n"), col("__t")).as("p75_ok"))
      .orderBy("l_returnflag")
  }

  private val q41Sql =
    """SELECT l_returnflag, count(*) AS n,
      | TRUE AS median_ok, TRUE AS p25_ok, TRUE AS p75_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q43
  // MinHash-LSH banding — the candidate-generation tier that survives
  // 100 TB (shuffle ∝ docs × bands, never docs²). numHashes=16 /
  // rowsPerBand=2: collision probability per band = jaccard², tuned so the
  // harness's low-jaccard corpus still yields a non-trivial candidate set.
  // The oracle replays signatures (DuckHash xxhash64 + splitmix64), the
  // band-bucket fold (same wrap-around mix), and the bucket self-join.
  private val q43: Q = (s, dir) =>
    Dedup
      .minHashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 3, numHashes = 16, rowsPerBand = 2)
      .orderBy("doc_a", "doc_b")

  // The full q43 LSH pipeline as a reusable CTE chain ending in
  // `cand(doc_a, doc_b)` — shared by q43 (pairs) and q58 (connected
  // components over those pairs).
  // lshBandedCtes ends at `banded(doc_id, band, bucket)`; lshCandCte
  // appends the self-join candidate CTE used by q43/q58/q61, and q74
  // appends its own cross-parity join instead.
  private val lshBandedCtes: String = {
    import DuckHash._
    // Spark's band fold operates on SIGNED mins with wrapping arithmetic —
    // map each signed signature component back to u64 for the fold.
    val minToU64 =
      "CAST(CASE WHEN mn < 0 THEN CAST(mn AS HUGEINT) + 18446744073709551616 ELSE CAST(mn AS HUGEINT) END AS UBIGINT)"
    val bucketFold =
      s"""list_reduce(list_prepend(CAST(1125899906842597 AS UBIGINT),
         |  list_slice(sigu, band*2+1, band*2+2)),
         |  (acc, hh) -> ${mix64Inline(wadd(wmul("acc", "31"), "hh"))})""".stripMargin
    s"""toks AS (
       |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |shg AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN []
       |    ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS shingles
       |  FROM toks),
       |hx0 AS (SELECT doc_id, unnest(shingles) AS tok FROM shg),
       |${xxhash64Ctes("tok")},
       |mx0 AS (SELECT doc_id,
       |  ${wadd("h", wmul("CAST(seed AS UBIGINT)", Golden.toString))} AS sx,
       |  seed
       |  FROM (SELECT doc_id, h, unnest(range(0, 16)) AS seed FROM hx12)),
       |${mix64Ctes("sx")},
       |mins AS (SELECT doc_id, seed, min(${signed("mh")}) AS mn FROM mx4 GROUP BY doc_id, seed),
       |alldocs AS (SELECT doc_id, unnest(range(0, 16)) AS seed
       |  FROM shg WHERE len(shingles) > 0),
       |sigs AS (SELECT a.doc_id, a.seed, coalesce(m.mn, 9223372036854775807) AS mn
       |  FROM alldocs a LEFT JOIN mins m ON a.doc_id = m.doc_id AND a.seed = m.seed),
       |sigl AS (SELECT doc_id, list($minToU64 ORDER BY seed) AS sigu FROM sigs GROUP BY doc_id),
       |banded AS (SELECT doc_id, band, $bucketFold AS bucket
       |  FROM (SELECT doc_id, sigu, unnest(range(0, 8)) AS band FROM sigl))""".stripMargin
  }

  private val lshCandCte =
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  private val q43Sql =
    s"""WITH $lshBandedCtes,
       |$lshCandCte
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q42
  // BPE-ish token-class counting (TextFunctions.BpeIshPattern): the
  // LLM-pipeline token accounting shape — per-row regexp extraction, codegen,
  // no shuffle; identical regex runs in the DuckDB oracle.
  private val q42: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCountBpeIsh(col("text")).cast("long").as("n_bpe"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).cast("long").as("n_word"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("long").as("n_digit"),
        size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]+"), lit(0))).cast("long").as("n_punct")
      )
      .orderBy("doc_id")

  private val q42Sql =
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word,
      | CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
      | CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]+')) AS BIGINT) AS n_punct
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q40
  // Composed training-data pipeline: quality-filter → exact-dedup →
  // per-(lang, source) corpus stats. The shape every 100 TB curation job
  // runs; here it chains the catalog's own operators end-to-end.
  private val q40: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val scored = d.select(
      col("doc_id"), col("lang"), col("source"),
      TextFunctions.fingerprintMd5(col("text")).as("fp"),
      TextFunctions.qualityScore(col("text")).as("q")
    ).filter(col("q") >= 0.3)
    val keep = scored.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    scored.join(keep, Seq("fp", "doc_id"), "left_semi")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), AggFunctions.avgExact(col("q"), 6).as("avg_quality"))
      .orderBy("lang", "source")
  }

  private val q40Sql = {
    val quality = duckQualityScore
    s"""WITH scored AS (
       |  SELECT doc_id, lang, source,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |    $quality AS q
       |  FROM documents),
       |kept AS (SELECT * FROM scored WHERE q >= 0.3),
       |keepers AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp)
       |SELECT lang, source, count(*) AS n_docs, ${dAvg("q", 6)} AS avg_quality
       |FROM kept JOIN keepers USING (fp, doc_id)
       |GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  // ---------------------------------------------------------------- q44
  // As-of join (AsOfJoin.asOfJoin): each click event picks up the user's
  // most recent prior purchase. Spark lacks ASOF JOIN; the union+window
  // merge form runs it in one shuffle with zero pair blowup. The right side
  // is pre-reduced to one row per (user, ts) (max_by event_id) so tie
  // resolution is deterministic in both engines; DuckDB's native ASOF LEFT
  // JOIN is the oracle.
  private val q44: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(
        max(col("event_id")).as("p_event"),
        max_by(col("value"), col("event_id")).as("p_value"))
    AsOfJoin
      .asOfJoin(clicks, purchases, "user_id", "ts", "ts", Seq("p_event", "p_value"))
      // no-match rows keep their null p_event/p_value (comparable as NaN),
      // but the null TIMESTAMP is coalesced to epoch: the harness comparator
      // can't equate NaT with NaT, so a null-ts column would never match.
      .withColumn("asof_ts", coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
      .orderBy("event_id")
  }

  private val q44Sql =
    """WITH r AS (SELECT user_id, ts, max(event_id) AS p_event,
      |                  arg_max("value", event_id) AS p_value
      |           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
      |     l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT l.event_id, l.user_id, l.ts,
      |       coalesce(r.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
      |       r.p_event AS asof_p_event, r.p_value AS asof_p_value
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  // ---------------------------------------------------------------- q45
  // Deterministic stratified hash sampling (Sampling.stratifiedHashSample):
  // downsample 'en' to 20%, everything else to 60%, keyed on
  // splitmix64(doc_id salted) — map-only, reproducible across re-runs,
  // partitionings, and engines. The oracle replays the identical mix
  // (DuckHash) and thresholds.
  private val q45: Q = (s, dir) =>
    Sampling
      .stratifiedHashSample(
        Tables.documents(s, dir), "doc_id", "lang",
        fractions = Map("en" -> 0.2), default = 0.6, salt = 7L)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  private val q45Sql = {
    import DuckHash._
    // Spark side hashes doc_id + salt*GOLDEN with wrapping signed-long
    // arithmetic; mirror in u64 then compare pmod of the SIGNED value.
    val saltG = (BigInt(7) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    s"""WITH mx0 AS (SELECT doc_id, lang, source,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")}
       |SELECT doc_id, lang, source FROM mx4
       |WHERE $bucket < CASE WHEN lang = 'en' THEN 200000 ELSE 600000 END
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q46
  // Gopher-style repetition/duplication quality metrics
  // (TextFunctions.dupTokenFraction / topTokenFraction /
  // dupShingleFraction): per-row codegen folds, no shuffle. The top-token
  // count is a sorted-run fold (O(t log t)); the oracle computes the same
  // value with DuckDB's nested list count (fine at oracle scale). All
  // ratios are int/int double divisions — bit-exact cross-engine.
  private val q46: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    d.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
      TextFunctions.dupTokenFraction(col("toks")).as("dup_frac"),
      TextFunctions.topTokenFraction(col("toks")).as("top_frac"),
      TextFunctions.dupShingleFraction(col("toks"), 2).as("dup_bigram_frac")
    ).orderBy("doc_id")
  }

  private val q46Sql =
    """WITH toks AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN []
      |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, t,
      |  CASE WHEN len(t) < 2 THEN []
      |       ELSE list_transform(range(0, len(t) - 1),
      |              i -> array_to_string(list_slice(t, i+1, i+2), ' ')) END AS s2
      |  FROM toks)
      |SELECT doc_id,
      | CAST(len(t) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
      | CASE WHEN len(t) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(len(t) - len(list_distinct(t)) AS DOUBLE)/CAST(len(t) AS DOUBLE) END AS dup_frac,
      | CASE WHEN len(t) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(list_max(list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d)))) AS DOUBLE)
      |           /CAST(len(t) AS DOUBLE) END AS top_frac,
      | CASE WHEN len(s2) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(len(s2) - len(list_distinct(s2)) AS DOUBLE)/CAST(len(s2) AS DOUBLE) END AS dup_bigram_frac
      |FROM sh ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q47
  // Semi-structured extraction: parse the events.props JSON payload at scan
  // time (get_json_object — codegen'd, no UDF) and roll up the extracted
  // field per event type. The everyday "JSON sidecar column" shape; at
  // 100 TB the extraction rides the scan and the aggregate is the only
  // shuffle. Integer sums/extrema stay in BIGINT in both engines.
  private val q47: Q = (s, dir) => {
    // floor(double)→long on BOTH engines: Spark's non-ANSI string→long cast
    // nulls non-integral values ("1.5") while DuckDB's CAST rounds them to 2,
    // so the string→integer contract must not depend on the data being
    // integral. floor is IEEE-exact in both engines.
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        floor(get_json_object(col("props"), "$.k").cast("double")).cast("long").as("k"))
    ev.groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        (sum(col("k")).cast("double") / count(col("k")).cast("double")).as("avg_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")
  }

  private val q47Sql =
    """WITH e AS (SELECT event_type,
      |  CAST(floor(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS BIGINT) AS k FROM events)
      |SELECT event_type,
      | count(k) AS n,
      | CAST(sum(k) AS BIGINT) AS sum_k,
      | min(k) AS min_k,
      | max(k) AS max_k,
      | CAST(sum(k) AS DOUBLE)/CAST(count(k) AS DOUBLE) AS avg_k,
      | CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q48
  // IVF-Flat ANN (Similarity.knnIvf): deterministic k-means coarse
  // quantizer (seeds = 8 smallest ids, one exact-decimal Lloyd iteration),
  // probe the 2 nearest clusters per query, exact-cosine top-5. The
  // map-side-assignment / broadcast-probe structure is the IVF scale path
  // (corpus never shuffles for search); the oracle replays the entire
  // train+assign+probe+score pipeline in SQL, so the quantizer itself —
  // not just the final ranking — is value-checked.
  private val q48: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity
      .knnIvf(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, kClusters = 8, nProbe = 2, iters = 1, exact = true)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"), col("cosine"))
      .orderBy("query_id", "rnk")
  }

  // Quantize an element like VectorFunctions (double → DECIMAL(18,6));
  // decimal distance like l2SqExact: diff re-bounded to (18,6), squared,
  // summed exactly. Ordering ties break on the smaller cluster label —
  // same contract as the Spark `least`-over-structs argmin.
  private def duckQz(x: String) = s"CAST(CAST($x AS DOUBLE) AS DECIMAL(18,6))"
  private def duckDsq(a: String, b: String) =
    s"sum(CAST(CAST(${duckQz(a)} - ${duckQz(b)} AS DECIMAL(18,6)) * CAST(${duckQz(a)} - ${duckQz(b)} AS DECIMAL(18,6)) AS DECIMAL(36,12)))"

  // Shared replay of Similarity.ivfTrain(k=8, iters=1) + ivfAssign over
  // `embeddings`: CTE chain ending at `a1(vec_id, cluster)` — the final
  // assignment. ONE copy serves every IVF-based oracle (q48 ANN, q116
  // SemDeDup); a second hand copy could silently drift from the Spark side.
  private val duckIvfA1Ctes: String =
    s"""c0 AS (SELECT vec_id AS cluster, embedding AS cv FROM embeddings WHERE vec_id < 8),
       |p0 AS (SELECT e.vec_id, c.cluster, unnest(e.embedding) AS xe, unnest(c.cv) AS ce
       |       FROM embeddings e CROSS JOIN c0 c),
       |d0 AS (SELECT vec_id, cluster, ${duckDsq("xe", "ce")} AS dist FROM p0 GROUP BY vec_id, cluster),
       |a0 AS (SELECT vec_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d0) WHERE rn = 1),
       |u AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(0, len(embedding))) AS dim
       |      FROM embeddings),
       |m1 AS (SELECT a0.cluster, u.dim,
       |        CAST(sum(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)/count(*) AS m
       |       FROM u JOIN a0 USING (vec_id) GROUP BY a0.cluster, u.dim),
       |c1 AS (SELECT cluster, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cluster),
       |p1 AS (SELECT e.vec_id, c.cluster, unnest(e.embedding) AS xe, unnest(c.cv) AS ce
       |       FROM embeddings e CROSS JOIN c1 c),
       |d1 AS (SELECT vec_id, cluster, ${duckDsq("xe", "ce")} AS dist FROM p1 GROUP BY vec_id, cluster),
       |a1 AS (SELECT vec_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1) WHERE rn = 1)""".stripMargin

  private val q48Sql = {
    def qz(x: String) = duckQz(x)
    s"""WITH $duckIvfA1Ctes,
       |probes AS (SELECT vec_id AS query_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1 WHERE vec_id < 5) WHERE rn <= 2),
       |cand AS (SELECT p.query_id, a1.vec_id AS neighbor_id
       |         FROM probes p JOIN a1 ON a1.cluster = p.cluster AND a1.vec_id <> p.query_id),
       |pr AS (SELECT c.query_id, c.neighbor_id, unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
       |                   JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |sc AS (SELECT query_id, neighbor_id,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
       |        CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
       |       FROM pr GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, dot/sqrt(nq*nn) AS cosine,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS BIGINT) AS rnk
       |      FROM sc)
       |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q49
  // Temporal range aggregation (Rollup.forwardRangeAgg): per purchase
  // event, activity of the same user in the following hour. The oracle runs
  // the equivalent inequality self-join (pair materialization); the engine
  // runs the sliding value-range window — same result, O(n log n) per key
  // instead of O(pairs).
  private val q49: Q = (s, dir) =>
    Rollup
      .forwardRangeAgg(Tables.events(s, dir), "user_id", "ts", "value", horizonSec = 3600L)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("n_next"), col("sum_next"))
      .orderBy("event_id")

  private val q49Sql =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts,
      | count(e.event_id) AS n_next,
      | coalesce(CAST(sum(CAST(e."value" AS DECIMAL(38,4))) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS sum_next
      |FROM p LEFT JOIN events e
      |  ON e.user_id = p.user_id AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
      |GROUP BY p.event_id, p.user_id, p.ts
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q50
  // q34's SCALE tier: HyperLogLog++ approximate distinct counting —
  // bounded-memory, associative-merge, the only distinct count that
  // survives billion-cardinality groups. The sketch VALUE is
  // engine-specific, so the catalog row emits the ERROR-BOUND VERDICT:
  // relative error vs the exact count within 0.15 (3× the default 5% rsd)
  // as a boolean the DuckDB oracle asserts TRUE — hash-checkable instead
  // of rows-only. The exact count is the audit column a pure-scale
  // deployment would drop (q34/q75 are the exact/deterministic tiers).
  private val q50: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("__approx"),
        count_distinct(col("user_id")).as("__exact"),
        count(lit(1)).as("n_events"))
      .select(
        col("event_type"),
        col("n_events"),
        (abs(col("__approx").cast("double") / col("__exact").cast("double") - 1.0)
          <= 0.15).as("within_bound"))
      .orderBy("event_type")

  private val q50Sql =
    """SELECT event_type, count(*) AS n_events, TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q51
  // Benchmark decontamination (Dedup.contaminationFlags): docs 0-9 act as
  // the held-out eval set; every remaining corpus doc is scanned for 5-gram
  // overlap with it. Eval shingles broadcast, corpus side map-only — the
  // shuffle is only the per-doc hit count. Every corpus doc appears
  // (n_overlap = 0 when clean), so the output doubles as a keep-list.
  private val q51: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    Dedup
      .contaminationFlags(
        d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
        "doc_id", "text", k = 5, minShared = 1)
      .orderBy("doc_id")
  }

  private val q51Sql =
    """WITH tk AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN []
      |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |  CASE WHEN len(t) < 5 THEN []
      |       ELSE list_transform(range(0, len(t) - 4),
      |              i -> array_to_string(list_slice(t, i+1, i+5), ' ')) END) AS s
      |  FROM tk),
      |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 10),
      |cs AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 10),
      |cnt AS (SELECT doc_id, count(*) AS n_overlap FROM cs
      |        WHERE shingle IN (SELECT shingle FROM ev) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(c.n_overlap, 0) AS n_overlap,
      |       coalesce(c.n_overlap, 0) >= 1 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
      |LEFT JOIN cnt c USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // DuckDB tokenizer CTE body mirroring TextFunctions.tokens exactly
  // (empty trimmed text → empty list, else split on whitespace runs).
  // Parameterized over the carried key column so every oracle shares ONE
  // tokenizer mirror — a second hand copy could silently diverge from the
  // Spark side if the mirror is ever adjusted.
  private def duckToksCteFor(keyCol: String) =
    s"""tk AS (SELECT $keyCol,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents)""".stripMargin
  private val duckToksCte = duckToksCteFor("doc_id")

  // ---------------------------------------------------------------- q52
  // PII scrub audit (PiiFunctions): count + redact emails / NANP phones /
  // IPv4s. The corpus documents are synthetic word-salad with no natural
  // PII, so both engines derive the SAME deterministic corpus inline
  // (2/3 of docs get a doc_id-keyed contact footer, 1/3 stay clean) —
  // the oracle then value-checks the regex counts AND the full redacted
  // text (md5) over varied inputs including the zero-match path. Pure
  // per-row regexp work: at 100 TB the scrub rides the scan, no shuffle.
  private val q52: Q = (s, dir) => {
    val footer = concat(
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@ex"), pmod(col("doc_id"), lit(7L)).cast("string"), lit(".org"),
      lit(" call 415-555-"), lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
      lit(" from 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
      lit(".0."), pmod(col("doc_id"), lit(100L)).cast("string"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0, col("text"))
          .otherwise(concat(col("text"), footer)).as("text"))
      .select(
        col("doc_id"),
        PiiFunctions.emailCount(col("text")).as("n_emails"),
        PiiFunctions.phoneCount(col("text")).as("n_phones"),
        PiiFunctions.ipv4Count(col("text")).as("n_ips"),
        length(PiiFunctions.redact(col("text"))).cast("long").as("n_chars_redacted"),
        md5(PiiFunctions.redact(col("text")).cast("binary")).as("redacted_fp"))
      .orderBy("doc_id")
  }

  private val q52Sql = {
    // the runtime pattern strings are Java/RE2-shared (no quoting needed:
    // no single quotes, no constructs DuckDB's RE2 lacks)
    val email = PiiFunctions.EmailPattern
    val phone = PiiFunctions.PhonePattern
    val ip = PiiFunctions.Ipv4Pattern
    s"""WITH corpus AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN text
       |       ELSE text || ' contact u' || CAST(doc_id AS VARCHAR)
       |            || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'
       |            || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |            || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
       |            || '.0.' || CAST(doc_id % 100 AS VARCHAR)
       |  END AS text FROM documents),
       |r AS (SELECT doc_id, text,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g') AS red
       |  FROM corpus)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
       | CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
       | CAST(length(red) AS BIGINT) AS n_chars_redacted,
       | md5(red) AS redacted_fp
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q53
  // Sequence-packing offsets (Packing.packOffsets): concatenate-and-chunk
  // pretraining layout as a pure offset computation — splitmix64 shard,
  // per-shard running token offset (ONE shuffle: the window sort on
  // shard), context-window ids by integer division. The oracle replays
  // the splitmix64 shard (DuckHash) and the window sum.
  private val q53: Q = (s, dir) =>
    Packing
      .packOffsets(
        Tables.documents(s, dir), "doc_id",
        TextFunctions.tokenCount(col("text")),
        capacity = 2048, nShards = 4)
      .select("shard", "doc_id", "n_tokens", "start_tok",
        "first_window", "last_window", "spans_boundary")
      .orderBy("doc_id")

  private val q53Sql = {
    import DuckHash._
    val shard = s"(((${signed("mh")}) % 4) + 4) % 4"
    s"""WITH tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents),
       |mx0 AS (SELECT doc_id, n_tokens, CAST(doc_id AS UBIGINT) AS sx FROM tk),
       |${mix64Ctes("sx")},
       |sh AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST($shard AS BIGINT) AS shard FROM mx4),
       |off AS (SELECT shard, doc_id, n_tokens,
       |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |  FROM sh)
       |SELECT shard, doc_id, n_tokens, start_tok,
       | CAST(start_tok // 2048 AS BIGINT) AS first_window,
       | CAST((start_tok + greatest(n_tokens - 1, 0)) // 2048 AS BIGINT) AS last_window,
       | (start_tok // 2048) != ((start_tok + greatest(n_tokens - 1, 0)) // 2048) AS spans_boundary
       |FROM off ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q54
  // Document chunking (Chunking.chunkWindows): 32-token windows, stride
  // 24 — per-row generate-and-explode, no shuffle; chunk content is
  // value-checked via md5 of the space-joined window.
  private val q54: Q = (s, dir) =>
    Chunking
      .chunkWindows(Tables.documents(s, dir), "doc_id", "text", window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")

  private val q54Sql =
    s"""WITH $duckToksCte,
       |c AS (SELECT doc_id, t, len(t) AS n,
       |  CASE WHEN len(t) <= 0 THEN 0 WHEN len(t) <= 32 THEN 1
       |       ELSE (len(t) - 32 + 23) // 24 + 1 END AS nc
       |  FROM tk),
       |e AS (SELECT doc_id, t, n, unnest(range(0, nc)) AS ci FROM c),
       |ch AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |       CAST(ci * 24 AS BIGINT) AS start_tok,
       |       list_slice(t, ci*24 + 1, least(ci*24 + 32, n)) AS chunk FROM e)
       |SELECT doc_id, chunk_idx, start_tok,
       | CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       | md5(array_to_string(chunk, ' ')) AS chunk_fp
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q55
  // Corpus-relative salient terms (TfIdf.topTerms): tf/df weighting, top-3
  // per document. Two shuffles (doc-term counts, term df) + one vocab-size
  // join — see TfIdf's scaladoc for the 100 TB shape. tf/df is an exact
  // int/int double division, so scores hash-match cross-engine.
  private val q55: Q = (s, dir) =>
    TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rnk")

  private val q55Sql =
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |       CAST(tf.tf AS DOUBLE)/CAST(df.df AS DOUBLE) AS score,
       |       row_number() OVER (PARTITION BY tf.doc_id
       |         ORDER BY CAST(tf.tf AS DOUBLE)/CAST(df.df AS DOUBLE) DESC, tf.term) AS rnk
       |       FROM tf JOIN df USING (term))
       |SELECT doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
       |FROM sc WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q56
  // Shard-balance manifest (Packing.withShard + rollup): the report a
  // training-data export emits per output shard — doc count, token mass,
  // id range, and each shard's share of total tokens. One shuffle on the
  // 8-value shard key; the global total is a second tiny agg over 8 rows.
  private val q56: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
    Packing.withShard(d, "doc_id", 8)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .withColumn(
        "token_share",
        col("total_tokens").cast("double") /
          sum(col("total_tokens")).over(Window.partitionBy()).cast("double"))
      .orderBy("shard")
  }

  private val q56Sql = {
    import DuckHash._
    val shard = s"(((${signed("mh")}) % 8) + 8) % 8"
    s"""WITH tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents),
       |mx0 AS (SELECT doc_id, n_tokens, CAST(doc_id AS UBIGINT) AS sx FROM tk),
       |${mix64Ctes("sx")},
       |sh AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST($shard AS BIGINT) AS shard FROM mx4),
       |ag AS (SELECT shard, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |       FROM sh GROUP BY shard)
       |SELECT shard, n_docs, total_tokens, min_doc, max_doc,
       | CAST(total_tokens AS DOUBLE)/CAST(sum(total_tokens) OVER () AS DOUBLE) AS token_share
       |FROM ag ORDER BY shard""".stripMargin
  }

  // ---------------------------------------------------------------- q57
  // Skew-safe salted rollup (Rollup.saltedSumCount): the whole events fact
  // grouped by its 5-value power-law key — the canonical hot-key shape.
  // Two-stage (key, salt) → key aggregation; the oracle is the PLAIN
  // unsalted GROUP BY, proving the salt never changes results (counts and
  // decimal sums are associative), only the shuffle layout.
  private val q57: Q = (s, dir) =>
    Rollup
      .saltedSumCount(Tables.events(s, dir), Seq("event_type"), "value", nSalts = 32)
      .orderBy("event_type")

  private val q57Sql =
    s"""SELECT event_type, count(*) AS n_rows, ${dSum("\"value\"")} AS total_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q58
  // Dedup clustering (ConnectedComponents.components over q43's LSH
  // candidate pairs): transitive closure turns pairs into clusters, so
  // survivor selection keeps ONE doc per group even when (a,c) never
  // collided in any band. Large-star/small-star — O(log n) rounds of two
  // key-partitioned shuffles, no driver collection, lineage truncated per
  // round. The oracle replays the pair generation then takes the
  // transitive closure with a recursive CTE (fine at oracle scale; the
  // Spark side is the one that has to survive 100 TB).
  private val q58: Q = (s, dir) => {
    val pairs = Dedup.minHashLshPairs(
      Tables.documents(s, dir), "doc_id", "text",
      k = 3, numHashes = 16, rowsPerBand = 2)
    val labels = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    labels
      .join(
        ConnectedComponents.clusterSizes(labels).select("cluster", "n_members"),
        "cluster")
      .select(col("node"), col("cluster"), col("n_members"))
      .orderBy("node")
  }

  private val q58Sql =
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
       |          UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (SELECT s, d FROM edges
       |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS node, least(min(d), s) AS cluster FROM reach GROUP BY s),
       |sz AS (SELECT cluster, count(*) AS n_members FROM lbl GROUP BY cluster)
       |SELECT node, cluster, n_members FROM lbl JOIN sz USING (cluster)
       |ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q59
  // Corpus vocabulary (TfIdf.vocabulary): top-100 terms with df ≥ 2 —
  // the token-id table a dataset export ships. Map-side combine collapses
  // within-doc repetition before the first shuffle; the global top-k is a
  // TakeOrdered (per-partition heaps), never a full sort.
  private val q59: Q = (s, dir) =>
    TfIdf
      .vocabulary(Tables.documents(s, dir), "doc_id", "text", minDf = 2L, topK = 100)
      .orderBy("vocab_id")

  private val q59Sql =
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
       |v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS term_freq, count(*) AS doc_freq
       |      FROM tf GROUP BY term HAVING count(*) >= 2),
       |r AS (SELECT CAST(row_number() OVER (ORDER BY term_freq DESC, term) AS BIGINT) AS vocab_id,
       |             term, term_freq, doc_freq FROM v)
       |SELECT vocab_id, term, term_freq, doc_freq FROM r
       |WHERE vocab_id <= 100 ORDER BY vocab_id""".stripMargin

  // ---------------------------------------------------------------- q60
  // Int8 embedding quantization audit (VectorFunctions.int8Quantize):
  // per-vector absmax scale, ⌊·⌋-based quantization (round's half-way rule
  // is engine-specific; floor is IEEE-exact everywhere), saturation count
  // and worst reconstruction error. Pure codegen transforms — rides the
  // scan, no shuffle; the 4×-smaller quantized copy is what ships.
  private val q60: Q = (s, dir) => {
    val dv = Tables.embeddings(s, dir)
      .select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("absmax", VectorFunctions.absMax(col("v")))
      .withColumn("qs", VectorFunctions.int8Quantize(col("v"), col("absmax")))
    dv.select(
      col("vec_id"),
      size(col("v")).cast("long").as("n_dims"),
      col("absmax"),
      aggregate(col("qs"), lit(0L), (acc, q) => acc + q).as("sum_q"),
      size(filter(col("qs"), q => abs(q) === 127)).cast("long").as("n_sat"),
      VectorFunctions.int8MaxError(col("v"), col("qs"), col("absmax")).as("max_err"))
      .orderBy("vec_id")
  }

  private val q60Sql =
    """WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |            FROM embeddings),
      |m AS (SELECT vec_id, v,
      |      coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS absmax FROM dv),
      |q AS (SELECT vec_id, v, absmax,
      |  CASE WHEN absmax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |       ELSE list_transform(v, x ->
      |         CAST(greatest(-127, least(127, floor(x/absmax*127))) AS BIGINT)) END AS qs
      |  FROM m)
      |SELECT vec_id,
      | CAST(len(v) AS BIGINT) AS n_dims,
      | absmax,
      | CAST(coalesce(list_sum(qs), 0) AS BIGINT) AS sum_q,
      | CAST(len(list_filter(qs, qq -> abs(qq) = 127)) AS BIGINT) AS n_sat,
      | CASE WHEN absmax = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE coalesce(list_max(list_transform(v, x ->
      |        abs(x - CAST(greatest(-127, least(127, floor(x/absmax*127))) AS BIGINT)*absmax/127))), 0.0)
      | END AS max_err
      |FROM q ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q61
  // End-to-end semantic dedup (the full 100 TB pipeline in one query):
  // MinHash-LSH candidates → connected components → keep each cluster's
  // min-id representative → per-(lang, source) doc counts and token mass
  // of the CLEANED corpus. Survivor selection is cluster-correct — a
  // chain a↔b, b↔c keeps only one of {a,b,c}, where the greedy pairwise
  // rule can't see the transitive link. The anti-join loser list is
  // cluster-count-sized (broadcastable at any realistic dup rate).
  private val q61: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
      k = 3, numHashes = 16, rowsPerBand = 2)
    val losers = ConnectedComponents.components(pairs, "doc_a", "doc_b")
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"))
    d.join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy("lang", "source")
  }

  private val q61Sql =
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
       |          UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (SELECT s, d FROM edges
       |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS node, least(min(d), s) AS cluster FROM reach GROUP BY s),
       |keep AS (SELECT doc_id, lang, source,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents
       |  WHERE doc_id NOT IN (SELECT node FROM lbl WHERE cluster < node))
       |SELECT lang, source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM keep GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q62
  // Per-entity running statistics: 3-event moving average, cumulative sum,
  // and delta-vs-previous over each user's event stream — the feature-
  // engineering window shape. ONE shuffle on user_id and ONE sort serves
  // all four windows (identical partitioning/ordering collapses into a
  // single Window operator). Sums accumulate in DECIMAL(38,4) so the
  // doubles are order-independent and hash-match the oracle.
  private val q62: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val mov = byUser.rowsBetween(-2, Window.currentRow)
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = col("value").cast(DecimalType(38, 4))
    Tables.events(s, dir)
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        (sum(dec).over(mov).cast("double") /
          count(lit(1)).over(mov).cast("double")).as("mov_avg3"),
        sum(dec).over(cum).cast("double").as("cum_value"),
        (col("value") - lag(col("value"), 1).over(byUser)).as("delta_prev"))
      .orderBy("event_id")
  }

  private val q62Sql =
    """SELECT event_id, user_id, ts, "value",
      | CAST(sum(CAST("value" AS DECIMAL(38,4))) OVER w3 AS DOUBLE)
      |   / CAST(count(*) OVER w3 AS DOUBLE) AS mov_avg3,
      | CAST(sum(CAST("value" AS DECIMAL(38,4))) OVER wc AS DOUBLE) AS cum_value,
      | "value" - lag("value", 1) OVER wo AS delta_prev
      |FROM events
      |WINDOW
      | wo AS (PARTITION BY user_id ORDER BY ts, event_id),
      | w3 AS (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      | wc AS (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q63
  // Fixed-width histogram of the events value distribution: bin =
  // ⌊value/50⌋ — the profiling shape behind every "describe this column"
  // dashboard. Map-side combine reduces each partition to its bin set
  // before the one tiny shuffle; floor keeps bin edges engine-exact.
  private val q63: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(floor(col("value") / 50.0).as("bin"), col("value"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        AggFunctions.sumExact(col("value")).as("sum_value"))
      .orderBy("bin")

  private val q63Sql =
    s"""SELECT CAST(floor("value"/50) AS BIGINT) AS bin, count(*) AS n,
       | min("value") AS min_value, max("value") AS max_value,
       | ${dSum("\"value\"")} AS sum_value
       |FROM events GROUP BY bin ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q64
  // Duplicated-span statistics (Dedup.duplicatedSpanStats): the
  // substring/span tier of the dedup stack — 15-token rolling-window
  // fingerprints grouped corpus-wide; any window seen in ≥ 2 distinct
  // documents marks duplicated span material. Linear everywhere (no pair
  // join): explode → one fingerprint-keyed agg → semi-join back → per-doc
  // rollup. The md5 fingerprint keeps the shuffle key fixed-width, and
  // both engines fingerprint the identical space-joined window text.
  private val q64W = 15

  private val q64: Q = (s, dir) =>
    Dedup.duplicatedSpanStats(Tables.documents(s, dir), "doc_id", "text", w = q64W)
      .orderBy("doc_id")

  private val q64Sql =
    s"""WITH $duckToksCte,
       |sp AS (SELECT doc_id,
       |  CASE WHEN len(t) < $q64W THEN []
       |       ELSE list_transform(range(0, len(t) - ${q64W - 1}),
       |              i -> md5(array_to_string(list_slice(t, i+1, i+$q64W), ' '))) END AS spans
       |  FROM tk),
       |e AS (SELECT doc_id, unnest(spans) AS span FROM sp),
       |dup AS (SELECT span FROM e GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
       |pd AS (SELECT doc_id, count(*) AS n_dup FROM e JOIN dup USING (span) GROUP BY doc_id)
       |SELECT tk.doc_id,
       | CAST(greatest(len(t) - ${q64W - 1}, 0) AS BIGINT) AS n_spans,
       | CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_spans,
       | CASE WHEN len(t) < $q64W THEN CAST(0.0 AS DOUBLE)
       |      ELSE CAST(coalesce(pd.n_dup, 0) AS DOUBLE)
       |           / CAST(len(t) - ${q64W - 1} AS DOUBLE) END AS dup_span_frac
       |FROM tk LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q65
  // Unigram corpus-rarity score (TfIdf.tokenRarity): mean corpus
  // probability of each document's tokens — the transcendental-free
  // unigram-LM quality signal (exact integer arithmetic + ONE int/int
  // double division, so it hash-matches cross-engine where ln-based
  // perplexity could not). Vocab agg → vocab join-back → per-doc rollup.
  private val q65: Q = (s, dir) =>
    TfIdf.tokenRarity(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  private val q65Sql =
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |freq AS (SELECT term, count(*) AS cnt FROM ex GROUP BY term),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
       |pd AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(cnt) AS BIGINT) AS sum_freq
       |       FROM ex JOIN freq USING (term) GROUP BY doc_id)
       |SELECT tk.doc_id,
       | CAST(coalesce(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
       | CAST(coalesce(pd.sum_freq, 0) AS BIGINT) AS sum_freq,
       | CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |      ELSE CAST(pd.sum_freq AS DOUBLE)
       |           / CAST(pd.n_tokens * tot.total AS DOUBLE) END AS mean_prob
       |FROM tk LEFT JOIN pd USING (doc_id) CROSS JOIN tot ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q66
  // Source-mix rebalance (Sampling.rebalanceToSmallest): downsample every
  // language to the smallest language's size with data-derived rates —
  // survive iff bucket·count < Buckets·min_count (pure integer compare,
  // zero rate rounding). The count table and 1-row min broadcast into a
  // map-only filter; the corpus itself never shuffles. The oracle replays
  // the salted splitmix64 and the same integer inequality.
  private val q66Salt = 13L

  private val q66: Q = (s, dir) =>
    Sampling.rebalanceToSmallest(Tables.documents(s, dir), "doc_id", "lang", salt = q66Salt)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  private val q66Sql = {
    import DuckHash._
    val saltG = (BigInt(q66Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    s"""WITH mx0 AS (SELECT doc_id, lang, source,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |t AS (SELECT min(cnt) AS target FROM c)
       |SELECT doc_id, lang, source FROM mx4 JOIN c USING (lang) CROSS JOIN t
       |WHERE $bucket * c.cnt < 1000000 * t.target
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q67
  // Statistical outlier filter: per-event-type mean/std (exact-decimal
  // moments — the same machinery q06's describe proves bit-exact), then
  // flag events beyond 2σ. The canonical two-pass normalize: the stats
  // table is one row per type and broadcasts back into a map-only scan of
  // the fact; z's double arithmetic runs in fixed operation order (and
  // IEEE sqrt/div are correctly rounded), so both engines agree bitwise.
  private val q67: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type")).agg(
      AggFunctions.avgExact(col("value")).as("__mean"),
      AggFunctions.stddevExact(col("value")).as("__std"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("__mean")) / col("__std"))
      .filter(abs(col("z")) > 2.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy("event_id")
  }

  private val q67Sql = {
    val v = "\"value\""
    s"""WITH st AS (SELECT event_type, ${dAvg(v)} AS mean,
       | ${dStd(v)} AS std
       | FROM events GROUP BY event_type)
       |SELECT e.event_id, e.event_type, e.$v, (e.$v - st.mean)/st.std AS z
       |FROM events e JOIN st USING (event_type)
       |WHERE abs((e.$v - st.mean)/st.std) > 2.0
       |ORDER BY e.event_id""".stripMargin
  }

  // ---------------------------------------------------------------- q68
  // Token frequency spectrum (counts-of-counts): the Zipf profile a corpus
  // datasheet reports — for each occurrence count, how many distinct terms
  // occur exactly that often and the token mass they carry. Two cascaded
  // aggregations, the second over the (tiny) distinct-count domain; all
  // integer arithmetic.
  private val q68: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("occurrences"))
      .groupBy(col("occurrences")).agg(count(lit(1)).as("n_terms"))
      .withColumn("token_mass", col("occurrences") * col("n_terms"))
      .orderBy("occurrences")

  private val q68Sql =
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |freq AS (SELECT term, count(*) AS occurrences FROM ex GROUP BY term)
       |SELECT occurrences, count(*) AS n_terms, occurrences * count(*) AS token_mass
       |FROM freq GROUP BY occurrences ORDER BY occurrences""".stripMargin

  // ---------------------------------------------------------------- q69
  // Per-source corpus datasheet ("datasheets for datasets" rollup): doc
  // and token mass, mean document length, corpus-level stopword mass, and
  // short-doc fraction per source. All metrics are integer sums with a
  // single final int/int double division each — bit-parity without decimal
  // gymnastics. One shuffle on the low-cardinality source key; the text
  // metrics ride the scan as codegen'd expressions.
  private val q69: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(
      col("source"), col("n_chars"),
      TextFunctions.tokenCount(col("text")).cast("long").as("__nt"),
      TextFunctions.stopwordCount(col("text")).cast("long").as("__ns"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("__nt")).cast("double") / count(lit(1)).cast("double")).as("mean_tokens"),
        (sum(col("__ns")).cast("double") / sum(col("__nt")).cast("double")).as("stopword_mass_ratio"),
        (sum(when(col("__nt") < 20, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("short_doc_frac"))
      .orderBy("source")
  }

  private val q69Sql =
    s"""WITH m AS (SELECT source, n_chars,
       |  CAST($duckNTokens AS BIGINT) AS nt, CAST($duckStopCount AS BIGINT) AS ns FROM documents)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(nt) AS BIGINT) AS total_tokens,
       | CAST(sum(n_chars) AS BIGINT) AS total_chars,
       | CAST(sum(nt) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS mean_tokens,
       | CAST(sum(ns) AS DOUBLE)/CAST(sum(nt) AS DOUBLE) AS stopword_mass_ratio,
       | CAST(sum(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS short_doc_frac
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q70
  // Train/val/test split manifest: deterministic 80/10/10 assignment from
  // the salted splitmix64 bucket (reproducible across engines, re-runs,
  // and partitionings — rand()-based splits are none of those), rolled up
  // to the manifest a dataset release ships. Map-only assignment + one
  // 3-key aggregation; shares are int/int double divisions.
  private val q70Salt = 29L

  private val q70: Q = (s, dir) => {
    val b = Sampling.hashBucket(col("doc_id"), q70Salt)
    val d = Tables.documents(s, dir).select(
      when(b < 800000L, "train").when(b < 900000L, "val").otherwise("test").as("split"),
      TextFunctions.tokenCount(col("text")).cast("long").as("__nt"))
    d.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
      .withColumn(
        "doc_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy()).cast("double"))
      .orderBy("split")
  }

  private val q70Sql = {
    import DuckHash._
    val saltG = (BigInt(q70Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    val nTokens = duckNTokens
    s"""WITH mx0 AS (SELECT doc_id, text,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |a AS (SELECT CASE WHEN $bucket < 800000 THEN 'train'
       |                  WHEN $bucket < 900000 THEN 'val'
       |                  ELSE 'test' END AS split,
       |             CAST($nTokens AS BIGINT) AS nt FROM mx4),
       |g AS (SELECT split, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
       |      FROM a GROUP BY split)
       |SELECT split, n_docs, total_tokens,
       | CAST(n_docs AS DOUBLE)/CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share
       |FROM g ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- q71
  // Per-label embedding centroid outliers — the "find mislabeled /
  // off-distribution vectors" curation pass. Array-column aggregation via
  // dimension explode: (label, dim)-keyed sums give the centroid numerator
  // without ever dividing — each vector is scored by ‖n·x − S‖², which is
  // n²·‖x − S/n‖², monotone in the true centroid distance within a label
  // (n is fixed per label). Everything stays in exact decimals (elements
  // quantized to DECIMAL(18,6), the difference recast to DECIMAL(12,6) —
  // exact while |n·x − S| < 10⁶ — before squaring), so the double score is
  // bit-identical cross-engine with zero decimal-division rounding to
  // reconcile. Shuffles: one on (label, dim), one join back (the centroid
  // table is labels × dims — tiny, AQE broadcasts it), one per-vector
  // rollup, and a per-label top-3 window over label-partitioned data.
  // Shared centroid-distance pipeline (q71 rank form + q73's normalized
  // gate — Scala and SQL factored ONCE so the four mirrors cannot drift):
  // (vec_id, label, __sum_d2 decimal, __n decimal) where __sum_d2 =
  // Σ_dim (n·x − S)². The diff recast is DECIMAL(18,6) — exact while
  // |n·x − S| < 10¹², i.e. group sizes to ~10¹¹ unit-norm vectors — and a
  // value out of range would error, never silently null (Spark would
  // null a narrower cast and quietly under-score the very outliers being
  // hunted; the oracle errors, so the gate would catch it anyway).
  private def centroidSquares(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("v").cast("double").cast(DecimalType(18, 6)).as("vq"))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("vq")).as("__s"), count(lit(1)).cast(DecimalType(10, 0)).as("__n"))
    // INTEGER-UNITS accumulation. Two engine-specific traps force it:
    // (1) kept at scale 12, the exact sum reaches ~17 significant digits by
    // sf0.1 and the engines' DECIMAL→DOUBLE conversions round the >53-bit
    // value differently (observed 1-ulp mismatches); (2) re-quantizing the
    // decimal mid-pipeline is no better — Spark's decimal downcast rounds
    // HALF_UP while DuckDB's TRUNCATES (observed 1e-6-per-term drift). So:
    // __diff has exactly 6 decimal places (every operand does), hence
    // __diff·10⁶ is exactly integral — sum the integer squares (units of
    // 10⁻¹²) with zero rounding anywhere, and let the query layer divide
    // down with `div` (integral, truncating in BOTH engines) to a
    // magnitude double represents exactly. Exact to ~7000 unit-norm
    // vectors per label; past that, raise the unit div in the query layer.
    dims.join(cent, Seq("label", "dim"))
      .withColumn("__diff", (col("vq") * col("__n") - col("__s")).cast(DecimalType(18, 6)))
      .withColumn("__du", (col("__diff") * lit(1000000)).cast(DecimalType(18, 0)))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("__du") * col("__du")).as("__sum_du2"), max(col("__n")).as("__n"))
  }

  /** DuckDB twin of [[centroidSquares]]: CTE chain ending in
    * `sq(vec_id, label, sum_du2, n)` — sum_du2 in exact 10⁻¹² units. */
  private val duckCentroidCtes =
    """p AS (SELECT vec_id, label,
      |  unnest(range(1, len(embedding)+1)) AS dim, unnest(embedding) AS v FROM embeddings),
      |q AS (SELECT vec_id, label, dim, CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)) AS vq FROM p),
      |c AS (SELECT label, dim, sum(vq) AS s, CAST(count(*) AS DECIMAL(10,0)) AS n
      |      FROM q GROUP BY label, dim),
      |d0 AS (SELECT q.vec_id, q.label, c.n,
      |       CAST(CAST(q.vq * c.n - c.s AS DECIMAL(18,6)) * 1000000 AS DECIMAL(18,0)) AS du
      |       FROM q JOIN c USING (label, dim)),
      |sq AS (SELECT vec_id, label, sum(du*du) AS sum_du2, max(n) AS n
      |       FROM d0 GROUP BY vec_id, label)""".stripMargin

  private val q71: Q = (s, dir) => {
    // units of 10⁻⁶ after the integral div — small enough that the BIGINT →
    // DOUBLE conversion is exact in both engines; ONE final IEEE division.
    val d2 = centroidSquares(s, dir)
      .select(col("vec_id"), col("label"),
        (expr("__sum_du2 div 1000000").cast("double") / 1e6).as("dist2_scaled"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2_scaled").desc, col("vec_id"))
    d2.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("vec_id"), col("label"), col("dist2_scaled"), col("rnk"))
      .orderBy("label", "rnk")
  }

  private val q71Sql =
    s"""WITH $duckCentroidCtes,
       |d AS (SELECT vec_id, label,
       |      CAST(CAST(sum_du2 AS HUGEINT) // 1000000 AS DOUBLE)/1000000.0 AS dist2_scaled
       |      FROM sq),
       |r AS (SELECT *, row_number() OVER (PARTITION BY label
       |        ORDER BY dist2_scaled DESC, vec_id) AS rnk FROM d)
       |SELECT vec_id, label, dist2_scaled, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin

  // ---------------------------------------------------------------- q72
  // Corpus-composition contingency table (lang × source) with
  // observed/expected ratios — the drift check a curation pipeline runs on
  // every refresh. Cell counts plus both marginals; expected and the
  // obs/exp ratio are each ONE division of exact integer products, so the
  // doubles match bit-for-bit. The marginals are group-count-sized and
  // broadcast back; the cell table shuffles once on the (lang, source) key.
  private val q72: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val cells = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val byLang = d.groupBy(col("lang")).agg(count(lit(1)).as("__nl"))
    val bySource = d.groupBy(col("source")).agg(count(lit(1)).as("__ns"))
    val total = d.agg(count(lit(1)).as("__nt"))
    cells
      .join(broadcast(byLang), Seq("lang"))
      .join(broadcast(bySource), Seq("source"))
      .crossJoin(broadcast(total))
      .select(
        col("lang"), col("source"), col("n"),
        ((col("__nl") * col("__ns")).cast("double") / col("__nt").cast("double"))
          .as("expected"),
        ((col("n") * col("__nt")).cast("double") / (col("__nl") * col("__ns")).cast("double"))
          .as("obs_exp_ratio"))
      .orderBy("lang", "source")
  }

  private val q72Sql =
    """WITH cells AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
      |bl AS (SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
      |bs AS (SELECT source, count(*) AS ns FROM documents GROUP BY source),
      |t AS (SELECT count(*) AS nt FROM documents)
      |SELECT cells.lang, cells.source, cells.n,
      | CAST(bl.nl * bs.ns AS DOUBLE)/CAST(t.nt AS DOUBLE) AS expected,
      | CAST(cells.n * t.nt AS DOUBLE)/CAST(bl.nl * bs.ns AS DOUBLE) AS obs_exp_ratio
      |FROM cells JOIN bl USING (lang) JOIN bs USING (source) CROSS JOIN t
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q73
  // End-to-end multimodal curation — the flagship composition: exact-dedup
  // survivors, quality-gated text (q22's codegen score ≥ 0.5), joined to
  // their embeddings and kept only when inside the per-label centroid ball
  // (normalized q71 distance ≤ 1.03 — the ~90th percentile of this
  // corpus). Every stage is an operator the catalog verifies in isolation;
  // this query proves they compose lazily into ONE plan: the dedup
  // semi-join, quality filter, and embedding join all ride the same scan
  // pass, nothing materializes between stages. dist2 here is normalized
  // (÷n², one extra exact-integer division) so the threshold is
  // scale-invariant — the q71 form is rank-only within a label.
  //
  // Adjudicated task-skew shape (r11 per-stage profile at sf1): the
  // three heavy stages are 32-task balanced (hot_stage_skew 1.11); the
  // max task was the final `orderBy`'s AQE-coalesced single-task sort
  // of the RESULT — the total order exists only so the oracle can
  // hash-compare deterministically. So the determinism sort runs at
  // the CONFIGURED width —
  // repartitionByRange(32) + sortWithinPartitions, the q167 "pin the
  // exchange at parallelism" move — an explicit width AQE will not
  // coalesce, so the result sort parallelizes instead of coalescing to
  // one tail task. Gate semantics unchanged (the driver compare
  // re-sorts rows by value; range partitions are themselves ordered).
  // Measured floor (r12 sf1): total task-seconds 41.5 → 23.2 (−44%)
  // at the same wall; the residual ~0.95 s max task is the SAME
  // absolute tail the r11 sheet showed pre-change (955 ms) — a fixed
  // first-task cost, not a data-shaped straggler — so the task_skew
  // RATIO rises as the mean falls while hot_stage_skew stays ~1.3.
  // The ratio is the artifact; the absolute tail is the floor. A
  // production curation pass at 100 TB drops the sort entirely
  // (sinks don't need total order).
  private val q73: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val keep = Dedup.dropExactDuplicates(d, "doc_id", "text")
    val scored = keep
      .withColumn("quality_score", TextFunctions.qualityScore(col("text")))
      .filter(col("quality_score") >= 0.5)
    val d2 = centroidSquares(s, dir)
      .select(col("vec_id"), col("label"),
        (expr("__sum_du2 div 1000000").cast("double") /
          (col("__n") * col("__n") * lit(1000000L)).cast("double")).as("dist2"))
    scored
      .join(d2, scored("doc_id") === d2("vec_id"))
      .filter(col("dist2") <= 1.03)
      .select(col("doc_id"), col("lang"), col("label"), col("quality_score"), col("dist2"))
      .repartitionByRange(
        s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .sortWithinPartitions("doc_id")
  }

  private val q73Sql =
    s"""WITH keep AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM documents GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |sc AS (SELECT d.doc_id, d.lang, $duckQualityScore AS quality_score
       |       FROM documents d JOIN keep USING (doc_id)
       |       WHERE $duckQualityScore >= 0.5),
       |$duckCentroidCtes,
       |d2 AS (SELECT vec_id, label,
       |       CAST(CAST(sum_du2 AS HUGEINT) // 1000000 AS DOUBLE)
       |         /CAST(n*n*1000000 AS DOUBLE) AS dist2 FROM sq)
       |SELECT sc.doc_id, sc.lang, d2.label, sc.quality_score, d2.dist2
       |FROM sc JOIN d2 ON sc.doc_id = d2.vec_id
       |WHERE d2.dist2 <= 1.03
       |ORDER BY sc.doc_id""".stripMargin

  // ---------------------------------------------------------------- q74
  // Incremental cross-corpus dedup (Dedup.minHashLshPairsAgainst): the
  // batch-N-versus-already-ingested-corpus shape a production ingest runs
  // on every refresh. Odd doc_ids play the incoming batch, even ids the
  // reference corpus; a pair = an incoming doc colliding with a reference
  // doc in any LSH band. The oracle reuses q43's full banded-signature
  // replay and only swaps the final join for the cross-parity form.
  private val q74: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    Dedup
      .minHashLshPairsAgainst(
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", k = 3, numHashes = 16, rowsPerBand = 2)
      .orderBy("new_doc", "ref_doc")
  }

  private val q74Sql =
    s"""WITH $lshBandedCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS ref_doc
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
       |SELECT new_doc, ref_doc FROM cand ORDER BY new_doc, ref_doc""".stripMargin

  // ---------------------------------------------------------------- q75
  // Deterministic HyperLogLog (Sketches.hllDistinct) next to the exact
  // count: unlike q50's engine-specific HLL++, every step here is integer
  // SplitMix64 arithmetic plus one final IEEE division, so the DuckDB
  // oracle reproduces the ESTIMATE bit-for-bit — a sketch whose decisions
  // can be audited by an independent engine. Shuffle per group is capped at
  // 256 register rows however large the input.
  private val q75: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val est = Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"), p = 8)
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    est.join(exact, "event_type").orderBy("event_type")
  }

  /** Shared DuckDB HLL fragments (p=8), kept in ONE place so the q75 and
    * q82 oracles cannot drift: smear/rho turns `hw(…carry…, bucket, w)`
    * into `rho(…carry…, bucket, r)`; [[hllEstCte]] evaluates the estimate
    * from a register CTE `(groupCol, bucket, reg)`. */
  private val hllSmearRhoCtes: String =
    """sm1 AS (SELECT *, w|(w>>1) AS s1 FROM hw),
      |sm2 AS (SELECT *, s1|(s1>>2) AS s2 FROM sm1),
      |sm3 AS (SELECT *, s2|(s2>>4) AS s3 FROM sm2),
      |sm4 AS (SELECT *, s3|(s3>>8) AS s4 FROM sm3),
      |sm5 AS (SELECT *, s4|(s4>>16) AS s5 FROM sm4),
      |sm6 AS (SELECT *, s5|(s5>>32) AS s6 FROM sm5),
      |rho AS (SELECT * EXCLUDE (w, s1, s2, s3, s4, s5, s6),
      |  CASE WHEN w = 0 THEN 57 ELSE 57 - CAST(bit_count(s6) AS BIGINT) END AS r
      |  FROM sm6)""".stripMargin

  private def hllEstCte(
      regsCte: String, groupCol: String, outCte: String, estName: String,
      p: Int = 8): String = {
    // The 255/256/57 literals below (and hllSmearRhoCtes' maxRho) are the
    // p=8 instantiation; a caller at another precision would silently get a
    // wrong estimate, so fail the build instead.
    require(p == 8, s"hllEstCte is hardcoded for p=8 (m=256, maxRho=57); got p=$p")
    val numer = graft.operators.Sketches.hllNumerator(p)
    s"""$outCte AS (SELECT $groupCol,
       |  $numer / CAST(CAST(sum(CAST(1 AS HUGEINT) << CAST(57 - reg AS INTEGER)) AS HUGEINT)
       |    + (256 - count(*)) * (CAST(1 AS HUGEINT) << 57) AS DOUBLE) AS $estName
       |  FROM $regsCte GROUP BY $groupCol)""".stripMargin
  }

  private val q75Sql = {
    import DuckHash._
    s"""WITH mx0 AS (SELECT event_type, CAST(user_id AS UBIGINT) AS u FROM events),
       |${mix64Ctes("u")},
       |hw AS (SELECT event_type, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs AS (SELECT event_type, bucket, max(r) AS reg FROM rho GROUP BY event_type, bucket),
       |${hllEstCte("regs", "event_type", "est", "est_distinct")},
       |exact AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
       |SELECT a.event_type, a.est_distinct, e.n_exact
       |FROM est a JOIN exact e ON a.event_type = e.event_type
       |ORDER BY a.event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q76
  // Deterministic hash-sampled percentiles — the oracle-checkable scale
  // tier between exact q37 (full sort, cliffs on billion-row groups) and
  // sketch q41 (bounded memory, engine-specific digest): a ~10% SplitMix64
  // sample (low 10 hash bits < 102) cuts the sorted buffer 10x while both
  // engines select the IDENTICAL sample, so the quantiles — exact on the
  // sample — match bit-for-bit. The sample predicate rides the scan
  // (codegen filter, no UDF, no shuffle added).
  private val q76: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val key = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    li.filter(
        graft.functions.HashFunctions.mix64(key).bitwiseAND(lit(1023L)) < lit(102L))
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        percentile(col("l_extendedprice"), array(lit(0.25), lit(0.75))).as("__pp"),
        count(lit(1)).as("n_sample"))
      .select(
        col("l_returnflag"), col("median_qty"),
        element_at(col("__pp"), 1).as("p25_price"),
        element_at(col("__pp"), 2).as("p75_price"),
        col("n_sample"))
      .orderBy("l_returnflag")
  }

  private val q76Sql = {
    val mh = DuckHash.mix64Inline("CAST(l_orderkey*8 + l_linenumber AS UBIGINT)")
    s"""SELECT l_returnflag,
       | quantile_cont(l_quantity, 0.5) AS median_qty,
       | quantile_cont(l_extendedprice, 0.25) AS p25_price,
       | quantile_cont(l_extendedprice, 0.75) AS p75_price,
       | count(*) AS n_sample
       |FROM lineitem WHERE ($mh & 1023) < 102
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  // ---------------------------------------------------------------- q77
  // Unicode NFC normalization (plans.NfcNormalize — native codegen
  // expression, §7 tier b): canonicalizes composed/decomposed forms before
  // hash-based dedup so canonical equality and byte equality coincide.
  // DuckDB's nfc_normalize implements the same Unicode TR15 NFC, making the
  // normalized text value-level comparable across engines.
  private val q77: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.plans.GraftFunctions.nfcNormalize(col("text")).as("text_nfc"))
      .withColumn("n_chars_nfc", length(col("text_nfc")).cast("long"))
      .orderBy("doc_id")

  private val q77Sql =
    """SELECT doc_id, nfc_normalize(text) AS text_nfc,
      | length(nfc_normalize(text)) AS n_chars_nfc
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q78
  // Snapshot upsert / CDC latest-wins merge (Merge.upsertLatest) — the
  // distributed form of the reference's in-place UPDATE backfill (reference
  // src/etl.py:21-29). Even event_ids play the base snapshot, odd ids the
  // change batch; per user the newest (ts, updates-win, event_id) row
  // survives. One shuffle total: the window's hash partition on user_id.
  private val q78: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    graft.operators.Merge
      .upsertLatest(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        keys = Seq("user_id"), versionCol = "ts", tieBreak = "event_id")
      .orderBy("user_id")
  }

  private val q78Sql =
    """WITH t AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "value", props,
      |  CAST(event_id % 2 AS INTEGER) AS src FROM events),
      |r AS (SELECT *, row_number() OVER (
      |  PARTITION BY user_id ORDER BY ts DESC, src DESC, event_id DESC) AS rn FROM t)
      |SELECT event_id, ts, user_id, event_type, "value", props
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q79
  // Count-min-sketch heavy hitters (Sketches.cmsTopK): top users per event
  // type by CMS estimate with the exact count for audit. Like q75, the
  // sketch is seeded-SplitMix64 integer arithmetic end-to-end, so the
  // ESTIMATES (not just the ranking) hash-match the DuckDB replay; the
  // counter table is capped at groups × depth × width rows however large
  // the input — the property that keeps heavy-hitter queries broadcastable
  // at 100 TB.
  private val q79: Q = (s, dir) =>
    Sketches
      .cmsTopK(Tables.events(s, dir), Seq("event_type"), col("user_id"),
        k = 5, depth = 4, width = 1024)
      .orderBy(col("event_type"), col("est_count").desc, col("key"))

  private val q79Sql = {
    import DuckHash._
    s"""WITH b AS (SELECT event_type, user_id, CAST(user_id AS UBIGINT) AS u FROM events),
       |sd AS (SELECT event_type, user_id, u, unnest(range(0, 4)) AS s FROM b),
       |mx0 AS (SELECT event_type, user_id, s,
       |  ${wadd("u", wmul("CAST(s AS UBIGINT)", Golden.toString))} AS x FROM sd),
       |${mix64Ctes("x")},
       |hw AS (SELECT event_type, user_id, s, mh & 1023 AS bucket FROM mx4),
       |counters AS (SELECT event_type, s, bucket, count(*) AS c FROM hw GROUP BY 1, 2, 3),
       |items AS (SELECT DISTINCT event_type, user_id, s, bucket FROM hw),
       |est AS (SELECT i.event_type, i.user_id, min(c.c) AS est_count
       |  FROM items i JOIN counters c
       |    ON i.event_type = c.event_type AND i.s = c.s AND i.bucket = c.bucket
       |  GROUP BY 1, 2),
       |ex AS (SELECT event_type, user_id, count(*) AS exact_count FROM events GROUP BY 1, 2),
       |r AS (SELECT e.event_type, e.user_id AS key, e.est_count, x.exact_count,
       |  row_number() OVER (PARTITION BY e.event_type ORDER BY e.est_count DESC, e.user_id) AS rn
       |  FROM est e JOIN ex x ON e.event_type = x.event_type AND e.user_id = x.user_id)
       |SELECT event_type, key, est_count, exact_count FROM r WHERE rn <= 5
       |ORDER BY event_type, est_count DESC, key""".stripMargin
  }

  // ---------------------------------------------------------------- q80
  // Join-skew probe (Diagnostics.joinSkewProbe): per-key row counts on both
  // sides of a prospective join and the exact output contribution
  // n_left * n_right, top-20 — the pre-flight that spots the straggler key
  // BEFORE a 1000-executor stage strands on it. Two map-side-combined
  // aggregations; shuffle = distinct keys, never rows.
  private val q80: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    graft.operators.Diagnostics.joinSkewProbe(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") =!= "purchase"),
      "user_id", topN = 20)
  }

  private val q80Sql =
    """WITH l AS (SELECT user_id, count(*) AS n_left FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (SELECT user_id, count(*) AS n_right FROM events
      |  WHERE event_type <> 'purchase' GROUP BY user_id)
      |SELECT l.user_id, n_left, n_right, n_left * n_right AS est_pairs
      |FROM l JOIN r ON l.user_id = r.user_id
      |ORDER BY est_pairs DESC, l.user_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q81
  // Bloom-filter semi-join pre-filter (BloomPrefilter): lineitem probed
  // against a 256 Ki-bit word table built from expensive orders' keys —
  // the explicit, engine-portable form of runtime row-level filtering.
  // Per returnflag: total rows, bloom survivors, true matches, and the
  // false-positive tail the exact join absorbs. The oracle rebuilds the
  // identical bit table in SQL (SplitMix64 replay + bit_or), so
  // MEMBERSHIP DECISIONS, not just counts, are cross-engine verified.
  private val q81: Q = (s, dir) => {
    val expensive = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey")).distinct()
    val table = graft.operators.BloomPrefilter
      .buildTable(expensive, col("o_orderkey"), mBits = 262144, seeds = 2)
    val flagged = graft.operators.BloomPrefilter
      .prefilter(Tables.lineitem(s, dir), col("l_orderkey"), table,
        mBits = 262144, seeds = 2)
    flagged
      .join(broadcast(expensive.withColumn("__true", lit(1))),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_bloom_pass"),
        sum(when(col("__true").isNotNull, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("bloom_pass") && col("__true").isNull, 1L).otherwise(0L))
          .as("n_false_pos"))
      .orderBy("l_returnflag")
  }

  private val q81Sql = {
    import DuckHash._
    s"""WITH ek AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 450000),
       |allk AS (SELECT DISTINCT l_orderkey AS key FROM lineitem
       |  UNION SELECT o_orderkey FROM ek),
       |sd AS (SELECT key, unnest(range(0, 2)) AS s FROM allk),
       |mx0 AS (SELECT key, s,
       |  ${wadd("CAST(key AS UBIGINT)", wmul("CAST(s AS UBIGINT)", Golden.toString))} AS x FROM sd),
       |${mix64Ctes("x")},
       |hb AS (SELECT key, s, (mh & 262143) >> 6 AS word,
       |  CAST((mh & 262143) % 64 AS INTEGER) AS bit,
       |  CAST(1 AS UBIGINT) << CAST((mh & 262143) % 64 AS INTEGER) AS mask
       |  FROM mx4),
       |bloom AS (SELECT word, bit_or(mask) AS bits
       |  FROM hb JOIN ek ON hb.key = ek.o_orderkey GROUP BY word),
       |probe AS (SELECT li.l_orderkey, li.l_returnflag,
       |    h0.word AS w0, h0.bit AS b0, h1.word AS w1, h1.bit AS b1
       |  FROM lineitem li
       |  JOIN hb h0 ON h0.key = li.l_orderkey AND h0.s = 0
       |  JOIN hb h1 ON h1.key = li.l_orderkey AND h1.s = 1),
       |tested AS (SELECT p.l_orderkey, p.l_returnflag,
       |    (coalesce((bb0.bits >> p.b0) & 1, 0) = 1
       |     AND coalesce((bb1.bits >> p.b1) & 1, 0) = 1) AS pass
       |  FROM probe p
       |  LEFT JOIN bloom bb0 ON bb0.word = p.w0
       |  LEFT JOIN bloom bb1 ON bb1.word = p.w1),
       |wt AS (SELECT t.*, (ek.o_orderkey IS NOT NULL) AS istrue
       |  FROM tested t LEFT JOIN ek ON t.l_orderkey = ek.o_orderkey)
       |SELECT l_returnflag, count(*) AS n_rows,
       | CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       | CAST(sum(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       | CAST(sum(CASE WHEN pass AND NOT istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
       |FROM wt GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  // ---------------------------------------------------------------- q82
  // Sketch mergeability (Sketches.hllRegisters/hllMerge): events split into
  // two slices (event_id parity playing per-day shards), per-slice register
  // tables merged by register-max, then estimated — next to the
  // full-data estimate. The two estimates are EQUAL (merge is loss-free,
  // both columns hash-checked): the property that lets a production
  // pipeline persist m-row register tables per day and answer any later
  // cross-slice distinct question without re-reading the data.
  private val q82: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val regsByPart = Sketches.hllRegisters(
      ev.withColumn("__part", pmod(col("event_id"), lit(2))),
      Seq("event_type", "__part"), col("user_id"), p = 8)
    val merged = Sketches.hllMerge(regsByPart.drop("__part"), Seq("event_type"))
    val estMerged = Sketches
      .hllEstimateFromRegisters(merged, Seq("event_type"), p = 8)
      .withColumnRenamed("est_distinct", "est_merged")
    val estFull = Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"), p = 8)
      .withColumnRenamed("est_distinct", "est_full")
    estMerged.join(estFull, "event_type").orderBy("event_type")
  }

  private val q82Sql = {
    import DuckHash._
    s"""WITH mx0 AS (SELECT event_type, event_id % 2 AS par, CAST(user_id AS UBIGINT) AS u FROM events),
       |${mix64Ctes("u")},
       |hw AS (SELECT event_type, par, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs_par AS (SELECT event_type, par, bucket, max(r) AS reg
       |  FROM rho GROUP BY event_type, par, bucket),
       |merged AS (SELECT event_type, bucket, max(reg) AS reg
       |  FROM regs_par GROUP BY event_type, bucket),
       |full_regs AS (SELECT event_type, bucket, max(r) AS reg
       |  FROM rho GROUP BY event_type, bucket),
       |${hllEstCte("merged", "event_type", "em", "est_merged")},
       |${hllEstCte("full_regs", "event_type", "ef", "est_full")}
       |SELECT em.event_type, em.est_merged, ef.est_full
       |FROM em JOIN ef ON em.event_type = ef.event_type
       |ORDER BY em.event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q83
  // Sequential conversion funnel (Funnel.userSteps): users who viewed,
  // then clicked AFTER the first view, then purchased AFTER that click —
  // the classic ordered event-sequence analytic, first-touch attribution.
  // Every stage joins and aggregates on user_id, the key the events table
  // is already spread on, so the whole funnel reuses ONE partitioning;
  // stage counts explode out of a single global count row.
  private val q83: Q = (s, dir) =>
    Funnel.userSteps(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      .select(explode(array(
        struct(lit("1_view").as("stage"), col("n1").as("n_users")),
        struct(lit("2_click").as("stage"), col("n2").as("n_users")),
        struct(lit("3_purchase").as("stage"), col("n3").as("n_users")))).as("r"))
      .select(col("r.stage"), col("r.n_users"))
      .orderBy("stage")

  private val q83Sql =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_purchase', count(*) FROM p
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q84
  // Weekly retention cohorts (Retention.cohortMatrix): users grouped by
  // first-seen week, counted in each later week they stay active — the
  // standard engagement matrix. Activity dedups to (user, week) FIRST
  // (shuffle = distinct pairs, not events), cohorts join on the user_id
  // partitioning the table already has; week offsets are exact integer
  // day arithmetic in both engines. Retention.weeklyCohorts adds the
  // share-of-cohort column (FunnelSpec-covered).
  private val q84: Q = (s, dir) =>
    Retention.cohortMatrix(Tables.events(s, dir), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")

  private val q84Sql =
    """WITH cohorts AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events)
      |SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
      | CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
      | count(*) AS n_users
      |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------- q85
  // HLL set algebra: audience-overlap estimation from REGISTERS alone —
  // est(A), est(B), est(A∪B) from the union-merged registers, and the
  // inclusion-exclusion intersection estimate est(A)+est(B)−est(A∪B),
  // next to the exact overlap. At scale A and B are persisted register
  // tables from different pipelines; the overlap question costs m-row
  // table math, zero data reads. All four estimates hash-checked.
  private val q85: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    def users(t: String) = ev.filter(col("event_type") === t)
    val regsA = Sketches.hllRegisters(users("purchase"), Seq(), col("user_id"), p = 8)
    val regsB = Sketches.hllRegisters(users("click"), Seq(), col("user_id"), p = 8)
    def est(regs: DataFrame, name: String) =
      Sketches.hllEstimateFromRegisters(regs, Seq(), p = 8)
        .withColumnRenamed("est_distinct", name)
    val merged = Sketches.hllMerge(regsA.unionByName(regsB), Seq())
    val exact = users("purchase").select(col("user_id")).distinct()
      .join(users("click").select(col("user_id")).distinct(), "user_id")
      .agg(count(lit(1)).as("n_exact_overlap"))
    est(regsA, "est_a")
      .crossJoin(est(regsB, "est_b"))
      .crossJoin(est(merged, "est_union"))
      .crossJoin(exact)
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
      .select("est_a", "est_b", "est_union", "est_overlap", "n_exact_overlap")
  }

  private val q85Sql = {
    import DuckHash._
    s"""WITH mx0 AS (SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS tag,
       |    CAST(user_id AS UBIGINT) AS u
       |  FROM events WHERE event_type IN ('purchase', 'click')),
       |${mix64Ctes("u")},
       |hw AS (SELECT tag, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs_tag AS (SELECT tag, bucket, max(r) AS reg FROM rho GROUP BY tag, bucket),
       |ra AS (SELECT bucket, reg, 'x' AS g FROM regs_tag WHERE tag = 'a'),
       |rb AS (SELECT bucket, reg, 'x' AS g FROM regs_tag WHERE tag = 'b'),
       |ru AS (SELECT bucket, max(reg) AS reg, 'x' AS g FROM regs_tag GROUP BY bucket),
       |${hllEstCte("ra", "g", "ea", "est_a")},
       |${hllEstCte("rb", "g", "eb", "est_b")},
       |${hllEstCte("ru", "g", "eu", "est_union")},
       |x AS (SELECT count(*) AS n_exact_overlap FROM (
       |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
       |  INTERSECT
       |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click') t)
       |SELECT ea.est_a, eb.est_b, eu.est_union,
       | ea.est_a + eb.est_b - eu.est_union AS est_overlap,
       | x.n_exact_overlap
       |FROM ea, eb, eu, x""".stripMargin
  }

  // ---------------------------------------------------------------- q86
  // Bloom decontamination — the zero-join scale tier of q51: the eval
  // set's 5-gram shingle hashes become a 64 Ki-bit broadcast bitset; every
  // corpus shingle is tested map-only, and per-doc hit counts are an UPPER
  // BOUND on true overlap (bloom can only over-report). At 100 TB the eval
  // side is a few KB of bits instead of a broadcast hash set of millions
  // of shingle strings, and the corpus side never shuffles. The oracle
  // rebuilds the identical bitset (xxhash64 + seeded SplitMix64 replay),
  // so the per-doc DECISIONS are cross-engine verified.
  private val q86: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    def shingleHashes(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(TextFunctions.shinglesOfTokens(col("toks"), 5)).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode_outer(transform(col("sh"), t => xxhash64(t))).as("shingle"))
    val evalBits = graft.operators.BloomPrefilter.buildTable(
      shingleHashes(d.filter(col("doc_id") < 10))
        .filter(col("shingle").isNotNull).select(col("shingle")).distinct(),
      col("shingle"), mBits = 65536, seeds = 2)
    val corpus = shingleHashes(d.filter(col("doc_id") >= 10))
    graft.operators.BloomPrefilter
      .prefilter(corpus, col("shingle"), evalBits, mBits = 65536, seeds = 2)
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_sh")).cast("long").as("n_shingles"),
        sum(when(col("bloom_pass") && col("shingle").isNotNull, 1L).otherwise(0L))
          .as("n_maybe_contaminated"))
      .withColumn("contaminated", col("n_maybe_contaminated") >= 1L)
      .orderBy("doc_id")
  }

  private val q86Sql = {
    import DuckHash._
    s"""WITH tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |shl AS (SELECT doc_id, list_distinct(
       |  CASE WHEN len(t) < 5 THEN []
       |       ELSE list_transform(range(0, len(t) - 4),
       |              i -> array_to_string(list_slice(t, i+1, i+5), ' ')) END) AS s
       |  FROM tk),
       |evs AS (SELECT DISTINCT unnest(s) AS etok FROM shl WHERE doc_id < 10),
       |css AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS ctok FROM shl WHERE doc_id >= 10),
       |hx0 AS (SELECT DISTINCT tok FROM (
       |  SELECT etok AS tok FROM evs UNION SELECT ctok FROM css)),
       |${xxhash64Ctes("tok")},
       |ht AS (SELECT tok, h FROM hx12),
       |sd AS (SELECT tok, h, unnest(range(0, 2)) AS sdx FROM ht),
       |mx0 AS (SELECT tok, sdx,
       |  ${wadd("h", wmul("CAST(sdx AS UBIGINT)", Golden.toString))} AS x FROM sd),
       |${mix64Ctes("x")},
       |hb AS (SELECT tok, sdx, (mh & 65535) >> 6 AS word,
       |  CAST((mh & 65535) % 64 AS INTEGER) AS bit,
       |  CAST(1 AS UBIGINT) << CAST((mh & 65535) % 64 AS INTEGER) AS mask
       |  FROM mx4),
       |bloom AS (SELECT word, bit_or(mask) AS bits
       |  FROM hb JOIN evs ON hb.tok = evs.etok GROUP BY word),
       |probed AS (SELECT c.doc_id, c.n_sh,
       |    (coalesce((b0.bits >> h0.bit) & 1, 0) = 1
       |     AND coalesce((b1.bits >> h1.bit) & 1, 0) = 1) AS pass
       |  FROM css c
       |  JOIN hb h0 ON h0.tok = c.ctok AND h0.sdx = 0
       |  JOIN hb h1 ON h1.tok = c.ctok AND h1.sdx = 1
       |  LEFT JOIN bloom b0 ON b0.word = h0.word
       |  LEFT JOIN bloom b1 ON b1.word = h1.word),
       |perdoc AS (SELECT doc_id, max(n_sh) AS n_shingles,
       |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe
       |  FROM probed GROUP BY doc_id)
       |SELECT d.doc_id,
       | CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       | coalesce(p.n_maybe, 0) AS n_maybe_contaminated,
       | coalesce(p.n_maybe, 0) >= 1 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
       |LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q87
  // Equi-depth histogram: bin edges from the q76 deterministic ~10%
  // hash-sampled quartiles (exact `percentile` materializes the full value
  // multiset in ONE aggregation buffer — a global-sort hazard at 100 TB;
  // the sampled edges bound the buffer at sample size while both engines
  // select the IDENTICAL sample, so the edges still hash-match), then a
  // map-only CASE binning over the full scan — the ANALYZE-statistics
  // shape a cost-based optimizer feeds on. Two passes; the second reuses
  // nothing but three broadcast doubles. Exact-edge parity is the
  // PercentileSpec audit; PlanSpec pins the sample filter under the edge
  // aggregation.
  //
  // Adjudicated task-skew shape (r11 per-stage profile at sf1): every
  // heavy stage runs 31-32 balanced tasks (hot_stage_skew 1.30); the
  // max task is the exact `percentile`'s single-reducer finalize over
  // the sample — single-buffer BY CONTRACT, because the edges must
  // hash-match DuckDB's quantile_cont on the identical multiset. The
  // buffer is bounded by the SAMPLE (~10% here), and the sample ppm is
  // the scale knob: at 100 TB you shrink the fraction (or switch to the
  // q41 GK-estimate tier and give up bit-parity), you do not
  // parallelize the exact multiset.
  //
  // The q149 by-value move applied to the sampled tier: the sample is
  // pre-aggregated to DISTINCT values with
  // counts — a session-width shuffle — and the exact percentile runs
  // with the FREQUENCY argument over the distinct-value distribution.
  // Bit-parity holds because Percentile's buffer is a value→count map
  // either way (a pre-summed count and row-at-a-time increments build
  // the identical map, and quantile interpolation reads cumulative
  // counts); what changes is the single task's input: distinct sampled
  // values instead of sample rows — the finalize is then capped by
  // CORPUS-DISTINCT values, not sample size. Measured (same-window
  // A/B, r12): sf1 (10:1 value duplication) breakeven, ~1.8 s both
  // forms; sf10 (100:1) row-form 5.6-6.4 s vs by-value 2.7-3.6 s with
  // exact parity — the sampled tier now scales with the value space
  // while the sample fraction stays the memory knob. Skew floor, by
  // the same r12 measurement: sf1 total task-seconds 30.4 → 19.1
  // (−37%) and the finalize tail 1076 → ~860 ms; what remains IS the
  // single-buffer contract above, so the task_skew ratio (one exact
  // finalize vs a now-cheaper mean) is the metric's artifact, with
  // hot_stage_skew ~1.2 balanced.
  private val q87: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val sampleKey = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    val edges = li
      .filter(graft.functions.HashFunctions.mix64(sampleKey)
        .bitwiseAND(lit(1023L)) < lit(102L))
      .groupBy(col("l_extendedprice"))
      .agg(count(lit(1)).as("__freq"))
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75)), col("__freq")).as("__e"))
      .select(
        element_at(col("__e"), 1).as("p25"),
        element_at(col("__e"), 2).as("p50"),
        element_at(col("__e"), 3).as("p75"))
    val x = col("l_extendedprice")
    li.crossJoin(broadcast(edges))
      .withColumn("bin",
        when(x < col("p25"), 0).when(x < col("p50"), 1)
          .when(x < col("p75"), 2).otherwise(3))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(x).as("lo"), max(x).as("hi"))
      .orderBy("bin")
  }

  private val q87Sql = {
    val mh = DuckHash.mix64Inline("CAST(l_orderkey*8 + l_linenumber AS UBIGINT)")
    s"""WITH e AS (SELECT quantile_cont(l_extendedprice, 0.25) AS p25,
       |  quantile_cont(l_extendedprice, 0.5) AS p50,
       |  quantile_cont(l_extendedprice, 0.75) AS p75
       |  FROM lineitem WHERE ($mh & 1023) < 102)
       |SELECT CASE WHEN l_extendedprice < p25 THEN 0
       |            WHEN l_extendedprice < p50 THEN 1
       |            WHEN l_extendedprice < p75 THEN 2 ELSE 3 END AS bin,
       | count(*) AS n_rows, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
       |FROM lineitem, e GROUP BY 1 ORDER BY bin""".stripMargin
  }

  // ---------------------------------------------------------------- q88
  // ANALYZE-style column statistics: per key column, row/null counts and
  // exact + sketched NDV side by side — the stats-collection pass a CBO
  // needs, expressed as ONE melt + one grouped HLL (the 3 columns ride a
  // single scan and a single register shuffle; at 100 TB this is the
  // cheap way to refresh table stats). The deterministic sketch makes the
  // collected stats reproducible across engines; rel_err audits the raw
  // estimator against truth.
  private val q88: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val melted = li.select(
      explode(map(
        lit("l_orderkey"), col("l_orderkey"),
        lit("l_partkey"), col("l_partkey"),
        lit("l_suppkey"), col("l_suppkey"))).as(Seq("column_name", "v")))
    val est = Sketches.hllDistinct(melted, Seq("column_name"), col("v"), p = 8)
      .withColumnRenamed("est_distinct", "ndv_est")
    val exact = melted.groupBy(col("column_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        count_distinct(col("v")).as("ndv_exact"))
    exact.join(est, "column_name")
      .withColumn("rel_err",
        (col("ndv_est") - col("ndv_exact").cast("double")) / col("ndv_exact").cast("double"))
      .orderBy("column_name")
  }

  private val q88Sql = {
    import DuckHash._
    s"""WITH m AS (
       |  SELECT 'l_orderkey' AS column_name, l_orderkey AS v FROM lineitem
       |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
       |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
       |mx0 AS (SELECT column_name, CAST(v AS UBIGINT) AS u FROM m),
       |${mix64Ctes("u")},
       |hw AS (SELECT column_name, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs AS (SELECT column_name, bucket, max(r) AS reg FROM rho GROUP BY column_name, bucket),
       |${hllEstCte("regs", "column_name", "est", "ndv_est")},
       |exact AS (SELECT column_name, count(*) AS n_rows,
       |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |    count(DISTINCT v) AS ndv_exact
       |  FROM m GROUP BY column_name)
       |SELECT x.column_name, x.n_rows, x.n_nulls, x.ndv_exact, e.ndv_est,
       | (e.ndv_est - CAST(x.ndv_exact AS DOUBLE)) / CAST(x.ndv_exact AS DOUBLE) AS rel_err
       |FROM exact x JOIN est e ON x.column_name = e.column_name
       |ORDER BY x.column_name""".stripMargin
  }

  // ---------------------------------------------------------------- q89
  // Sliding-window distinct users (trailing 7 days, per day) via HLL
  // register composition: per-day register tables (the persisted artifact
  // of q82) fanned over the window and merged by register-max — the shape
  // that makes sliding-window COUNT DISTINCT tractable at 100 TB. The fan
  // is ≤ 256 register rows × 7 per day, NEVER (day, user) pairs — the
  // exact form would re-shuffle every user per window, which is precisely
  // the cost this composition removes, so the catalog query is the
  // register path ALONE (PlanSpec pins no distinct-count over a user fan;
  // SketchesSpec carries the exact-vs-estimate audit at fixture scale).
  // Window membership, merge, and estimate are all integer-deterministic,
  // so the estimate hash-matches the replay.
  private val q89: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("day", date_trunc("day", col("ts")))
    val days = ev.select(col("day").as("target_day")).distinct()
    // Window membership as explode(0..6)+equi-join, NOT a range join: each
    // register row fans to the 7 windows it serves, then joins on the
    // exact target day — hash-partitionable at any scale where a
    // day-range BroadcastNestedLoop would not be.
    val windowRegs = Sketches.hllRegisters(ev, Seq("day"), col("user_id"), p = 8)
      .withColumn("__off", explode(sequence(lit(0), lit(6))))
      .withColumn("target_day", col("day") + expr("make_interval(0, 0, 0, __off)"))
      .join(days, "target_day")
      .drop("day", "__off")
      .withColumnRenamed("target_day", "day")
    Sketches.hllEstimateFromRegisters(
        Sketches.hllMerge(windowRegs, Seq("day")), Seq("day"), p = 8)
      .withColumnRenamed("est_distinct", "est_users_7d")
      .orderBy("day")
  }

  private val q89Sql = {
    import DuckHash._
    s"""WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id FROM events),
       |mx0 AS (SELECT day, CAST(user_id AS UBIGINT) AS u FROM ev),
       |${mix64Ctes("u")},
       |hw AS (SELECT day, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |day_regs AS (SELECT day, bucket, max(r) AS reg FROM rho GROUP BY day, bucket),
       |days AS (SELECT DISTINCT day AS target_day FROM ev),
       |reg_fan AS (SELECT r.day + o.off * INTERVAL 1 DAY AS target_day, r.bucket, r.reg
       |  FROM day_regs r, (SELECT unnest(range(0, 7)) AS off) o),
       |win_regs AS (SELECT d.target_day AS day, f.bucket, max(f.reg) AS reg
       |  FROM reg_fan f JOIN days d ON f.target_day = d.target_day
       |  GROUP BY 1, 2),
       |${hllEstCte("win_regs", "day", "est", "est_users_7d")}
       |SELECT CAST(day AS TIMESTAMP) AS day, est_users_7d
       |FROM est ORDER BY day""".stripMargin
  }

  // ---------------------------------------------------------------- q90
  // Target-mixture rebalance (Sampling.rebalanceToTarget): downsample so
  // the surviving corpus matches 2:1:1 en:zh:es — the data-MIXING step of
  // a training pipeline, generalizing q66's equalize-to-smallest. The
  // binding language is kept whole, everything else hash-thins to match;
  // survival is one integer inequality (exact decimals, no rate rounding),
  // map-only over the corpus. The oracle replays the salted hash and the
  // same inequality in HUGEINT; output is the per-language before/after
  // audit with achieved shares.
  private val q90Salt = 29L
  private val q90Weights = Seq(("en", 2L), ("zh", 1L), ("es", 1L))

  private val q90: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val kept = Sampling.rebalanceToTarget(
      d, "doc_id", "lang", q90Weights.toMap, salt = q90Salt)
    val k = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val before = d.filter(col("lang").isin(q90Weights.map(_._1): _*))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val tot = k.agg(sum(col("n_kept")).as("__tot"))
    before.join(k, "lang")
      .crossJoin(broadcast(tot))
      .withColumn("kept_share",
        col("n_kept").cast("double") / col("__tot").cast("double"))
      .select("lang", "n_before", "n_kept", "kept_share")
      .orderBy("lang")
  }

  private val q90Sql = {
    import DuckHash._
    val lcm = 2L // lcm(2, 1, 1) — keep in lockstep with q90Weights
    val saltG = (BigInt(q90Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    val valuesRows = q90Weights
      .map { case (g, w) => s"('$g', $w, ${lcm / w})" }.mkString(", ")
    s"""WITH mx0 AS (SELECT doc_id, lang,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |w AS (SELECT * FROM (VALUES $valuesRows) AS t(lang, wt, lw)),
       |c AS (SELECT d.lang, any_value(w.wt) AS wt, any_value(w.lw) AS lw, count(*) AS cnt
       |  FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang),
       |m AS (SELECT min(cnt * lw) AS bm FROM c),
       |kept AS (SELECT k.lang, count(*) AS n_kept
       |  FROM mx4 k JOIN c ON k.lang = c.lang CROSS JOIN m
       |  WHERE CAST($bucket AS HUGEINT) * $lcm * c.cnt
       |      < CAST(1000000 AS HUGEINT) * c.wt * m.bm
       |  GROUP BY k.lang),
       |tot AS (SELECT CAST(sum(n_kept) AS BIGINT) AS total FROM kept),
       |before_c AS (SELECT lang, count(*) AS n_before FROM documents
       |  WHERE lang IN (${q90Weights.map(w => s"'${w._1}'").mkString(", ")})
       |  GROUP BY lang)
       |SELECT b.lang, b.n_before, k.n_kept,
       | CAST(k.n_kept AS DOUBLE) / CAST(t.total AS DOUBLE) AS kept_share
       |FROM before_c b JOIN kept k ON b.lang = k.lang CROSS JOIN tot t
       |ORDER BY b.lang""".stripMargin
  }

  // ---------------------------------------------------------------- q91
  // §2.12 stateful streaming sessionizer, executed in BATCH mode: the
  // IDENTICAL flatMapGroupsWithState fold that runs under readStream
  // (StreamingSpec drives it through a MemoryStream) — in batch, Spark
  // invokes the function once per user with all events, so sessions closed
  // by in-data gaps are emitted and each user's final session stays open
  // in state (no timeouts fire in batch). The oracle replays gap
  // sessionization minus each user's last session. total_value is
  // projected out: it is a fold-order double sum, not cross-engine
  // hashable (q38's decimal-sum rollup covers value aggregation).
  private val q91: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[graft.streaming.StreamingSessionize.Event]
    graft.streaming.StreamingSessionize.sessions(ev)
      .toDF()
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
  }

  private val q91Sql =
    """WITH t AS (
      |  SELECT user_id, ts, "value",
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, "value")),
      |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, "value"
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM t),
      |g AS (SELECT user_id, sid, CAST(min(ts) AS TIMESTAMP) AS session_start,
      |        CAST(max(ts) AS TIMESTAMP) AS session_end, count(*) AS n_events
      |      FROM s GROUP BY user_id, sid),
      |last AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY user_id)
      |SELECT g.user_id, g.session_start, g.session_end, g.n_events
      |FROM g JOIN last l ON g.user_id = l.user_id AND g.sid < l.last_sid
      |ORDER BY g.user_id, g.session_start""".stripMargin

  // ---------------------------------------------------------------- q92
  // §2.12 streaming exact dedup, batch twin (StreamingDedup.dedupBatch):
  // the same normalized-md5 fingerprint key the watermarked state store
  // dedups on, with plain Deduplicate standing in for the store
  // (dropDuplicatesWithinWatermark analyzes streaming-only). Projected to
  // the surviving fingerprint SET — which row survives per fingerprint is
  // nondeterministic, the set is not.
  private val q92: Q = (s, dir) =>
    graft.streaming.StreamingDedup
      .dedupBatch(Tables.documents(s, dir), "text")
      .select(col("fp"))
      .orderBy("fp")

  private val q92Sql =
    """SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------- q93
  // §2.12 streaming running-distinct (StreamingDistinct.runningDistinct),
  // executed in BATCH mode: mapGroupsWithState is invoked once per group
  // with all rows, so the emitted estimate is the same deterministic
  // SplitMix64 register math as q75 — the DuckDB oracle replays it
  // bit-for-bit, putting a value-level gate on the driver-side state
  // update code the streaming path shares.
  private val q93: Q = (s, dir) => {
    import s.implicits._
    val kv = Tables.events(s, dir)
      .select(col("event_type").as("group"), col("user_id").as("key"), col("ts"))
      .as[graft.streaming.StreamingDistinct.KeyedValue]
    graft.streaming.StreamingDistinct.runningDistinct(kv)
      .toDF()
      .orderBy("group")
  }

  private val q93Sql = {
    import DuckHash._
    s"""WITH mx0 AS (SELECT event_type, CAST(user_id AS UBIGINT) AS u FROM events),
       |${mix64Ctes("u")},
       |hw AS (SELECT event_type, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs AS (SELECT event_type, bucket, max(r) AS reg FROM rho GROUP BY event_type, bucket),
       |${hllEstCte("regs", "event_type", "est", "est_distinct")},
       |n AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type)
       |SELECT e.event_type AS "group", e.est_distinct, n.n_events
       |FROM est e JOIN n ON e.event_type = n.event_type
       |ORDER BY "group"""".stripMargin
  }

  // ---------------------------------------------------------------- q94
  // §2.12 stream-stream interval join (StreamingJoin.intervalJoin), batch
  // mode: the watermarks are no-ops on finite input and the banded join
  // condition — the thing that bounds streaming state — is exactly the
  // batch predicate, so the result is fully oracle-checkable. Every 10th
  // event probes for same-user events within the following hour.
  private val q94: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val probes = ev
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("user_id"), col("ts").as("probe_ts"), col("event_id").as("probe_id"))
    val matches = ev
      .select(col("user_id"), col("ts").as("match_ts"), col("event_id").as("match_id"))
    graft.streaming.StreamingJoin
      .intervalJoin(probes, matches, "user_id", "probe_ts", "match_ts", band = "1 hour")
      .select(col("probe_id"), col("match_id"))
      .orderBy("probe_id", "match_id")
  }

  private val q94Sql =
    """SELECT l.event_id AS probe_id, r.event_id AS match_id
      |FROM events l JOIN events r
      |  ON l.event_id % 10 = 0 AND r.user_id = l.user_id
      | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
      |ORDER BY probe_id, match_id""".stripMargin

  // ---------------------------------------------------------------- q95
  // Maximal duplicated spans (Dedup.maximalDuplicatedSpans): the
  // exact-substring reporting tier over q64's window table — consecutive
  // duplicated 15-token windows merge into one maximal shared substring
  // via the pos − row_number run-length trick (one doc-keyed shuffle over
  // only the duplicated positions; no suffix array, nothing pairwise).
  // Both engines fingerprint identical window text, so start offsets and
  // span lengths hash-match.
  private val q95: Q = (s, dir) =>
    Dedup.maximalDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text", w = q64W)
      .orderBy("doc_id", "span_start")

  private val q95Sql =
    s"""WITH $duckToksCte,
       |sp AS (SELECT doc_id, unnest(range(0, len(t) - ${q64W - 1})) AS pos, t
       |  FROM tk WHERE len(t) >= $q64W),
       |e AS (SELECT doc_id, pos,
       |  md5(array_to_string(list_slice(t, pos+1, pos+$q64W), ' ')) AS span FROM sp),
       |dup AS (SELECT span FROM e GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT doc_id, pos FROM e JOIN dup USING (span)),
       |r AS (SELECT doc_id, pos,
       |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       | CAST(count(*) + ${q64W - 1} AS BIGINT) AS span_tokens
       |FROM r GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------- q96
  // Grouped top-k via the native TopKAgg TypedImperativeAggregate — the
  // SCALE tier of q14's row_number window. Same result, radically
  // different plan: the window shuffles and sorts every event row (no
  // partial aggregation exists for windows), while this aggregates
  // map-side with a bounded k-heap per group so the exchange carries at
  // most groups × k pairs. Oracle = q14's SQL verbatim; PlanSpec pins the
  // no-Window/no-global-sort shape.
  private val q96: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(graft.plans.GraftFunctions.topK(col("value"), col("event_id"), 3).as("__top"))
      .select(col("event_type"), posexplode(col("__top")))
      .select(
        col("event_type"),
        col("col.id").as("event_id"),
        col("col.ord").as("value"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("event_type", "rnk")

  private val q96Sql = q14Sql

  // ---------------------------------------------------------------- q97
  // Salted skew join (SkewJoin.saltedJoin): orders⋈customer shuffled on
  // (custkey, mix64(o_orderkey) mod 8) — each customer row replicated 8×,
  // so a pathologically hot customer's orders spread over 8 reducers
  // instead of stalling one. Salting must not change the RESULT: the
  // oracle is the plain join + rollup, and the deterministic salt makes
  // the Spark side re-run identically at any partitioning.
  private val q97: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey").as("custkey"), col("o_totalprice"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    SkewJoin.saltedJoin(o, c, "custkey", col("o_orderkey"), salts = 8)
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        AggFunctions.sumExact(col("o_totalprice")).as("sum_totalprice"))
      .orderBy("c_nationkey")
  }

  private val q97Sql =
    """SELECT c_nationkey, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q98
  // KMV quantile registers (Sketches.kmvRegisters/kmvMerge/kmvQuantiles):
  // per-shard (returnflag, linestatus) bottom-256-by-id-hash registers,
  // MERGED up to returnflag, then quantiles over the merged keep set. The
  // merge is lossless — bottom-k(∪ shards) = bottom-k(∪ shard bottom-ks)
  // — so the oracle computes the global bottom-256 directly and the
  // estimates match bit-for-bit: a fixed-memory, persistable, mergeable
  // quantile artifact that two engines agree on exactly (contrast q41's
  // engine-specific GK digest, which only admits error-bound checks).
  private val q98: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val id = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    val shardRegs = Sketches.kmvRegisters(
      li, Seq("l_returnflag", "l_linestatus"), id, col("l_extendedprice"), k = 256)
    val merged = Sketches.kmvMerge(shardRegs, Seq("l_returnflag"), k = 256)
    Sketches.kmvQuantiles(
        merged, Seq("l_returnflag"),
        Seq(0.25, 0.5, 0.75), Seq("p25_price", "median_price", "p75_price"))
      .orderBy("l_returnflag")
  }

  private val q98Sql = {
    val mh = DuckHash.signed(
      DuckHash.mix64Inline("CAST(l_orderkey*8 + l_linenumber AS UBIGINT)"))
    s"""WITH h AS (SELECT l_returnflag, $mh AS hh,
       |  CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
       |r AS (SELECT l_returnflag, v,
       |  row_number() OVER (PARTITION BY l_returnflag ORDER BY hh, v) AS rn FROM h)
       |SELECT l_returnflag,
       | quantile_cont(v, 0.25) AS p25_price,
       | quantile_cont(v, 0.5) AS median_price,
       | quantile_cont(v, 0.75) AS p75_price,
       | count(*) AS n_keep
       |FROM r WHERE rn <= 256
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  // ---------------------------------------------------------------- q99
  // Z-order tiles (Layout.zOrder2): Morton-interleave (partkey, suppkey)
  // and roll up per 2^14-wide z-range tile. Each tile's x/y min-max spans
  // stay small BECAUSE the curve is locality-preserving — the property
  // that makes z-clustered parquet files bbox-prunable (Layout.clusterByZ
  // is the storage-side user; LayoutSpec measures the footprint win). The
  // interleave is pure shift/mask composition, replayed bit-for-bit by
  // the oracle in SQL.
  private val q99: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val z = Layout.zOrder2(
      pmod(col("l_partkey"), lit(65536L)), pmod(col("l_suppkey"), lit(65536L)))
    li.select(z.as("__z"), col("l_partkey"), col("l_suppkey"))
      .groupBy(shiftright(col("__z"), 14).as("tile"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("x_min"), max(col("l_partkey")).as("x_max"),
        min(col("l_suppkey")).as("y_min"), max(col("l_suppkey")).as("y_max"))
      .orderBy("tile")
  }

  private val q99Sql = {
    def spread(e: String): String = {
      val a = s"($e & 65535)"
      val b = s"(($a | ($a << 8)) & 16711935)" // 0x00FF00FF
      val c = s"(($b | ($b << 4)) & 252645135)" // 0x0F0F0F0F
      val d = s"(($c | ($c << 2)) & 858993459)" // 0x33333333
      s"(($d | ($d << 1)) & 1431655765)" // 0x55555555
    }
    s"""WITH z AS (SELECT
       |  (${spread("(l_partkey % 65536)")} | (${spread("(l_suppkey % 65536)")} << 1)) AS zv,
       |  l_partkey, l_suppkey FROM lineitem)
       |SELECT (zv >> 14) AS tile, count(*) AS n_rows,
       | min(l_partkey) AS x_min, max(l_partkey) AS x_max,
       | min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
       |FROM z GROUP BY tile ORDER BY tile""".stripMargin
  }

  // ---------------------------------------------------------------- q100
  // Five-number summary written the NAIVE way — five separate scalar
  // percentile calls on the same column. [[graft.plans.FusePercentiles]]
  // (injected by Graft.prepare / GraftExtensions) rewrites them into ONE
  // array-form value buffer at optimization time, so this costs the same
  // as q37's hand-fused form: one multiset per group instead of five.
  // FusePercentilesSpec pins the fused plan shape; this entry keeps the
  // rule exercised in the oracle-verified + benched path.
  private val q100: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        percentile(col("l_extendedprice"), lit(0.0)).as("lo_price"),
        percentile(col("l_extendedprice"), lit(0.25)).as("p25_price"),
        percentile(col("l_extendedprice"), lit(0.5)).as("median_price"),
        percentile(col("l_extendedprice"), lit(0.75)).as("p75_price"),
        percentile(col("l_extendedprice"), lit(1.0)).as("hi_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q100Sql =
    """SELECT l_returnflag, l_linestatus,
      | quantile_cont(l_extendedprice, 0.0) AS lo_price,
      | quantile_cont(l_extendedprice, 0.25) AS p25_price,
      | quantile_cont(l_extendedprice, 0.5) AS median_price,
      | quantile_cont(l_extendedprice, 0.75) AS p75_price,
      | quantile_cont(l_extendedprice, 1.0) AS hi_price,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q101
  // Recency-weighted popularity (Rollup.decayedCounts): exponential-style
  // decay as an exact dyadic STAIRCASE — the weight halves every 3 days,
  // the integer weights sum order-independently in decimal, and one final
  // division rescales. A naive sum(exp(-age/tau)) of doubles depends on
  // partition merge order; this score is bit-identical across
  // partitionings, retries, and engines. Ref date is data-derived (max
  // event date), so the score is a pure function of the table. Plan: one
  // scalar max broadcast back + one map-side-combined aggregation.
  private val q101: Q = (s, dir) =>
    Rollup.decayedCounts(
        Tables.events(s, dir), Seq("event_type"), col("ts"),
        stepDays = 3, maxSteps = 9)
      .orderBy("event_type")

  private val q101Sql =
    """WITH r AS (SELECT max(CAST(ts AS DATE)) AS ref FROM events),
      |w AS (SELECT event_type,
      |  (CAST(1 AS BIGINT) << (9 - least(greatest(CAST(floor(date_diff('day', CAST(ts AS DATE), r.ref) / 3.0) AS INT), 0), 9))) AS wt
      |  FROM events CROSS JOIN r)
      |SELECT event_type, count(*) AS n_events,
      | CAST(sum(wt) AS DOUBLE) / 512.0 AS decayed_score
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q102
  // Per-group frequency cap (Sampling.capPerGroup): "at most 20 documents
  // per language", selected in salted-hash order — deterministic where
  // rand() is not — and computed as a bounded TopKAgg aggregation (map-side
  // k-heap per group; the exchange carries at most groups × k pairs)
  // instead of a row_number window that would shuffle-sort the corpus.
  // The oracle replays the salted splitmix64 52-bit rank and takes
  // row_number in the same (rank, id) order.
  private val q102Salt = 29L

  private val q102: Q = (s, dir) =>
    Sampling.capPerGroup(
        Tables.documents(s, dir), "lang", "doc_id", k = 20, salt = q102Salt)
      .orderBy("lang", "rnk")

  private val q102Sql = {
    import DuckHash._
    val saltG = (BigInt(q102Salt) * Golden).mod(BigInt(1) << 64).toString
    val m52 = "4503599627370496" // 2^52
    s"""WITH mx0 AS (SELECT lang, doc_id,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |r AS (SELECT lang, doc_id,
       |  ((${signed("mh")} % $m52 + $m52) % $m52) AS hr FROM mx4),
       |rk AS (SELECT lang, doc_id,
       |  row_number() OVER (PARTITION BY lang ORDER BY hr, doc_id) AS rnk FROM r)
       |SELECT lang, doc_id, rnk FROM rk WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q103
  // Per-group volume budget (Sampling.budgetPerGroup): walk each source in
  // salted-hash order and keep documents while the running n_chars total
  // stays within 4000 — "at most B chars per source", the volume sibling of
  // q102's count cap. The kept set is prefix-closed in hash order (growing
  // the budget only adds rows). The cumulative sum genuinely needs ordered
  // per-group traversal, so this is the one sampler that shuffles its
  // input on the group key; the operator doc says to run it AFTER the
  // map-only samplers have cut the corpus.
  private val q103Salt = 31L

  private val q103: Q = (s, dir) =>
    Sampling.budgetPerGroup(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "doc_id", col("n_chars"), budget = 4000L, salt = q103Salt)
      .orderBy("doc_id")

  private val q103Sql = {
    import DuckHash._
    val saltG = (BigInt(q103Salt) * Golden).mod(BigInt(1) << 64).toString
    val m52 = "4503599627370496" // 2^52
    s"""WITH mx0 AS (SELECT doc_id, source, n_chars,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |r AS (SELECT doc_id, source, n_chars,
       |  ((${signed("mh")} % $m52 + $m52) % $m52) AS hr FROM mx4),
       |c AS (SELECT doc_id, source, n_chars,
       |  CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY hr, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost FROM r)
       |SELECT doc_id, source, n_chars, cum_cost FROM c
       |WHERE cum_cost <= 4000 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q104
  // Pre-flight join-size estimate from count-min sketches
  // (Sketches.cmsJoinSize): the self-join size of events on user_id — the
  // "can I afford this join" / F2 skew answer — from two depth×width
  // counter tables instead of the distinct-key shuffle q80's exact probe
  // pays. The CMS inner-product estimate never undercounts (collisions
  // only add); min over depth rows bounds the overshoot. The catalog entry
  // casts the counts to BIGINT for the cross-engine hash — the operator's
  // native decimal(38,0) form is the 100 TB artifact; at catalog scale the
  // values fit a long exactly.
  private val q104: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    Sketches.cmsJoinSize(ev, ev, col("user_id"), col("user_id"), depth = 4, width = 1024)
      .select(
        col("est_pairs").cast("long").as("est_pairs"),
        col("exact_pairs").cast("long").as("exact_pairs"),
        col("overestimates"))
  }

  private val q104Sql = {
    import DuckHash._
    val mod = BigInt(1) << 64
    def sg(i: Int): String = (Golden * i).mod(mod).toString
    val seedTerm =
      s"(CASE s WHEN 0 THEN 0 WHEN 1 THEN ${sg(1)} WHEN 2 THEN ${sg(2)} ELSE ${sg(3)} END)"
    s"""WITH mx0 AS (SELECT s,
       |  ${wadd("CAST(user_id AS UBIGINT)", seedTerm)} AS sx
       |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS s)),
       |${mix64Ctes("sx")},
       |ct AS (SELECT s, CAST(mh AS UBIGINT) % 1024 AS b, count(*) AS c
       |  FROM mx4 GROUP BY s, b),
       |dot AS (SELECT s, sum(CAST(c AS HUGEINT) * c) AS d FROM ct GROUP BY s),
       |est AS (SELECT CAST(min(d) AS BIGINT) AS est_pairs FROM dot),
       |ex AS (SELECT CAST(sum(CAST(n AS HUGEINT) * n) AS BIGINT) AS exact_pairs
       |  FROM (SELECT count(*) AS n FROM events GROUP BY user_id))
       |SELECT est_pairs, exact_pairs, (est_pairs >= exact_pairs) AS overestimates
       |FROM est CROSS JOIN ex""".stripMargin
  }

  // ---------------------------------------------------------------- q105
  // Snapshot drift audit (Diagnostics.ksDrift): binned two-sample KS
  // distance of `value` per event_type between the first and second half
  // of the month — "did this crawl's distribution shift" before mixing a
  // new snapshot into training data. The numerator max|cumA·nB − cumB·nA|
  // is exact cross-multiplied integer arithmetic (order-independent,
  // engine-independent); the final statistic is one double division. One
  // (group, bin)-keyed map-combined aggregation over the tagged union —
  // the shuffle carries ≤ groups × 64 rows regardless of input size.
  private val q105: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    graft.operators.Diagnostics.ksDrift(
        ev.filter(col("ts") < split), ev.filter(col("ts") >= split),
        Seq("event_type"), col("value"), bins = 64, lo = 0.0, hi = 512.0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("ks_num").cast("long").as("ks_num"), col("ks_stat"))
      .orderBy("event_type")
  }

  private val q105Sql = {
    val ks = "max(abs(cuma * nb - cumb * na))"
    s"""WITH u AS (SELECT event_type,
       |  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS side,
       |  least(63, greatest(0, CAST(floor(("value" - 0.0) / 512.0 * 64) AS INT))) AS bin
       | FROM events),
       |c AS (SELECT event_type, bin,
       |  sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
       |  sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
       | FROM u GROUP BY event_type, bin),
       |w AS (SELECT event_type,
       |  sum(ca) OVER (PARTITION BY event_type ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |  sum(cb) OVER (PARTITION BY event_type ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
       |  sum(ca) OVER (PARTITION BY event_type) AS na,
       |  sum(cb) OVER (PARTITION BY event_type) AS nb
       | FROM c)
       |SELECT event_type,
       | CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       | CAST($ks AS BIGINT) AS ks_num,
       | CAST($ks AS DOUBLE) / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) AS ks_stat
       |FROM w GROUP BY event_type
       |HAVING max(na) > 0 AND max(nb) > 0
       |ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q106
  // Layout pruning audit (Layout.pruningAudit): for three bbox probes,
  // what fraction of q99's z-tiles — and how many rows — a min/max
  // footprint reader (parquet row-group skipping) would prune vs scan.
  // The decision artifact for "is re-clustering this table worth it",
  // computed from the footprint table alone; the fact table is read once
  // to build tiles and never again. Boxes broadcast over the tiny tile
  // table; all integer arithmetic.
  private val q106: Q = (s, dir) => {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val z = Layout.zOrder2(
      pmod(col("l_partkey"), lit(65536L)), pmod(col("l_suppkey"), lit(65536L)))
    val tiles = li.select(z.as("__z"), col("l_partkey"), col("l_suppkey"))
      .groupBy(shiftright(col("__z"), 14).as("tile"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("x_min"), max(col("l_partkey")).as("x_max"),
        min(col("l_suppkey")).as("y_min"), max(col("l_suppkey")).as("y_max"))
    val boxes = Seq(
      (1L, 0L, 64L, 0L, 64L),
      (2L, 100L, 300L, 20L, 80L),
      (3L, 0L, 1000000L, 0L, 1000000L)
    ).toDF("box_id", "x_lo", "x_hi", "y_lo", "y_hi")
    Layout.pruningAudit(tiles, boxes).orderBy("box_id")
  }

  private val q106Sql = {
    def spread(e: String): String = {
      val a = s"($e & 65535)"
      val b = s"(($a | ($a << 8)) & 16711935)"
      val c = s"(($b | ($b << 4)) & 252645135)"
      val d = s"(($c | ($c << 2)) & 858993459)"
      s"(($d | ($d << 1)) & 1431655765)"
    }
    s"""WITH z AS (SELECT
       |  (${spread("(l_partkey % 65536)")} | (${spread("(l_suppkey % 65536)")} << 1)) AS zv,
       |  l_partkey, l_suppkey FROM lineitem),
       |tiles AS (SELECT (zv >> 14) AS tile, count(*) AS n_rows,
       |  min(l_partkey) AS x_min, max(l_partkey) AS x_max,
       |  min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
       | FROM z GROUP BY tile),
       |boxes AS (SELECT * FROM (VALUES
       |  (1, 0, 64, 0, 64), (2, 100, 300, 20, 80),
       |  (3, 0, 1000000, 0, 1000000)) AS t(box_id, x_lo, x_hi, y_lo, y_hi))
       |SELECT CAST(box_id AS BIGINT) AS box_id,
       | count(*) AS n_tiles,
       | CAST(sum(CASE WHEN x_max < x_lo OR x_min > x_hi OR y_max < y_lo OR y_min > y_hi
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       | CAST(sum(n_rows) AS BIGINT) AS rows_total,
       | CAST(sum(CASE WHEN x_max < x_lo OR x_min > x_hi OR y_max < y_lo OR y_min > y_hi
       |   THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
       |FROM tiles CROSS JOIN boxes
       |GROUP BY box_id ORDER BY box_id""".stripMargin
  }

  // ---------------------------------------------------------------- q107
  // Quality-aware dedup survivor selection: q61's pipeline (MinHash-LSH →
  // connected components) but each duplicate cluster keeps its BEST
  // document — argmax quality score, doc_id ASC on ties — instead of the
  // min id. The Lee-et-al.-style curation rule ("when near-dups differ,
  // keep the cleanest"): exact-dup clusters tie on score and fall back to
  // min id (= q61), near-dup clusters can elect a different survivor.
  // The election is a TopKAgg k=1 bounded aggregate (exchange carries one
  // (score, id) pair per cluster, no row_number window); cluster tables
  // are cluster-count-sized and broadcast into the anti-joins.
  private val q107: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
      k = 3, numHashes = 16, rowsPerBand = 2)
    val comp = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    val scored = d.select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("__q"))
    val losers = Dedup.bestSurvivorLosers(comp, scored, "doc_id", "__q")
    d.join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy("lang", "source")
  }

  private val q107Sql =
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
       |          UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (SELECT s, d FROM edges
       |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS node, least(min(d), s) AS cluster FROM reach GROUP BY s),
       |sc AS (SELECT doc_id, $duckQualityScore AS q FROM documents),
       |best AS (SELECT doc_id FROM (
       |    SELECT l.cluster, s.doc_id,
       |      row_number() OVER (PARTITION BY l.cluster ORDER BY s.q DESC, s.doc_id ASC) AS rn
       |    FROM lbl l JOIN sc s ON l.node = s.doc_id) WHERE rn = 1),
       |keep AS (SELECT doc_id, lang, source,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents
       |  WHERE doc_id NOT IN (SELECT node FROM lbl WHERE node NOT IN (SELECT doc_id FROM best)))
       |SELECT lang, source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM keep GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q108
  // DSIR-style importance selection (Importance.enrichmentScores): pick
  // corpus documents whose token mass concentrates in hashed-unigram
  // buckets over-represented in a target corpus (here: the English
  // documents) — the Xie-et-al. data-selection recipe with the per-bucket
  // log-ratio reduced to an exact integer cross-multiply, so verdicts and
  // counts hash identically across engines. Bucket counts map-side-combine
  // to ≤1024 rows per side, the verdict table broadcasts back onto the
  // token scan, per-doc scoring shuffles one row per document; two corpus
  // scans total (learn distributions, then score) — the DSIR minimum.
  private val q108: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    // learning pass: bucket tables (map-side combined, ≤1024 rows/side),
    // pulled to a 16-long bitmap (the justified IVF-style driver pull);
    // scoring pass: the fused codegen kernel — no explode, no join, the
    // token stream never leaves the scan stage (measured 2.5x the
    // explode + broadcast-join composition at sf0.1)
    val bits = Importance.verdictBits(
      Importance.bucketVerdicts(d, d.filter(col("lang") === "en"), "doc_id", "text"))
    Importance.applyVerdictsFused(d, bits, "doc_id", "text", Seq("lang", "source"))
      .withColumn("__sel", Importance.selected(1L, 2L))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_enriched")).as("enriched_tokens"))
      .orderBy("lang", "source")
  }

  private val q108Sql =
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |hx0 AS (SELECT DISTINCT term FROM ex),
       |${DuckHash.xxhash64Ctes("term")},
       |bt AS (SELECT term, h & 1023 AS b FROM hx12),
       |exb AS (SELECT e.doc_id, bt.b FROM ex e JOIN bt USING (term)),
       |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
       |cr AS (SELECT b, count(*) AS cr FROM exb GROUP BY b),
       |ct AS (SELECT b, count(*) AS ct FROM exb JOIN tgt USING (doc_id) GROUP BY b),
       |tot AS (SELECT (SELECT sum(cr) FROM cr) AS nr,
       |               (SELECT coalesce(sum(ct), 0) FROM ct) AS nt),
       |enb AS (SELECT cr.b,
       |    CAST(coalesce(ct.ct, 0) AS HUGEINT) * nr > CAST(cr.cr AS HUGEINT) * nt AS enriched
       |  FROM cr LEFT JOIN ct USING (b), tot),
       |de AS (SELECT e.doc_id, count(*) AS ne
       |  FROM exb e JOIN enb ON e.b = enb.b AND enb.enriched GROUP BY e.doc_id),
       |per AS (SELECT d.doc_id, d.lang, d.source,
       |    CASE WHEN length(trim(d.text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS ntok,
       |    coalesce(de.ne, 0) AS ne
       |  FROM documents d LEFT JOIN de USING (doc_id))
       |SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ntok > 0 AND 2 * ne >= ntok THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
       |  CAST(sum(ne) AS BIGINT) AS enriched_tokens
       |FROM per GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q109
  // Leakage-safe train/val/test split (Sampling.leakageSafeSplit): the
  // split unit is the near-dup CLUSTER (MinHash-LSH → connected
  // components), not the document — q70's per-doc hash split lets
  // near-duplicate pairs straddle the train/eval boundary (benchmark
  // contamination); hashing by cluster id makes a straddling pair
  // impossible by construction. The output proves it: every LSH candidate
  // pair is checked against both assignments — cross_pairs_cluster is 0
  // BY CONSTRUCTION while cross_pairs_doclevel counts the leaks the naive
  // split would have shipped. Straddle audit joins are id-keyed and
  // candidate-pair-sized; the two scalar counts broadcast back.
  private val q109Salt = 31L
  private val q109: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    // pairs feed BOTH the component build (which iterates over them) and
    // the straddle audit below — materialize the candidate set once
    // instead of re-running the LSH banding per consumer (at scale this is
    // the persisted candidate-pair table)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
      k = 3, numHashes = 16, rowsPerBand = 2).localCheckpoint()
    val comp = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    val db = Sampling.hashBucket(col("doc_id"), q109Salt)
    val sp = Sampling.leakageSafeSplit(d, "doc_id", comp, q109Salt,
        trainFrac = 0.8, valFrac = 0.1)
      .withColumn("__dsplit",
        when(db < 800000L, "train").when(db < 900000L, "val").otherwise("test"))
      .select(col("doc_id"), col("split"), col("__dsplit"),
        TextFunctions.tokenCount(col("text")).cast("long").as("__nt"))
    val a = sp.select(col("doc_id").as("doc_a"),
      col("split").as("__sa"), col("__dsplit").as("__da"))
    val b = sp.select(col("doc_id").as("doc_b"),
      col("split").as("__sb"), col("__dsplit").as("__db"))
    val straddle = pairs.join(a, "doc_a").join(b, "doc_b")
      .agg(
        coalesce(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)), lit(0L))
          .as("cross_pairs_cluster"),
        coalesce(sum(when(col("__da") =!= col("__db"), 1L).otherwise(0L)), lit(0L))
          .as("cross_pairs_doclevel"))
    sp.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
      .crossJoin(broadcast(straddle))
      .orderBy("split")
  }

  private val q109Sql = {
    import DuckHash._
    val saltG = (BigInt(q109Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    val du = mix64Inline(wadd("CAST(doc_id AS UBIGINT)", saltG))
    val dbucket = s"(((${signed(du)}) % 1000000 + 1000000) % 1000000)"
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
       |          UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (SELECT s, d FROM edges
       |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS node, least(min(d), s) AS cluster FROM reach GROUP BY s),
       |un AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS unit,
       |    CAST($duckNTokens AS BIGINT) AS nt
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node),
       |sm0 AS (SELECT doc_id, nt, ${wadd("CAST(unit AS UBIGINT)", saltG)} AS sx FROM un),
       |${mix64Ctes("sx", "sm")},
       |spl AS (SELECT doc_id, nt,
       |    CASE WHEN $bucket < 800000 THEN 'train'
       |         WHEN $bucket < 900000 THEN 'val' ELSE 'test' END AS split,
       |    CASE WHEN $dbucket < 800000 THEN 'train'
       |         WHEN $dbucket < 900000 THEN 'val' ELSE 'test' END AS dsplit
       |  FROM sm4),
       |cp AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS cross_pairs_cluster,
       |    CAST(coalesce(sum(CASE WHEN a.dsplit <> b.dsplit THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS cross_pairs_doclevel
       |  FROM cand c JOIN spl a ON c.doc_a = a.doc_id JOIN spl b ON c.doc_b = b.doc_id),
       |g AS (SELECT split, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
       |      FROM spl GROUP BY split)
       |SELECT g.split, g.n_docs, g.total_tokens, cp.cross_pairs_cluster, cp.cross_pairs_doclevel
       |FROM g, cp ORDER BY g.split""".stripMargin
  }

  // ---------------------------------------------------------------- q112
  // Event-transition matrix (Funnel.transitions): the Markov-chain view of
  // user journeys - adjacent (from -> to) event pairs per user in
  // (ts, event_id) order, with each edge's share of transitions leaving
  // its source. One user-keyed shuffle + sort-within-partition window (the
  // unavoidable sequence cost - the engine's only window over raw events);
  // everything after the lead() is |types|^2-sized, and per-source totals
  // broadcast back. The event_id tiebreak makes equal-timestamp runs
  // deterministic on both engines.
  private val q112: Q = (s, dir) =>
    Funnel.transitions(Tables.events(s, dir),
      "user_id", "event_type", "ts", "event_id")
      .orderBy("from_type", "to_type")

  private val q112Sql =
    """WITH seq AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |t AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n_transitions
      |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT from_type, sum(n_transitions) AS tot FROM t GROUP BY from_type)
      |SELECT t.from_type, t.to_type, t.n_transitions,
      |  CAST(t.n_transitions AS DOUBLE)/CAST(f.tot AS DOUBLE) AS share
      |FROM t JOIN f USING (from_type) ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q113
  // Snapshot diff audit (Merge.snapshotDiff): what changed between two
  // versions of a keyed table — here the per-user activity snapshot at
  // mid-month vs month-end (new users = added, users with later events =
  // changed, first-half-only users = unchanged; removals can't occur in an
  // append-only log, and the 0 proves it). Column-wise null-safe equality,
  // not row hashing — exact and engine-portable. One hash shuffle per side
  // into the full outer join; status is row-local; the report aggregates
  // to 4 rows. The CDC-audit twin of q78's upsert.
  private val q113: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    def snap(df: DataFrame) = df.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).as("total_value"))
    Merge.snapshotDiff(
        snap(ev.filter(col("ts") < split)), snap(ev),
        Seq("user_id"), Seq("n_events", "total_value"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("status")
  }

  private val q113Sql =
    """WITH base AS (SELECT user_id, count(*) AS n, sum(CAST("value" AS DECIMAL(38,4))) AS tv
      |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY user_id),
      |rev AS (SELECT user_id, count(*) AS n, sum(CAST("value" AS DECIMAL(38,4))) AS tv
      |  FROM events GROUP BY user_id),
      |d AS (SELECT coalesce(b.user_id, r.user_id) AS user_id,
      |    CASE WHEN b.user_id IS NULL THEN 'added'
      |         WHEN r.user_id IS NULL THEN 'removed'
      |         WHEN b.n IS NOT DISTINCT FROM r.n AND b.tv IS NOT DISTINCT FROM r.tv
      |           THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM base b FULL OUTER JOIN rev r ON b.user_id = r.user_id)
      |SELECT status, count(*) AS n_users FROM d GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q114
  // Per-language quality gate (Sampling.quantileThresholds): "drop each
  // language's bottom quartile by quality" — the grouped-threshold curation
  // step between a global cutoff (unfair to low-resource languages) and
  // exact per-group percentiles (billion-row sort buffers). Thresholds
  // come from a deterministic ~25% id-hash sample (both engines select the
  // IDENTICAL rows, so the sample-exact quantile is bit-reproducible); the
  // group-count-sized threshold table broadcasts into the gating pass.
  private val q114Salt = 37L
  private val q114: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("q"))
    val thr = Sampling.quantileThresholds(d, "doc_id", "lang", "q",
      q = 0.25, salt = q114Salt)
    // LEFT join + ungated fallback: a language whose ids all hash outside
    // the sample has no threshold row — it must stay in the report (and
    // pass the gate) rather than vanish through an inner join
    d.join(broadcast(thr), Seq("lang"), "left")
      .groupBy(col("lang"), col("threshold"),
        coalesce(col("n_sample"), lit(0L)).as("n_sample"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("threshold").isNull || col("q") >= col("threshold"), 1L)
          .otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("n_kept"),
        col("threshold"), col("n_sample"))
      .orderBy("lang")
  }

  private val q114Sql = {
    import DuckHash._
    val saltG = (BigInt(q114Salt) * Golden).mod(BigInt(1) << 64).toString
    val mh = mix64Inline(wadd("CAST(doc_id AS UBIGINT)", saltG))
    s"""WITH sc AS (SELECT doc_id, lang, $duckQualityScore AS q FROM documents),
       |thr AS (SELECT lang, quantile_cont(q, 0.25) AS threshold, count(*) AS n_sample
       |  FROM sc WHERE (($mh) & 1023) < 256 GROUP BY lang)
       |SELECT s.lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN t.threshold IS NULL OR s.q >= t.threshold
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  t.threshold, CAST(coalesce(t.n_sample, 0) AS BIGINT) AS n_sample
       |FROM sc s LEFT JOIN thr t USING (lang)
       |GROUP BY s.lang, t.threshold, coalesce(t.n_sample, 0) ORDER BY s.lang""".stripMargin
  }

  // ---------------------------------------------------------------- q115
  // Per-language vocabulary (TfIdf.groupedVocabulary): q59's corpus vocab,
  // grouped — the top-5 terms of EACH language, the per-language tokenizer
  // table a multilingual pipeline ships. Token stream collapses to
  // (lang, term) counts via map-side combine; the row_number ≤ k filter is
  // the InferWindowGroupLimit idiom — a Partial WindowGroupLimitExec below
  // the exchange caps the shuffle at groups × k per map partition
  // (PlanSpec-pinned). Term-text tie-break keeps ranks deterministic.
  private val q115: Q = (s, dir) =>
    TfIdf.groupedVocabulary(Tables.documents(s, dir), "lang", "text", topK = 5)
      .orderBy("lang", "rank")

  private val q115Sql =
    s"""WITH ${duckToksCteFor("lang")},
      |ex AS (SELECT lang, unnest(t) AS term FROM tk),
      |c AS (SELECT lang, term, count(*) AS term_freq FROM ex GROUP BY lang, term),
      |r AS (SELECT lang, term, term_freq,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY term_freq DESC, term)
      |      AS BIGINT) AS rank
      |  FROM c)
      |SELECT lang, term, term_freq, rank FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- q116
  // SemDeDup (Similarity.semDedup — Abbas et al. 2023): semantic pruning
  // by clustering embeddings first (the IVF coarse quantizer q48 trains)
  // and comparing pairs only WITHIN clusters — Σ n_c² instead of n², the
  // paper's reason to cluster. A vector drops when a lower-id neighbor in
  // its cluster scores ≥ τ by exact-decimal cosine (min-id survivor,
  // deterministic). τ = 0.35 is fixture-tuned (the synthetic embeddings'
  // near-dups sit near cosine 0.5; real corpora use ~0.95+) — same move as
  // q43's banding parameters. The oracle replays quantizer, assignment,
  // and pairwise verdicts exactly.
  //
  // kClusters=8 is ALSO fixture-tuned, and unlike τ it has a scale
  // hazard: SemDeDup's contract is k ∝ N (constant pairs-per-vector; the
  // paper trains 110k clusters for LAION). The r11 sf10 rehearsal ran
  // this fixture k over 200k vectors into ~2.5 BILLION within-cluster
  // pairs — a silent >600 s timeout. The cap below is the operator's
  // scale-relative guard: ~31 pairs/vector at gate SF, ~1.3k at sf1
  // (both pass), 12.5k at sf10 → the guard fails LOUDLY naming the
  // k ∝ N fix instead of burning the cluster. A production caller
  // scales k and keeps the same cap.
  private val q116: Q = (s, dir) =>
    Similarity.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.35, kClusters = 8, iters = 1,
        maxPairsPerVector = 4096L)
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("cluster")

  private val q116Sql = {
    def qz(x: String) = duckQz(x)
    s"""WITH $duckIvfA1Ctes,
       |pp AS (SELECT x.vec_id AS ia, y.vec_id AS ib FROM a1 x JOIN a1 y
       |       ON x.cluster = y.cluster AND x.vec_id > y.vec_id),
       |pe AS (SELECT pp.ia, pp.ib, unnest(a.embedding) AS ae, unnest(b.embedding) AS be
       |       FROM pp JOIN embeddings a ON a.vec_id = pp.ia
       |                JOIN embeddings b ON b.vec_id = pp.ib),
       |sc AS (SELECT ia, ib,
       |        CAST(sum(CAST(${qz("ae")} * ${qz("be")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
       |        CAST(sum(CAST(${qz("ae")} * ${qz("ae")} AS DECIMAL(36,12))) AS DOUBLE) AS na,
       |        CAST(sum(CAST(${qz("be")} * ${qz("be")} AS DECIMAL(36,12))) AS DOUBLE) AS nb
       |       FROM pe GROUP BY ia, ib),
       |dr AS (SELECT DISTINCT ia AS vec_id FROM sc WHERE dot/sqrt(na*nb) >= 0.35)
       |SELECT a1.cluster, count(*) AS n_vectors,
       |  CAST(sum(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM a1 LEFT JOIN dr USING (vec_id)
       |GROUP BY a1.cluster ORDER BY a1.cluster""".stripMargin
  }

  // ---------------------------------------------------------------- q117
  // Hourly volume anomalies per event type (Diagnostics.countAnomalies):
  // the monitoring-dashboard "traffic spike" signal as a query — flag
  // hours where |c − μ| > 2σ against the type's own hourly distribution.
  // The z-test is cross-multiplied into pure integer arithmetic
  // ((n·c − s)² > 4·(n·ss − s²)), so the verdict is bit-reproducible in
  // any engine — no stddev double ever enters the comparison. Shuffle is
  // bounded by types × hours; the per-type stats table broadcasts back.
  private val q117: Q = (s, dir) =>
    Diagnostics.countAnomalies(Tables.events(s, dir), Seq("event_type"),
        date_trunc("hour", col("ts")), z = 2)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("n_rows")).as("n_events"),
        max(col("n_rows")).as("peak_hour_rows"),
        sum(when(col("is_anomalous"), 1L).otherwise(0L)).as("n_anomalous"))
      .orderBy("event_type")

  private val q117Sql =
    """WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*) AS n, sum(c) AS s, sum(c*c) AS ss
      |  FROM hc GROUP BY 1)
      |SELECT hc.event_type,
      |  CAST(st.n AS BIGINT) AS n_hours,
      |  CAST(st.s AS BIGINT) AS n_events,
      |  CAST(max(hc.c) AS BIGINT) AS peak_hour_rows,
      |  CAST(sum(CASE WHEN (st.n*hc.c - st.s)*(st.n*hc.c - st.s)
      |                     > 4*(st.n*st.ss - st.s*st.s)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
      |FROM hc JOIN st USING (event_type)
      |GROUP BY hc.event_type, st.n, st.s, st.ss
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q118
  // Bigram collocations by PMI (TfIdf.bigramAssociations): top-20 adjacent
  // token pairs by c_xy·N/(c_x·c_y) in ppm — integral division, so the
  // score hash-matches cross-engine where ln-PMI could not (ln ranks
  // identically but isn't bit-reproducible). Pair stream collapses by
  // map-side combine; the vocab-sized unigram table joins back twice
  // (AQE-broadcast); top-k is TakeOrdered, never a global sort.
  private val q118: Q = (s, dir) =>
    TfIdf.bigramAssociations(Tables.documents(s, dir), "text",
      minCount = 5, topK = 20)

  private val q118Sql =
    s"""WITH $duckToksCte,
      |bg0 AS (SELECT list_transform(range(1, len(t)), i -> [t[i], t[i+1]]) AS bl
      |  FROM tk WHERE len(t) >= 2),
      |bg AS (SELECT unnest(bl) AS p FROM bg0),
      |pc AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS pair_freq FROM bg GROUP BY 1, 2),
      |tot AS (SELECT sum(pair_freq) AS n FROM pc),
      |un AS (SELECT unnest(t) AS term FROM tk),
      |uc AS (SELECT term, count(*) AS freq FROM un GROUP BY 1)
      |SELECT pc.w1, pc.w2, CAST(pc.pair_freq AS BIGINT) AS pair_freq,
      |  CAST(u1.freq AS BIGINT) AS w1_freq, CAST(u2.freq AS BIGINT) AS w2_freq,
      |  CAST((CAST(pc.pair_freq AS HUGEINT) * CAST(tot.n AS HUGEINT) * 1000000)
      |       // (CAST(u1.freq AS HUGEINT) * CAST(u2.freq AS HUGEINT)) AS BIGINT)
      |    AS assoc_ppm
      |FROM pc
      |JOIN uc u1 ON u1.term = pc.w1
      |JOIN uc u2 ON u2.term = pc.w2
      |CROSS JOIN tot
      |WHERE pc.pair_freq >= 5
      |ORDER BY assoc_ppm DESC, w1, w2
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q119
  // Embedding dimension health audit (Diagnostics.embeddingDimStats):
  // per-dimension count / zero-count / exact sum / exact variance
  // numerator in integer units of 1e-6 (the dotExact quantization) — the
  // dead-dimension check before trusting a vector column. Output is
  // dim-sized; the only shuffle carries ≤ dim rows after partial agg.
  private val q119: Q = (s, dir) =>
    Diagnostics.embeddingDimStats(Tables.embeddings(s, dir), "embedding")
      .orderBy("dim")

  private val q119Sql =
    """WITH e0 AS (SELECT list_transform(range(1, len(embedding) + 1),
      |    i -> [CAST(i AS DOUBLE), CAST(embedding[i] AS DOUBLE)]) AS pl
      |  FROM embeddings),
      |ex AS (SELECT unnest(pl) AS p FROM e0),
      |q AS (SELECT CAST(p[1] AS BIGINT) - 1 AS dim,
      |  CAST(CAST(CAST(p[2] AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS u
      |  FROM ex)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CASE WHEN u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(sum(u) AS BIGINT) AS sum_u,
      |  CAST(count(*) * sum(u*u) - sum(u)*sum(u) AS BIGINT) AS var_num
      |FROM q GROUP BY dim ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- q120
  // Content-defined chunk dedup audit (Chunking.contentDefinedChunks):
  // gear-hash chunking (LBFS-style — boundaries from token content, so
  // chunk identity survives inserts/deletes that shift offsets) followed
  // by a fingerprint-keyed occurrence rollup: how much of the corpus is
  // chunk-level duplicated, and what a chunk store would save. Chunking is
  // map-only (array expressions, no shuffle); the rollup shuffles
  // fixed-width fingerprints with map-side combine, then a 1-row summary.
  private val q120: Q = (s, dir) => {
    val ch = Chunking.contentDefinedChunks(Tables.documents(s, dir), "doc_id", "text")
    ch.groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("__occ"), max(col("n_chunk_tokens")).as("__toks"))
      .agg(
        sum(col("__occ")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("__occ") * col("__toks")).as("total_tokens"),
        sum(col("__toks")).as("unique_tokens"),
        sum(when(col("__occ") >= 2, col("__occ")).otherwise(0L)).as("dup_occurrences"))
  }

  private val q120Sql =
    s"""WITH $duckToksCte,
      |nz AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
      |st AS (SELECT doc_id, t,
      |  list_concat([1], list_filter(range(2, len(t) + 1),
      |    p -> substr(md5(t[p]), 32, 1) = '0')) AS ss
      |  FROM nz),
      |c0 AS (SELECT doc_id, t, ss, unnest(range(1, len(ss) + 1)) AS ci FROM st),
      |c1 AS (SELECT
      |  md5(array_to_string(list_slice(t, ss[ci],
      |    (CASE WHEN ci < len(ss) THEN ss[ci+1] ELSE len(t) + 1 END) - 1), ' ')) AS fp,
      |  (CASE WHEN ci < len(ss) THEN ss[ci+1] ELSE len(t) + 1 END) - ss[ci] AS ntk
      |  FROM c0),
      |pf AS (SELECT fp, count(*) AS occ, max(ntk) AS toks FROM c1 GROUP BY fp)
      |SELECT CAST(sum(occ) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
      |  CAST(sum(occ * toks) AS BIGINT) AS total_tokens,
      |  CAST(sum(toks) AS BIGINT) AS unique_tokens,
      |  CAST(sum(CASE WHEN occ >= 2 THEN occ ELSE 0 END) AS BIGINT) AS dup_occurrences
      |FROM pf""".stripMargin

  // ---------------------------------------------------------------- q121
  // Cross-source duplication matrix: which sources copy from which —
  // q43's LSH candidate pairs rolled up by the (source, source) pair, the
  // provenance-level dedup report a curation pipeline publishes before
  // deciding which feed to drop. Same banding parameters as q43, so the
  // oracle replays the identical signature/band/bucket pipeline (one
  // shared CTE chain). The pair table is collision-sized — both source
  // lookups broadcast it; the matrix is ≤ sources² rows.
  private val q121: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val src = d.select(col("doc_id"), col("source"))
    Dedup
      .minHashLshPairs(d, "doc_id", "text", k = 3, numHashes = 16, rowsPerBand = 2)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("__sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("__sb")), Seq("doc_b"))
      .groupBy(
        least(col("__sa"), col("__sb")).as("source_x"),
        greatest(col("__sa"), col("__sb")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  private val q121Sql =
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |sp AS (SELECT da.source AS sa, db.source AS sb
       |  FROM cand c JOIN documents da ON da.doc_id = c.doc_a
       |              JOIN documents db ON db.doc_id = c.doc_b)
       |SELECT least(sa, sb) AS source_x, greatest(sa, sb) AS source_y,
       |  count(*) AS n_pairs
       |FROM sp GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin

  // ---------------------------------------------------------------- q122
  // ANN recall audit: IVF-Flat (q48's exact-tier search, same quantizer)
  // scored against brute-force exact top-k (q28's) — recall@5 per query,
  // the quality gate that decides whether nProbe/kClusters are safe to
  // ship. Both legs are deterministic (exact-decimal cosine, id
  // tie-breaks), so even the RECALL of the approximate index is
  // value-checkable cross-engine — not just bounded. The exact leg is the
  // audit cost you pay on a query SAMPLE, not the corpus.
  private val q122: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val qs = e.filter(col("vec_id") < 10)
    val exact = Similarity
      .knnExact(e, qs, "vec_id", "embedding", k = 5, exact = true)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity
      .knnIvf(e, qs, "vec_id", "embedding",
        k = 5, kClusters = 8, nProbe = 2, iters = 1, exact = true)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("k"), col("n_hits"),
        (col("n_hits").cast("double") / col("k").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  private val q122Sql = {
    def qz(x: String) = duckQz(x)
    def cosSums(src: String) =
      s"""CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
         |        CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
         |        CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
         |       FROM $src GROUP BY query_id, neighbor_id""".stripMargin
    s"""WITH $duckIvfA1Ctes,
       |probes AS (SELECT vec_id AS query_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1 WHERE vec_id < 10) WHERE rn <= 2),
       |acand AS (SELECT p.query_id, a1.vec_id AS neighbor_id
       |         FROM probes p JOIN a1 ON a1.cluster = p.cluster AND a1.vec_id <> p.query_id),
       |apr AS (SELECT c.query_id, c.neighbor_id, unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM acand c JOIN embeddings q ON q.vec_id = c.query_id
       |                    JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |asums AS (SELECT query_id, neighbor_id,
       |        ${cosSums("apr")}),
       |arnk AS (SELECT query_id, neighbor_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |      FROM asums),
       |ivf AS (SELECT query_id, neighbor_id FROM arnk WHERE rnk <= 5),
       |epr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        unnest(q.embedding) AS qe, unnest(c.embedding) AS ne
       |       FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |       WHERE q.vec_id < 10),
       |esums AS (SELECT query_id, neighbor_id,
       |        ${cosSums("epr")}),
       |ernk AS (SELECT query_id, neighbor_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |      FROM esums),
       |ex AS (SELECT query_id, neighbor_id FROM ernk WHERE rnk <= 5)
       |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS recall
       |FROM ex LEFT JOIN ivf ON ivf.query_id = ex.query_id AND ivf.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q123
  // Padding-waste audit (Packing.paddingWaste): per source, what a
  // pad-to-512 loader burns versus the true token count — the number that
  // justifies sequence packing (q53) per corpus slice. Exact integer
  // `div` arithmetic; one map-combined aggregation, shuffle ≤ sources.
  private val q123: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    Packing
      .paddingWaste(d, "source",
        size(TextFunctions.tokens(col("text"))), seqLen = 512)
      .orderBy("source")
  }

  private val q123Sql =
    s"""WITH ${duckToksCteFor("source")},
       |n AS (SELECT source, len(t) AS n FROM tk),
       |p AS (SELECT source, n, ((n + 511) // 512) * 512 AS padded FROM n)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS total_tokens,
       |  CAST(sum(padded) AS BIGINT) AS padded_tokens,
       |  CASE WHEN sum(padded) = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(sum(padded) - sum(n) AS DOUBLE) / CAST(sum(padded) AS DOUBLE)
       |  END AS waste_frac
       |FROM p GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q124
  // Vocabulary-growth curve (Heaps'-law audit): per 100-doc bucket of the
  // corpus in id order, the token count and the number of FIRST-SEEN
  // terms, cumulated — the curve that says when more data stops buying
  // vocabulary (and whether a crawl slice is repetitive boilerplate: flat
  // curve) before committing to training on it. First occurrence is a
  // per-term min(doc_id) — one vocab-keyed aggregation; both rollups are
  // map-side combined and the cumulative window runs over the tiny
  // bucket-count table. Never a corpus-wide sort.
  private val q124: Q = (s, dir) => {
    val ex = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
    val toks = ex.groupBy(expr("doc_id div 100").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val novel = ex.groupBy(col("term")).agg(min(col("doc_id")).as("__fd"))
      .groupBy(expr("__fd div 100").as("bucket"))
      .agg(count(lit(1)).as("n_new_terms"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(novel, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("vocab_size", sum(col("n_new_terms")).over(w))
      .orderBy("bucket")
  }

  private val q124Sql =
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |tb AS (SELECT doc_id // 100 AS bucket, count(*) AS n_tokens FROM ex GROUP BY 1),
       |fs AS (SELECT term, min(doc_id) AS fd FROM ex GROUP BY term),
       |nv AS (SELECT fd // 100 AS bucket, count(*) AS n_new_terms FROM fs GROUP BY 1)
       |SELECT tb.bucket, CAST(tb.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(nv.n_new_terms, 0) AS BIGINT) AS n_new_terms,
       |  CAST(sum(tb.n_tokens) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_tokens,
       |  CAST(sum(coalesce(nv.n_new_terms, 0)) OVER (ORDER BY tb.bucket) AS BIGINT) AS vocab_size
       |FROM tb LEFT JOIN nv USING (bucket)
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q125
  // Rule-based taxonomy classification (TextFunctions.ruleCategory): the
  // keyword-priority domain classifier — first matching rule wins, codegen
  // CASE chain, no join — rolled up to the per-(source, category) mixture
  // report a curation run publishes. Map-only until the groups-sized
  // aggregation.
  private val q125Rules = Seq(
    "stream" -> "streaming", "vector" -> "ml", "join" -> "relational")
  private val q125: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"),
        TextFunctions.ruleCategory(
          TextFunctions.tokens(col("text")), q125Rules, "other").as("category"))
      .groupBy(col("source"), col("category"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "category")

  private val q125Sql =
    s"""WITH ${duckToksCteFor("source")},
       |c AS (SELECT source,
       |  CASE WHEN list_contains(t, 'stream') THEN 'streaming'
       |       WHEN list_contains(t, 'vector') THEN 'ml'
       |       WHEN list_contains(t, 'join') THEN 'relational'
       |       ELSE 'other' END AS category
       |  FROM tk)
       |SELECT source, category, count(*) AS n_docs
       |FROM c GROUP BY 1, 2 ORDER BY source, category""".stripMargin

  // ---------------------------------------------------------------- q126
  // MinHash calibration audit: for q43's LSH candidates, the signature-
  // match count (the MinHash similarity ESTIMATE, est_matches/16) bucketed
  // against the mean EXACT shingle Jaccard — the table that tells you
  // whether the sketch's similarity estimates can be trusted before wiring
  // thresholds to them. Everything is deterministic (signatures replayed
  // by the shared DuckHash chain; exact Jaccard in integer ppm), so even
  // the calibration of the sketch is value-checked cross-engine. Pair
  // work is candidate-sized, never corpus²; output ≤ 17 rows.
  private val q126: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val sigs = d
      .filter(size(TextFunctions.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        Dedup.minHashSignature(col("text"), 3, 16).as("__sig"),
        TextFunctions.distinctShingles(col("text"), 3).as("__sh"))
    Dedup
      .minHashLshPairs(d, "doc_id", "text", k = 3, numHashes = 16, rowsPerBand = 2)
      .join(sigs.select(col("doc_id").as("doc_a"),
        col("__sig").as("__siga"), col("__sh").as("__sha")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"),
        col("__sig").as("__sigb"), col("__sh").as("__shb")), Seq("doc_b"))
      .select(
        aggregate(
          zip_with(col("__siga"), col("__sigb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("long").as("est_matches"),
        size(array_intersect(col("__sha"), col("__shb"))).cast("long").as("__inter"),
        (size(col("__sha")) + size(col("__shb"))).cast("long").as("__sz"))
      .select(col("est_matches"),
        expr("CAST((__inter * 1000000L) div (__sz - __inter) AS BIGINT)").as("__jppm"))
      .groupBy(col("est_matches"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__jppm")).as("__sum"))
      .select(
        col("est_matches"),
        (col("est_matches") * 62500L).as("est_sim_ppm"), // ×1e6/16, exact
        col("n_pairs"),
        (col("__sum").cast("double") / col("n_pairs").cast("double"))
          .as("mean_jaccard_ppm"))
      .orderBy("est_matches")
  }

  private val q126Sql =
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |pairsig AS (SELECT c.doc_a, c.doc_b,
       |    sa.sigu AS ga, sb.sigu AS gb, ha.shingles AS sha, hb.shingles AS shb
       |  FROM cand c
       |  JOIN sigl sa ON sa.doc_id = c.doc_a JOIN sigl sb ON sb.doc_id = c.doc_b
       |  JOIN shg ha ON ha.doc_id = c.doc_a JOIN shg hb ON hb.doc_id = c.doc_b),
       |sc AS (SELECT doc_a, doc_b,
       |  CAST(list_sum(list_transform(range(1, 17),
       |    i -> CASE WHEN ga[i] = gb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS est_matches,
       |  len(list_intersect(sha, shb)) AS inter, len(sha) + len(shb) AS sz
       |  FROM pairsig),
       |pj AS (SELECT est_matches,
       |  CAST((CAST(inter AS HUGEINT) * 1000000) // (sz - inter) AS BIGINT) AS jppm
       |  FROM sc)
       |SELECT est_matches, CAST(est_matches * 62500 AS BIGINT) AS est_sim_ppm,
       |  count(*) AS n_pairs,
       |  CAST(sum(jppm) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_jaccard_ppm
       |FROM pj GROUP BY est_matches ORDER BY est_matches""".stripMargin

  // ---------------------------------------------------------------- q127
  // Fuzzy entity blocking (Dedup.editOnePairs): every customer-name pair
  // within Levenshtein distance 1, found by FastSS single-deletion keys —
  // never an n² distance matrix — then rolled up to the neighbor-count
  // histogram an entity-resolution run publishes (how tangled is this
  // dimension's name space, including the untouched zero bucket). The
  // key join shuffles rows × (len+1) short keys; hot keys are pruned at
  // 1000 (none fire at this fixture); verification is row-local.
  private val q127: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val pairs = Dedup.editOnePairs(cust, "c_custkey", "c_name")
    val perEntity = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__n"))
    cust.select(col("c_custkey").as("id"))
      .join(perEntity, Seq("id"), "left")
      .select(coalesce(col("__n"), lit(0L)).as("n_neighbors"))
      .groupBy(col("n_neighbors"))
      .agg(count(lit(1)).as("n_entities"))
      .orderBy("n_neighbors")
  }

  private val q127Sql =
    """WITH base AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      |keys AS (SELECT id, s,
      |  unnest(list_prepend(s, list_transform(range(1, length(s)+1),
      |    i -> substr(s, 1, i-1) || substr(s, i+1)))) AS k
      |  FROM base),
      |keep AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= 1000),
      |pk AS (SELECT keys.id, keys.s, keys.k FROM keys JOIN keep USING (k)),
      |cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib, a.s AS sa, b.s AS sb
      |  FROM pk a JOIN pk b ON a.k = b.k AND a.id < b.id),
      |ver AS (SELECT ia, ib FROM cand WHERE levenshtein(sa, sb) <= 1),
      |pe AS (SELECT id, count(*) AS n FROM
      |  (SELECT ia AS id FROM ver UNION ALL SELECT ib FROM ver) GROUP BY id)
      |SELECT coalesce(pe.n, 0) AS n_neighbors, count(*) AS n_entities
      |FROM base LEFT JOIN pe USING (id)
      |GROUP BY 1 ORDER BY n_neighbors""".stripMargin

  // ---------------------------------------------------------------- q128
  // Keyword retrieval (TfIdf.keywordSearch): top-10 documents for a
  // 3-term query under exact-integer tf·idf-ppm scoring — the inverted-
  // index probe a corpus-curation stack runs to pull topic slices. The
  // term filter lands on the token scan before any shuffle (postings
  // exist only for the 3 queried terms), df is a 3-row broadcast, N a
  // 1-row broadcast, top-k is TakeOrderedAndProject. Scores are integer
  // ppm (no libm), so ranking AND scores value-check cross-engine; "dup"
  // (df≈25) dominating "vector"/"stream" (df≈390) is the idf story.
  private val q128Terms = Seq("dup", "vector", "stream")
  private val q128: Q = (s, dir) =>
    TfIdf.keywordSearch(Tables.documents(s, dir), "doc_id", "text", q128Terms, 10)

  private val q128Sql =
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |m AS (SELECT doc_id, term, count(*) AS tf FROM ex
       |  WHERE term IN ('dup', 'vector', 'stream') GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents)
       |SELECT m.doc_id, count(*) AS n_hit_terms,
       |  CAST(sum(m.tf * ((n.n * 1000000) // dfreq.df)) AS BIGINT) AS score
       |FROM m JOIN dfreq USING (term) CROSS JOIN n
       |GROUP BY m.doc_id
       |ORDER BY score DESC, m.doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q129
  // Duplication-hub centrality (Centrality.pageRank): integer-arithmetic
  // PageRank over q43's LSH candidate-pair graph — which documents sit at
  // the CENTER of a near-dup neighborhood (the template/boilerplate
  // sources), vs q58's "which are connected at all". Ranks are exact
  // fixed-point longs (floor-division contributions, associative integer
  // sums), so all 5 iterations replay bit-for-bit in the oracle's chained
  // CTEs — an ITERATIVE graph algorithm value-checked cross-engine, not
  // just smoke-checked. Per-iteration shuffle ∝ edges; adjacency built
  // once and checkpointed.
  private val q129: Q = (s, dir) =>
    Centrality.pageRank(
      Dedup.minHashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 3, numHashes = 16, rowsPerBand = 2),
      "doc_a", "doc_b", iterations = 5)
      .select(col("node").as("doc_id"), col("rank").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("doc_id"))

  private val q129Sql = {
    val base = 150000000000L // 1e12/100 × 15, the operator's exact base term
    val iters = (1 to 5).map { i =>
      s"""r$i AS (SELECT u.dst AS node,
         |  $base + sum((r.rank * 85) // (100 * u.__deg)) AS rank
         |  FROM adj u JOIN r${i - 1} r ON r.node = u.src GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |deg AS (SELECT src, count(*) AS __deg FROM und GROUP BY src),
       |adj AS (SELECT und.src, und.dst, deg.__deg FROM und JOIN deg USING (src)),
       |r0 AS (SELECT src AS node, CAST(1000000000000 AS HUGEINT) AS rank FROM deg),
       |$iters
       |SELECT node AS doc_id, CAST(rank AS BIGINT) AS rank_e12 FROM r5
       |ORDER BY rank_e12 DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q130
  // Event-type affinity matrix (Diagnostics.cooccurrenceAffinity): for
  // every pair of event types, how many users do both and the exact
  // Jaccard overlap in ppm — the "users who X also Y" co-occurrence audit
  // feeding funnel design (q83) and the transition matrix (q112). One
  // unit-keyed set aggregation, row-local pair expansion (items² bounded
  // by the categorical domain, never a corpus self-join), totals
  // broadcast back.
  private val q130: Q = (s, dir) =>
    Diagnostics.cooccurrenceAffinity(Tables.events(s, dir), "user_id", "event_type")
      .orderBy("item_a", "item_b")

  private val q130Sql =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |p AS (SELECT a.event_type AS ia, b.event_type AS ib FROM ut a
      |  JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type),
      |nb AS (SELECT ia, ib, count(*) AS n_both FROM p GROUP BY 1, 2),
      |t AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
      |SELECT nb.ia AS item_a, nb.ib AS item_b, ta.n AS n_a, tb.n AS n_b,
      |  nb.n_both, (nb.n_both * 1000000) // (ta.n + tb.n - nb.n_both) AS jaccard_ppm
      |FROM nb JOIN t ta ON ta.event_type = nb.ia JOIN t tb ON tb.event_type = nb.ib
      |ORDER BY item_a, item_b""".stripMargin

  // ---------------------------------------------------------------- q131
  // Ingestion throttle audit (StreamingThrottle.throttleBatch): admit at
  // most 20 events per user in (ts, event_id) order — the quota an
  // ingestion edge enforces — reported per user as seen/kept/cutoff. The
  // batch twin of the flatMapGroupsWithState throttle (StreamingSpec pins
  // that ordered streaming delivery admits the identical set); the
  // row_number window is the one genuinely ordered per-key pass.
  private val q131: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val kept = graft.streaming.StreamingThrottle.throttleBatch(ev, 20)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_kept"), max(col("ts")).as("ts_cutoff"))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_seen"))
      .join(kept, Seq("user_id"))
      .select(col("user_id"), col("n_seen"), col("n_kept"), col("ts_cutoff"))
      .orderBy("user_id")
  }

  private val q131Sql =
    """WITH r AS (SELECT user_id, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |k AS (SELECT user_id, count(*) AS n_kept, max(ts) AS ts_cutoff
      |  FROM r WHERE rn <= 20 GROUP BY user_id),
      |s AS (SELECT user_id, count(*) AS n_seen FROM events GROUP BY user_id)
      |SELECT s.user_id, s.n_seen, k.n_kept, CAST(k.ts_cutoff AS TIMESTAMP) AS ts_cutoff
      |FROM s JOIN k USING (user_id) ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q132
  // Top session journeys (Funnel.sessionPaths): sessionize on q33's
  // 30-minute gap, render each session's first 5 event types as a path
  // string, count sessions per path, top-20 — the path-analysis view
  // whose first-order approximation is q112's transition matrix. One
  // user-keyed shuffle+sort serves gap detection, session ids, AND the
  // per-session fold; the rollup is path-cardinality-sized.
  private val q132: Q = (s, dir) =>
    Funnel.sessionPaths(Tables.events(s, dir),
      "user_id", "event_type", "ts", "event_id", gapMinutes = 30, maxSteps = 5)
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)

  private val q132Sql =
    """WITH t AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM t),
      |p AS (SELECT user_id, sid,
      |    array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>') AS path
      |  FROM s GROUP BY user_id, sid)
      |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q133
  // Feature correlation matrix (Diagnostics.correlationMatrix): pairwise
  // Pearson correlation of lineitem's four numeric measures with all
  // moment sums in exact decimal(38,0) over 1e-2 integer units (the
  // columns' literal precision, so quantization is lossless) — only the
  // final corr divides through correctly-rounded IEEE doubles, so every
  // cell value-checks cross-engine. One map-combined single-row global
  // aggregation; the pair table expands row-locally from it.
  private val q133Cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val q133: Q = (s, dir) =>
    Diagnostics.correlationMatrix(Tables.lineitem(s, dir), q133Cols, scale = 100L)
      .orderBy("col_a", "col_b")

  private val q133Sql = {
    val qsel = q133Cols.map(c => s"CAST(round($c * 100) AS HUGEINT) AS $c").mkString(", ")
    val moments = (Seq("CAST(count(*) AS HUGEINT) AS n") ++
      q133Cols.flatMap(c => Seq(s"sum($c) AS s_$c", s"sum($c * $c) AS ss_$c")) ++
      (for { i <- q133Cols.indices; j <- q133Cols.indices if i < j }
        yield s"sum(${q133Cols(i)} * ${q133Cols(j)}) AS p_${q133Cols(i)}_${q133Cols(j)}"))
      .mkString(", ")
    val rows = (for { i <- q133Cols.indices; j <- q133Cols.indices if i < j } yield {
      val (a, b) = (q133Cols(i), q133Cols(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
         |  CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE) AS num,
         |  CAST(n * ss_$a - s_$a * s_$a AS DOUBLE) AS den_a,
         |  CAST(n * ss_$b - s_$b * s_$b AS DOUBLE) AS den_b,
         |  CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE)
         |    / (sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE))
         |       * sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))) AS corr
         |FROM m""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT $qsel FROM lineitem),
       |m AS (SELECT $moments FROM q)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  // ---------------------------------------------------------------- q134
  // Daily audience accounting (Retention.dailyAudience): DAU, new vs
  // returning, cumulative user base per day — the growth-dashboard spine.
  // User-keyed map-combined aggregations; everything after the first-seen
  // rollup is day-cardinality-sized, including the cumulative window.
  private val q134: Q = (s, dir) =>
    Retention.dailyAudience(Tables.events(s, dir), "user_id", "ts")
      // day as ISO string: pandas folds DATE to midnight Timestamp, which
      // would false-mismatch Spark's date32 in the compare
      .withColumn("day", col("day").cast("string"))
      .orderBy("day")

  private val q134Sql =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |a AS (SELECT day, count(*) AS n_active FROM du GROUP BY day),
      |fs AS (SELECT user_id, min(day) AS day FROM du GROUP BY user_id),
      |nw AS (SELECT day, count(*) AS n_new FROM fs GROUP BY day)
      |SELECT CAST(a.day AS VARCHAR) AS day, a.n_active, coalesce(nw.n_new, 0) AS n_new,
      |  a.n_active - coalesce(nw.n_new, 0) AS n_returning,
      |  CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY a.day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM a LEFT JOIN nw USING (day)
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q135
  // Leave-one-out target encoding audit (Encoding.looTargetEncode): each
  // event's type encoded as the mean value of the type's OTHER events —
  // exact integer division in 1e-6 units, the leakage-guarded form of
  // mean encoding — audited per type (n, min/max/sum of the per-row
  // encodings, all exact). Stats broadcast onto the scan; the encode is
  // row-local; only the audit rollup shuffles, type-sized.
  private val q135: Q = (s, dir) =>
    Encoding.looTargetEncode(Tables.events(s, dir), "event_type", "value")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("loo_enc")).as("min_enc"),
        max(col("loo_enc")).as("max_enc"),
        sum(col("loo_enc")).as("sum_enc"))
      .orderBy("event_type")

  private val q135Sql =
    """WITH q AS (SELECT event_type,
      |    CAST(floor("value" * 1000000) AS HUGEINT) AS v FROM events),
      |st AS (SELECT event_type, sum(v) AS s, count(*) AS n FROM q GROUP BY event_type),
      |e AS (SELECT q.event_type,
      |    CASE WHEN st.n > 1 THEN (st.s - q.v) // (st.n - 1) END AS enc
      |  FROM q JOIN st USING (event_type))
      |SELECT event_type, count(*) AS n_events,
      |  CAST(min(enc) AS BIGINT) AS min_enc, CAST(max(enc) AS BIGINT) AS max_enc,
      |  CAST(sum(enc) AS BIGINT) AS sum_enc
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q136
  // Record-linkage scoring (Linkage.score over Dedup.editOnePairs):
  // q127's name-variant candidates upgraded to a full entity-resolution
  // verdict — per-field agreement (name distance, nation, market
  // segment, balance within 100.00) combined into one exact integer
  // Fellegi-Sunter-style weight, reported as the score distribution a
  // threshold is chosen from. Blocking keeps pairs collision-sized;
  // attribute joins are id-keyed; scoring is row-local.
  private val q136: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    def side(tag: String) = cust.select(
      col("c_custkey").as(s"__id$tag"), col("c_nationkey").as(s"nat_$tag"),
      col("c_mktsegment").as(s"seg_$tag"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as(s"bal_$tag"))
    val pairs = Dedup.editOnePairs(cust, "c_custkey", "c_name")
      .join(side("a"), col("id_a") === col("__ida")).drop("__ida")
      .join(side("b"), col("id_b") === col("__idb")).drop("__idb")
    Linkage.score(pairs, Seq(
      Linkage.FieldRule("name", col("dist") === 0, 4000L, 2500L),
      Linkage.FieldRule("nation", col("nat_a") === col("nat_b"), 1200L, -800L),
      Linkage.FieldRule("segment", col("seg_a") === col("seg_b"), 600L, -400L),
      Linkage.FieldRule("balance",
        abs(col("bal_a") - col("bal_b")) <= 10000L, 500L, -300L)))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("score").desc)
  }

  private val q136Sql =
    """WITH base AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      |keys AS (SELECT id, s, i,
      |  CASE WHEN i = 0 THEN s ELSE substr(s, 1, i-1) || substr(s, i+1) END AS k
      |  FROM base, unnest(range(0, length(s)+1)) AS t(i)),
      |keep AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= 1000),
      |pk AS (SELECT keys.id, keys.s, keys.i, keys.k FROM keys JOIN keep USING (k)),
      |cand AS (SELECT a.id AS id_a, b.id AS id_b,
      |    min(CASE WHEN a.i = 0 AND b.i = 0 THEN 0 ELSE 1 END) AS dist
      |  FROM pk a JOIN pk b ON a.k = b.k AND a.id < b.id
      |  WHERE a.i = b.i OR a.i = 0 OR b.i = 0
      |  GROUP BY a.id, b.id),
      |att AS (SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
      |sc AS (SELECT
      |    (CASE WHEN c.dist = 0 THEN 4000 ELSE 2500 END)
      |  + (CASE WHEN x.nat = y.nat THEN 1200 ELSE -800 END)
      |  + (CASE WHEN x.seg = y.seg THEN 600 ELSE -400 END)
      |  + (CASE WHEN abs(x.bal - y.bal) <= 10000 THEN 500 ELSE -300 END) AS score
      |  FROM cand c JOIN att x ON x.id = c.id_a JOIN att y ON y.id = c.id_b)
      |SELECT CAST(score AS BIGINT) AS score, count(*) AS n_pairs
      |FROM sc GROUP BY score ORDER BY score DESC""".stripMargin

  // ---------------------------------------------------------------- q137
  // Exact 7-day sliding distinct users (Sketches.bitmapSlidingDistinct):
  // the exact tier beside q89's HLL registers — per-day 64-bit bitmap
  // words, window union = word-wise bit_or, count = popcount sum. The
  // fan-out ships masks (≤ users/64 rows per day) × 7, never the
  // (day, user) pairs the verdict-flagged count_distinct form shipped;
  // no sketch error, bit-exact on both engines (63-bit words: DuckDB
  // checks shift overflow at bit 63, so masks stay sign-free).
  private val q137: Q = (s, dir) =>
    Sketches.bitmapSlidingDistinct(Tables.events(s, dir), "ts", "user_id", 7)
      .withColumn("day", col("day").cast("string"))
      .orderBy("day")

  private val q137Sql =
    """WITH m AS (SELECT CAST(ts AS DATE) AS day, user_id // 63 AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS mask
      |  FROM events GROUP BY 1, 2),
      |f AS (SELECT day + CAST(k AS INT) AS day, w, mask
      |  FROM m, unnest(range(0, 7)) AS t(k)),
      |pd AS (SELECT DISTINCT day FROM m),
      |u AS (SELECT f.day, f.w, bit_or(f.mask) AS mm
      |  FROM f JOIN pd USING (day) GROUP BY 1, 2)
      |SELECT CAST(day AS VARCHAR) AS day,
      |  CAST(sum(bit_count(mm)) AS BIGINT) AS n_exact
      |FROM u GROUP BY day ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q138
  // SCD2 history apply (Merge.scd2Apply): the mid-month per-user activity
  // snapshot as an open SCD2 history, month-end totals applied as a
  // change batch — changed users close at the batch timestamp and open a
  // new version, unchanged users keep their open row, second-half-only
  // users insert. The history-keeping member of the CDC family (q78
  // latest-wins, q113 diff); closed rows pass through untouched, the one
  // join is open-rows × batch.
  private val q138: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val hist = ev.filter(col("ts") < expr("TIMESTAMP '2024-01-16 00:00:00'"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .withColumn("valid_from", expr("TIMESTAMP '2024-01-01 00:00:00'"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val batch = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .withColumn("ts", expr("TIMESTAMP '2024-02-01 00:00:00'"))
    Merge.scd2Apply(hist, batch, Seq("user_id"), Seq("n_events"), "ts")
      // version bounds as strings: a NULL (open) timestamp would compare
      // NaT != NaT in the pandas-side harness
      .withColumn("valid_from", col("valid_from").cast("string"))
      .withColumn("valid_to", coalesce(col("valid_to").cast("string"), lit("open")))
      .orderBy("user_id", "valid_from")
  }

  private val q138Sql =
    """WITH h AS (SELECT user_id, count(*) AS n_events,
      |    TIMESTAMP '2024-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
      |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id),
      |b AS (SELECT user_id, count(*) AS n_events, TIMESTAMP '2024-02-01' AS ts
      |  FROM events GROUP BY user_id),
      |fo AS (SELECT h.user_id, h.n_events, h.valid_from,
      |    CASE WHEN b.user_id IS NOT NULL AND b.n_events IS DISTINCT FROM h.n_events
      |         THEN b.ts END AS valid_to
      |  FROM h LEFT JOIN b USING (user_id)),
      |fb AS (SELECT b.user_id, b.n_events, b.ts AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to
      |  FROM b LEFT JOIN h USING (user_id)
      |  WHERE h.user_id IS NULL OR b.n_events IS DISTINCT FROM h.n_events),
      |u AS (SELECT * FROM fo UNION ALL SELECT * FROM fb)
      |SELECT user_id, n_events, CAST(valid_from AS VARCHAR) AS valid_from,
      |  coalesce(CAST(valid_to AS VARCHAR), 'open') AS valid_to
      |FROM u ORDER BY user_id, valid_from""".stripMargin

  // ---------------------------------------------------------------- q139
  // Inter-arrival spectrum (Diagnostics.interArrivalSpectrum): per event
  // type, the histogram of gaps between a user's consecutive events of
  // that type in power-of-2 second bands (bucket = bit length of the gap
  // — exact on both engines, no log2). One (user, type)-keyed window
  // pass, then types × ~40 buckets. The cadence evidence behind q33's
  // 30-minute session gap.
  private val q139: Q = (s, dir) =>
    Diagnostics.interArrivalSpectrum(Tables.events(s, dir),
      Seq("user_id", "event_type"), Seq("event_type"), "ts", "event_id")
      .orderBy("event_type", "bucket")

  private val q139Sql =
    """WITH t AS (SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP))
      |     - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))) // 1000000 AS gap
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
      |g AS (SELECT event_type,
      |    CASE WHEN gap <= 0 THEN 0 ELSE length(bin(gap)) END AS bucket
      |  FROM t WHERE gap IS NOT NULL)
      |SELECT event_type, CAST(bucket AS INT) AS bucket, count(*) AS n_gaps,
      |  CAST(CASE WHEN bucket = 0 THEN 0 ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT) AS gap_lo_s,
      |  CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT) AS gap_hi_s
      |FROM g GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin

  // ---------------------------------------------------------------- q140
  // Whole-schema referential-integrity sweep (Audit.referentialSweep):
  // every FK edge of the star schema plus the events→customer edge in
  // ONE lazy union — per edge, child rows / null keys / orphans /
  // coverage ppm. Parent key sets broadcast; fact sides never shuffle;
  // SQL MATCH SIMPLE semantics (null keys pass, counted separately).
  // The schema-level generalization of q10's single anti-join.
  private val q140: Q = (s, dir) => {
    import Audit.FkEdge
    Audit.referentialSweep(Seq(
      FkEdge("orders->customer", Tables.orders(s, dir), Seq("o_custkey"),
        Tables.customer(s, dir), Seq("c_custkey")),
      FkEdge("lineitem->orders", Tables.lineitem(s, dir), Seq("l_orderkey"),
        Tables.orders(s, dir), Seq("o_orderkey")),
      FkEdge("lineitem->part", Tables.lineitem(s, dir), Seq("l_partkey"),
        Tables.part(s, dir), Seq("p_partkey")),
      FkEdge("lineitem->supplier", Tables.lineitem(s, dir), Seq("l_suppkey"),
        Tables.supplier(s, dir), Seq("s_suppkey")),
      FkEdge("customer->nation", Tables.customer(s, dir), Seq("c_nationkey"),
        Tables.nation(s, dir), Seq("n_nationkey")),
      FkEdge("supplier->nation", Tables.supplier(s, dir), Seq("s_nationkey"),
        Tables.nation(s, dir), Seq("n_nationkey")),
      FkEdge("nation->region", Tables.nation(s, dir), Seq("n_regionkey"),
        Tables.region(s, dir), Seq("r_regionkey")),
      FkEdge("events->customer", Tables.events(s, dir), Seq("user_id"),
        Tables.customer(s, dir), Seq("c_custkey"))))
      .orderBy("fk")
  }

  private val q140Sql = {
    val edges = Seq(
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("events->customer", "events", "user_id", "customer", "c_custkey"))
    edges.map { case (name, child, ck, parent, pk) =>
      s"""SELECT '$name' AS fk, count(*) AS child_rows,
         |  CAST(sum(CASE WHEN c.$ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
         |  CAST(sum(CASE WHEN c.$ck IS NOT NULL AND p.$pk IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS orphans,
         |  CAST(((count(*) - sum(CASE WHEN c.$ck IS NOT NULL AND p.$pk IS NULL
         |      THEN 1 ELSE 0 END)) * 1000000) // count(*) AS BIGINT) AS coverage_ppm
         |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
         |  ON c.$ck = p.$pk""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY fk"
  }

  // ---------------------------------------------------------------- q141
  // EXACT Jaccard similarity join at τ = 7/10 over distinct 5-token word
  // shingle sets via prefix filtering (Dedup.prefixFilterJaccardJoin) —
  // the zero-recall-loss counterpart to the MinHash-LSH tier (q43 finds
  // *probable* pairs; this finds provably ALL pairs ≥ τ, the contract
  // dedup audits and compliance scans need). Shingle sets, not unigram
  // sets: this corpus draws from a ~31-token vocabulary, so unigram
  // Jaccard is near-1 for almost every pair (the TRUE answer is ~90k
  // pairs at sf0.01 — quadratic output no algorithm beats), while
  // 5-shingle sets are sequence-sensitive and isolate the ~real near-dups.
  // Only each doc's rare-first prefix is indexed; τ and every comparison
  // are integer rationals, so boundary pairs at exactly τ hash-match
  // across engines. The oracle is METHOD-independent: a brute-force
  // shared-shingle join + exact set sizes in DuckDB — it never
  // re-implements the prefix logic, so agreement validates the filter's
  // exactness theorem, not a shared bug.
  // Guard: SCALE-RELATIVE (≤ 32 candidate pairs per indexed prefix entry
  // — true ratio here is ~0.001) so every bench/gate run re-proves the
  // guard SILENT on the known-safe corpus, any future fixture change that
  // blows up the prefix buckets fails loudly in the guard stage instead
  // of spilling in the join, and a linear scale-up never trips it (the
  // old absolute 10M cap was a fixture-scale constant — the sf10
  // rehearsal tripped it at a healthy 1.2 pairs/entry).
  private val q141: Q = (s, dir) =>
    graft.operators.Dedup.prefixFilterJaccardJoin(
        Tables.documents(s, dir), "doc_id", "text",
        tauNum = 7, tauDen = 10, shingleK = 5,
        maxPairsPerEntry = 32L)
      .orderBy("doc_a", "doc_b")

  private val q141Sql =
    """WITH tk AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |shl AS (SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) < 5 THEN []
      |         ELSE list_transform(range(0, len(t) - 4),
      |                i -> array_to_string(list_slice(t, i+1, i+5), ' ')) END) AS s
      |  FROM tk),
      |sz AS (SELECT doc_id, len(s) AS n FROM shl WHERE len(s) > 0),
      |ex AS (SELECT doc_id, unnest(s) AS tok FROM shl),
      |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    count(*) AS n_inter
      |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT s.doc_a, s.doc_b, s.n_inter,
      |  na.n + nb.n - s.n_inter AS n_union,
      |  (s.n_inter * 1000000) // (na.n + nb.n - s.n_inter) AS jaccard_ppm
      |FROM shared s
      |JOIN sz na ON na.doc_id = s.doc_a
      |JOIN sz nb ON nb.doc_id = s.doc_b
      |WHERE s.n_inter * 10 >= (na.n + nb.n - s.n_inter) * 7
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q142
  // Trailing-baseline daily anomalies (Diagnostics.slidingAnomalies):
  // each (type, day) count tested against its own trailing 7 OBSERVED
  // buckets (zero-event days are absent, so a sparse type's baseline
  // spans however much wall-clock those 7 active days cover) — the
  // "spike vs recent baseline" alert, where q117 tests against the
  // all-time distribution. Verdict is the cross-multiplied integer
  // z-test ((7c − s)² > z²·(7ss − s²)); days with fewer than 7 trailing
  // observations verdict NULL, not false. One bucket rollup + one
  // window pass over the (types × days)-sized table.
  private val q142: Q = (s, dir) =>
    Diagnostics.slidingAnomalies(Tables.events(s, dir), Seq("event_type"),
        date_trunc("day", col("ts")), window = 7, z = 2)
      .orderBy("event_type", "bucket")

  private val q142Sql =
    """WITH c AS (SELECT event_type,
      |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
      |    count(*) AS n_rows
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT *,
      |    count(*) OVER win AS bn,
      |    sum(n_rows) OVER win AS s,
      |    sum(n_rows * n_rows) OVER win AS ss
      |  FROM c
      |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
      |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, bucket, n_rows, bn AS baseline_n,
      |  CASE WHEN bn < 7 THEN NULL
      |       ELSE (7*n_rows - s)*(7*n_rows - s) > 4*(7*ss - s*s) END
      |    AS is_anomalous
      |FROM w ORDER BY event_type, bucket""".stripMargin

  // ---------------------------------------------------------------- q143
  // Gap-filled per-user daily value series (Rollup.forwardFillDaily):
  // each user's closing `value` per day, carried forward across silent
  // days over a complete per-user day spine — the resample-and-pad step
  // before windowed feature extraction. Closing election is a
  // deterministic struct-argmax by (ts, event_id); the fill is the
  // as-of-join running `last(ignoreNulls)`. Spine rows = users × their
  // own span, never users × global span.
  private val q143: Q = (s, dir) =>
    Rollup.forwardFillDaily(Tables.events(s, dir),
        "user_id", "ts", "value", "event_id")
      .orderBy("user_id", "day")

  private val q143Sql =
    """WITH obs AS (SELECT user_id, day, closing FROM (
      |    SELECT user_id, date_trunc('day', ts) AS day, value AS closing,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
      |  WHERE rn = 1),
      |bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |  FROM obs GROUP BY 1),
      |spine AS (SELECT user_id,
      |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |  FROM bounds),
      |j AS (SELECT s.user_id, s.day, o.closing
      |  FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day),
      |g AS (SELECT *, count(closing) OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM j)
      |SELECT user_id, day,
      |  max(closing) OVER (PARTITION BY user_id, grp) AS value,
      |  closing IS NOT NULL AS is_observed
      |FROM g ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------- q144
  // Small-file compaction plan (Layout.compactionPlan): a synthetic file
  // inventory — one "file" per (order status, ship month) with
  // rows×128 B — greedily packed into 256 KiB compaction groups in month
  // order, planned independently per status partition. The plan is pure
  // integer window arithmetic over the METADATA-sized inventory; the
  // div-packing never splits a file and an oversized file takes its own
  // group.
  private val q144: Q = (s, dir) => {
    val files = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg((count(lit(1)) * 128L).as("bytes"))
    graft.operators.Layout.compactionPlan(files, "bytes", Seq("month"),
        targetBytes = 256L * 1024, partitionCols = Seq("o_orderstatus"))
      .orderBy("o_orderstatus", "month")
  }

  private val q144Sql =
    """WITH files AS (SELECT o_orderstatus,
      |    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |    count(*) * 128 AS bytes
      |  FROM orders GROUP BY 1, 2),
      |cum AS (SELECT *,
      |    coalesce(sum(bytes) OVER (PARTITION BY o_orderstatus ORDER BY month
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM files)
      |SELECT o_orderstatus, month, bytes,
      |  CAST(cb // 262144 AS BIGINT) AS compaction_group,
      |  CAST(row_number() OVER (PARTITION BY o_orderstatus, cb // 262144
      |    ORDER BY month) AS INTEGER) AS group_seq
      |FROM cum ORDER BY o_orderstatus, month""".stripMargin

  // ---------------------------------------------------------------- q145
  // Tukey-fence outlier audit (Diagnostics.iqrOutliers): per return
  // flag, exact quartiles of l_extendedprice, the 1.5·IQR fences, and
  // the row counts outside each fence — the box-plot screen on a
  // numeric feature. Quartiles are the exact-interpolation agreement
  // (Spark percentile ≡ quantile_cont) and the fences two IEEE ops on
  // them, so the whole report hash-matches. Fence table broadcasts back
  // for the second pass.
  private val q145: Q = (s, dir) =>
    Diagnostics.iqrOutliers(Tables.lineitem(s, dir),
        Seq("l_returnflag"), "l_extendedprice")
      .orderBy("l_returnflag")

  private val q145Sql =
    """WITH f AS (SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.25) AS p25,
      |    quantile_cont(l_extendedprice, 0.5) AS p50,
      |    quantile_cont(l_extendedprice, 0.75) AS p75
      |  FROM lineitem GROUP BY 1),
      |f2 AS (SELECT *, p25 - 1.5*(p75 - p25) AS lo_fence,
      |    p75 + 1.5*(p75 - p25) AS hi_fence FROM f)
      |SELECT l.l_returnflag, count(*) AS n_rows,
      |  any_value(p25) AS p25, any_value(p50) AS p50, any_value(p75) AS p75,
      |  any_value(lo_fence) AS lo_fence, any_value(hi_fence) AS hi_fence,
      |  CAST(sum(CASE WHEN l_extendedprice < lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |  CAST(sum(CASE WHEN l_extendedprice > hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      |FROM lineitem l JOIN f2 ON l.l_returnflag = f2.l_returnflag
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q146
  // Watermark-lateness audit (Diagnostics.latenessAudit): how far events
  // arrive behind their key's running event-time watermark, in exact
  // microseconds — the measurement that sizes a streaming watermark
  // delay (§2.12's knob). The harness events table is perfectly ordered
  // (event_id ≡ ts order), so the delivery disorder is synthesized
  // deterministically: arrival = ts + (mix64(event_id) & (2³²−1)) µs
  // (≤ ~72 min; a power-of-two MASK, because signed pmod and u64 % read
  // a negative hash differently) — the same derive-a-fixture move as
  // q120's CDC chunks; both engines replay the identical jitter.
  // n_beyond_watermark counts events a 30-minute watermark would drop.
  private val q146: Q = (s, dir) =>
    Diagnostics.latenessAudit(
        Tables.events(s, dir)
          .withColumn("__arr",
            unix_micros(col("ts")) +
              graft.functions.HashFunctions.mix64(col("event_id"))
                .bitwiseAND(lit(4294967295L))),
        "user_id", "ts", Seq(col("__arr"), col("event_id")),
        Seq("event_type"), lateThresholdUs = 1800000000L)
      .orderBy("event_type")

  private val q146Sql = {
    val arr = s"epoch_us(ts) + CAST((${DuckHash.mix64Inline("CAST(event_id AS UBIGINT)")}) & 4294967295 AS BIGINT)"
    s"""WITH a AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us,
       |    $arr AS arr
       |  FROM events),
       |l AS (SELECT event_type,
       |    greatest(coalesce(max(us) OVER (PARTITION BY user_id
       |      ORDER BY arr, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0), 0) AS late
       |  FROM a)
       |SELECT event_type, count(*) AS n_events,
       |  CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       |  CAST(sum(CASE WHEN late > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_watermark,
       |  max(late) AS max_late_us,
       |  CAST(sum(late) AS BIGINT) AS total_late_us
       |FROM l GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q147
  // Per-node triangle counts on q43's LSH candidate graph
  // (Centrality.triangleCounts): neighborhood DENSITY where q129 ranks
  // reach — a high-triangle node sits in a mutually-similar clique (one
  // template, many copies), a high-rank/low-triangle node is a
  // hub-and-spokes. Degree-orientation bounds wedge fan-out by O(√m) on
  // any degree distribution. The oracle is METHOD-independent: a plain
  // 3-way edge join (a<b<c) in DuckDB, no orientation — agreement
  // validates the wedge algorithm, not a replay of it.
  private val q147: Q = (s, dir) =>
    Centrality.triangleCounts(
        Dedup.minHashLshPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, numHashes = 16, rowsPerBand = 2),
        "doc_a", "doc_b")
      .orderBy("node")

  private val q147Sql =
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cand),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |t AS (SELECT unnest([x, y, z]) AS node FROM tri)
       |SELECT node, count(*) AS n_triangles FROM t GROUP BY node
       |ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q148
  // 30-core of the unigram τ=9/10 similarity graph (Centrality.kCore over
  // Dedup.prefixFilterJaccardJoin): the maximal subgraph where every
  // document keeps ≥ 30 mutual near-dups — the "hard kernel" of
  // duplication that survives any amount of fringe deletion (Seidman
  // k-core), the set a curator triages FIRST. Unigram sets here exactly
  // because this corpus makes them dense (31-token vocabulary): the
  // k-core needs a graph with real peel structure, and this one peels in
  // 3 data-dependent rounds at sf0.01. The oracle replays 8 chained peel
  // rounds (fixpoint + margin) — an iterative algorithm value-checked
  // cross-engine, like q129.
  private val q148: Q = (s, dir) =>
    Centrality.kCore(
        // CAPPED since r11 (reversing the r10 uncapped-fast-path call for
        // this query): the sf10 rehearsal caught the uncapped plan's AQE
        // under-provisioning concentrating the unigram pair mass (22.4M
        // pairs at sf0.1, ×10 per decade — 1,602 pairs/entry, constant
        // under copy growth) into few fat tasks whose buffers SPILLED
        // 61 GB — 42.5k task-seconds, 5.5× the linear extrapolation, a
        // >600 s timeout. With the cap, the guard's measured mass sizes
        // the candidate/verify widths and sf10 runs spill-free and
        // linear (r11 measurement); the ~2× fixture-scale wall cost
        // (5.3 → 10.0 s at sf0.1) is the documented price. Cap = 8192,
        // 5× above the measured scale-invariant ratio — real quadratic
        // hot buckets still trip.
        graft.operators.Dedup.prefixFilterJaccardJoin(
          Tables.documents(s, dir), "doc_id", "text", tauNum = 9, tauDen = 10,
          maxPairsPerEntry = 8192L),
        "doc_a", "doc_b", k = 30,
        // simjoin output is distinct a<b by contract — skip the
        // re-canonicalize shuffle
        inputCanonical = true)
      .orderBy("node")

  private val q148Sql = {
    // MATERIALIZED: each round references the previous twice (degree pass
    // + survivor filter) — inlined CTEs would expand the chain 3^8-fold
    // and exhaust file handles re-opening the parquet per expansion.
    val peels = (1 to 8).map { i =>
      s"""d$i AS (SELECT a AS node, count(*) AS d FROM u${i - 1} GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE d >= 30),
         |u$i AS MATERIALIZED (SELECT u.a, u.b FROM u${i - 1} u
         |  JOIN k$i x ON u.a = x.node JOIN k$i y ON u.b = y.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id, list_distinct(
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS t
       |  FROM documents),
       |sz AS (SELECT doc_id, len(t) AS n FROM tk WHERE len(t) > 0),
       |ex AS (SELECT doc_id, unnest(t) AS tok FROM tk),
       |sh AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
       |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |e AS (SELECT da AS a, db AS b FROM sh
       |  JOIN sz na ON na.doc_id = da JOIN sz nb ON nb.doc_id = db
       |  WHERE ni * 10 >= (na.n + nb.n - ni) * 9),
       |u0 AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |$peels
       |SELECT a AS node, count(*) AS degree FROM u8
       |WHERE (SELECT count(*) FROM u8) = (SELECT count(*) FROM u7)
       |   OR error('q148 oracle: peel depth exceeds 8 rounds - u8 is not the fixpoint')
       |GROUP BY 1
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q149
  // Per-group decile table via exact integer percent-rank
  // (Encoding.percentRankPpm): l_extendedprice rank-normalized within
  // each return flag — `(rank−1)·10⁶ div (n−1)`, ties by SQL rank(), no
  // double anywhere — then rolled up to deciles (ppm div 10⁵, top edge
  // clamped into decile 9) with row counts and price bounds. The
  // quantile-normalization audit a feature pipeline prints per segment;
  // rank() agrees bit-for-bit where percent_rank()'s double division
  // invites cross-engine rounding drift.
  // Runs on the BY-VALUE form (Encoding.percentRankPpmByValue): the decile
  // rollup is rank-derived, so it never needs per-row ranks — the window
  // sorts only the distinct (flag, price) table (count-shrunk map-side)
  // and the rollup weights by n_rows. The per-row form sorts every row of
  // a group in ONE partition (parallelism = 3 flags; measured at sf1:
  // 5.7 s max task under a balanced 1.001 hot stage, task_skew 7.06 —
  // the r10 watch item), the by-value form's heavy work is the
  // map-combined count.
  private val q149: Q = (s, dir) =>
    Encoding.percentRankPpmByValue(Tables.lineitem(s, dir),
        Seq("l_returnflag"), "l_extendedprice")
      .withColumn("decile", least(expr("pr_ppm div 100000"), lit(9L)))
      .groupBy(col("l_returnflag"), col("decile"))
      .agg(
        sum(col("n_rows")).as("n_rows"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy("l_returnflag", "decile")

  private val q149Sql =
    """WITH r AS (SELECT l_returnflag, l_extendedprice,
      |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rnk,
      |    CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      |  FROM lineitem),
      |p AS (SELECT l_returnflag, l_extendedprice,
      |    CASE WHEN n = 1 THEN 0 ELSE ((rnk - 1) * 1000000) // (n - 1) END AS pr_ppm
      |  FROM r)
      |SELECT l_returnflag, least(pr_ppm // 100000, 9) AS decile,
      |  count(*) AS n_rows, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q150
  // k-anonymity audit (Audit.kAnonymity): group sizes under the
  // (nation, market-segment) quasi-identifier pair, the dataset's
  // anonymity level (min group size), and the share of rows in groups
  // below k=10 — re-identifiable by linkage through exactly those
  // columns. The structured-data privacy screen beside the free-text
  // PII tier (q52). One QI-keyed map-combined aggregation + a
  // group-table rollup to a single row; integer ppm.
  private val q150: Q = (s, dir) =>
    Audit.kAnonymity(Tables.customer(s, dir),
      Seq("c_nationkey", "c_mktsegment"), k = 10)

  private val q150Sql =
    """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY 1, 2)
      |SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_groups,
      |  min(n) AS k_anonymity,
      |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
      |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  (CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(n) AS BIGINT) AS risk_ppm
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q151
  // Incremental aggregate maintenance (Merge.summarize/mergeSummaries):
  // the (status, year) revenue rollup maintained as base-summary ⊕
  // delta-summary — pre-cutoff facts never rescanned — while the ORACLE
  // recomputes from ALL facts in one pass. Agreement PROVES
  // merge(summarize(A), summarize(B)) ≡ summarize(A ∪ B): the
  // self-decomposability that turns a 100 TB nightly rollup into one
  // delta scan + a summary-sized merge (q82's register-merge
  // discipline, for plain count/sum/min/max). The decimal sum keeps the
  // merge exact under any order; double only at presentation.
  private val q151: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val keys = Seq("o_orderstatus", "o_year")
    // MID-year cutoff: base and delta then SHARE every (status, 1997) key,
    // so the gate exercises mergeSummaries' combine arithmetic itself — a
    // year-boundary split would make the summaries key-disjoint and let a
    // broken merge (e.g. min-for-max) pass oracle-green on single rows.
    val cutoff = lit("1997-06-01").cast("timestamp")
    val base = Merge.summarize(
      o.filter(col("o_orderdate") < cutoff), keys, "o_totalprice")
    val delta = Merge.summarize(
      o.filter(col("o_orderdate") >= cutoff), keys, "o_totalprice")
    Merge.mergeSummaries(base, delta, keys)
      .select(col("o_orderstatus"), col("o_year"),
        col("n_rows"), col("sum_v").cast("double").as("sum_total"),
        col("min_v"), col("max_v"))
      .orderBy("o_orderstatus", "o_year")
  }

  private val q151Sql =
    """SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_total,
      |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q152
  // Interval overlap join (AsOfJoin.intervalOverlapJoin): open-order
  // 5-day windows × finished-order 3-day windows within the same
  // priority class — which in-flight orders ran CONCURRENTLY with which
  // completed ones. Spark has no interval join; the naive range
  // condition plans a nested loop (PlanSpec pins none here). The binned
  // form registers each interval in the 7-day cells its span touches,
  // meets candidates in a (priority, cell) HASH join, verifies overlap
  // row-locally, and emits each pair only from its first shared cell (a
  // row-local predicate — dedup without a distinct shuffle). The oracle
  // is METHOD-independent: DuckDB's own range join on the raw overlap
  // condition, no cells anywhere.
  private val q152: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val day = 24L * 3600 * 1000000
    val lhs = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"), col("o_orderkey").as("l_key"),
        col("o_orderdate").as("l_start"),
        (col("o_orderdate") + expr("make_interval(0, 0, 0, 5)")).as("l_end"))
    val rhs = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderpriority"), col("o_orderkey").as("r_key"),
        col("o_orderdate").as("r_start"),
        (col("o_orderdate") + expr("make_interval(0, 0, 0, 3)")).as("r_end"))
    AsOfJoin.intervalOverlapJoin(lhs, rhs, Seq("o_orderpriority"),
        "l_start", "l_end", "r_start", "r_end", binWidthUs = 7L * day)
      .groupBy(col("o_orderpriority"), col("l_key"))
      .agg(count(lit(1)).as("n_overlaps"), min(col("r_key")).as("first_match"))
      .orderBy("o_orderpriority", "l_key")
  }

  private val q152Sql =
    """WITH l AS (SELECT o_orderpriority, o_orderkey AS l_key,
      |    o_orderdate AS ls, o_orderdate + INTERVAL 5 DAY AS le
      |  FROM orders WHERE o_orderstatus = 'O'),
      |r AS (SELECT o_orderpriority, o_orderkey AS r_key,
      |    o_orderdate AS rs, o_orderdate + INTERVAL 3 DAY AS re
      |  FROM orders WHERE o_orderstatus = 'F')
      |SELECT l.o_orderpriority, l_key, count(*) AS n_overlaps,
      |  min(r_key) AS first_match
      |FROM l JOIN r ON l.o_orderpriority = r.o_orderpriority
      |  AND ls <= re AND rs <= le
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q153
  // Per-language dominant source (Rollup.groupMode): the "top category"
  // row of a profiling report — mode value, count, share in integer ppm,
  // and the distinct-value count beside it. Struct-max tie-break (count,
  // then larger value) keeps the election deterministic where SQL's
  // any-value mode is plan-dependent. Shuffle bounded by lang × source
  // cardinality.
  private val q153: Q = (s, dir) =>
    Rollup.groupMode(Tables.documents(s, dir), Seq("lang"), "source")
      .orderBy("lang")

  private val q153Sql =
    """WITH c AS (SELECT lang, source AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |m AS (SELECT lang, v, c,
      |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, v DESC) AS rn,
      |    sum(c) OVER (PARTITION BY lang) AS nr,
      |    count(*) OVER (PARTITION BY lang) AS nd
      |  FROM c)
      |SELECT lang, v AS mode_value, c AS mode_count,
      |  CAST(nr AS BIGINT) AS n_rows, CAST(nd AS BIGINT) AS n_distinct_values,
      |  (c * 1000000) // CAST(nr AS BIGINT) AS mode_share_ppm
      |FROM m WHERE rn = 1 ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q154
  // Run-length spectrum (Funnel.valueRuns): collapse each user's ordered
  // event stream into runs of consecutive equal event types
  // (gaps-and-islands, the row_number−row_number trick on ONE window
  // shuffle), then the per-type histogram of run lengths — how "bursty"
  // each event type is. The state-segment primitive whose run table
  // also feeds the interval join (q152).
  private val q154: Q = (s, dir) =>
    Funnel.valueRuns(
        // null order keys segment engine-dependently (Spark windows sort
        // NULLS FIRST, DuckDB NULLS LAST) — both engines exclude them
        Tables.events(s, dir).filter(col("ts").isNotNull),
        "user_id", "event_type", Seq("ts", "event_id"))
      .groupBy(col("event_type"), col("run_length"))
      .agg(count(lit(1)).as("n_runs"))
      .orderBy("event_type", "run_length")

  private val q154Sql =
    """WITH o AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rv
      |  FROM events WHERE ts IS NOT NULL),
      |runs AS (SELECT user_id, event_type, ra - rv AS grp, count(*) AS run_length
      |  FROM o GROUP BY 1, 2, 3)
      |SELECT event_type, run_length, count(*) AS n_runs
      |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q155
  // Traffic concentration (Diagnostics.topContributorShare): per event
  // type, the share of events its top-10 users account for, in integer
  // ppm — the power-user/monoculture screen that tunes per-contributor
  // caps (q102). The top-k election is the bounded TopKAgg aggregate (k
  // pairs per group cross the exchange, no row_number window); ties
  // break (count DESC, id ASC) — replayed exactly by the oracle's
  // row_number.
  private val q155: Q = (s, dir) =>
    Diagnostics.topContributorShare(
        // TopKAgg's election skips null ids while SQL row_number ranks the
        // null contributor by its count — both engines exclude nulls
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        Seq("event_type"), "user_id", k = 10)
      .orderBy("event_type")

  private val q155Sql =
    """WITH c AS (SELECT event_type, user_id, count(*) AS c
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY c DESC, user_id ASC) AS rn FROM c)
      |SELECT event_type, CAST(sum(c) AS BIGINT) AS n_rows,
      |  count(*) AS n_contributors,
      |  CAST(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT) AS topk_rows,
      |  (CAST(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(c) AS BIGINT) AS topk_share_ppm
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q156
  // l-diversity audit (Audit.lDiversity) — q150's companion: a
  // k-anonymous group still leaks when every member shares the
  // sensitive value (homogeneity attack), so per (nation, segment) QI
  // group count DISTINCT account-balance SIGNS (negative/zero/positive
  // as the sensitive attribute) and report the min and the rows in
  // groups below l=2. Shuffle bounded at (QI, sensitive) pair
  // cardinality — never a count_distinct fan over rows.
  private val q156: Q = (s, dir) =>
    Audit.lDiversity(
      Tables.customer(s, dir)
        .withColumn("bal_sign", signum(col("c_acctbal")).cast("int")),
      Seq("c_nationkey", "c_mktsegment"), "bal_sign", l = 2)

  private val q156Sql =
    """WITH p AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(sign(c_acctbal) AS INTEGER) AS s, count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3),
      |g AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(sum(n) AS BIGINT) AS rows_g, count(*) AS l
      |  FROM p GROUP BY 1, 2)
      |SELECT CAST(sum(rows_g) AS BIGINT) AS n_rows, count(*) AS n_groups,
      |  min(l) AS l_diversity,
      |  CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous_groups,
      |  CAST(sum(CASE WHEN l < 2 THEN rows_g ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  (CAST(sum(CASE WHEN l < 2 THEN rows_g ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(rows_g) AS BIGINT) AS risk_ppm
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q157
  // Weekday seasonality (Rollup.seasonalityProfile): per event type and
  // day-of-week, the count and the per-day-rate index in integer ppm
  // against the type's own average day — normalized by how many
  // calendar days of each weekday the data actually contains, so a
  // ragged observation window cannot fake seasonality. No double
  // anywhere: (c_dow·D·10⁶) div (c_tot·d_dow). Spark dayofweek ≡
  // DuckDB dayofweek+1 (both Sunday-based).
  private val q157: Q = (s, dir) =>
    Rollup.seasonalityProfile(Tables.events(s, dir), Seq("event_type"), "ts")
      .orderBy("event_type", "dow")

  private val q157Sql =
    """WITH b AS (SELECT event_type, date_trunc('day', ts) AS day,
      |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow
      |  FROM events WHERE ts IS NOT NULL),
      |cal AS (SELECT dow, count(*) AS days_of_dow FROM
      |  (SELECT DISTINCT day, dow FROM b) GROUP BY 1),
      |d AS (SELECT CAST(sum(days_of_dow) AS BIGINT) AS total_days FROM cal),
      |pd AS (SELECT event_type, dow, count(*) AS n_events FROM b GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS tot
      |  FROM pd GROUP BY 1)
      |SELECT pd.event_type, pd.dow, pd.n_events, cal.days_of_dow,
      |  (pd.n_events * d.total_days * 1000000) // (t.tot * cal.days_of_dow)
      |    AS index_ppm
      |FROM pd JOIN cal USING (dow) JOIN t ON t.event_type = pd.event_type, d
      |ORDER BY pd.event_type, pd.dow""".stripMargin

  // ---------------------------------------------------------------- q158
  // Header-vs-detail reconciliation (Audit.valueReconciliation): every
  // order's claimed total against the exact sum of its lineitem amounts,
  // rolled up per status — the value-level acceptance check beside the
  // FK/row-count audits (this synthetic star generates headers and lines
  // independently, so the report shows the full mismatch spectrum, which
  // is exactly what the audit is for). ALL arithmetic in integer units
  // of 10⁻⁴ (decimal·10⁴): no DECIMAL→DOUBLE conversion anywhere (the
  // round-5 past-2⁵³ lesson). The two delta sums accumulate in
  // DECIMAL(38,0) and PRESENT as guarded BIGINT — DECIMAL(38,0) finals
  // surface differently from DuckDB (float64) vs Spark (Decimal), so a
  // decimal output column can never hash-match cross-engine even when
  // values are bit-equal (the round-6 lesson; values fit 2^63 with
  // >10⁴× margin at any plausible per-status delta mass).
  private val q158: Q = (s, dir) =>
    Audit.valueReconciliation(
        Tables.orders(s, dir),
        Tables.lineitem(s, dir).select(
          col("l_orderkey").as("o_orderkey"), col("l_extendedprice")),
        Seq("o_orderkey"), "o_totalprice", "l_extendedprice")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("n_child_rows") === 0L, 1L).otherwise(0L)).as("n_no_items"),
        sum(when(col("delta_units") === 0, 1L).otherwise(0L)).as("n_exact_match"),
        sum(col("delta_units")).as("__sum_dec"),
        max(abs(col("delta_units"))).as("__max_dec"))
      .select(col("o_orderstatus"), col("n_orders"), col("n_no_items"),
        col("n_exact_match"),
        Diagnostics.presentBigint(
          col("__sum_dec").cast("decimal(38,0)"), "sum_delta_units"),
        Diagnostics.presentBigint(
          col("__max_dec").cast("decimal(38,0)"), "max_abs_delta_units"))
      .orderBy("o_orderstatus")

  private val q158Sql =
    """WITH cs AS (SELECT l_orderkey AS o_orderkey,
      |    count(*) AS nc,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(38,4)) * 10000 AS DECIMAL(38,0))) AS cu
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT o_orderstatus,
      |    coalesce(nc, 0) AS nc,
      |    coalesce(cu, CAST(0 AS DECIMAL(38,0))) AS cu,
      |    CAST(CAST(o_totalprice AS DECIMAL(38,4)) * 10000 AS DECIMAL(38,0)) AS pu
      |  FROM orders LEFT JOIN cs USING (o_orderkey))
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CASE WHEN nc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_no_items,
      |  CAST(sum(CASE WHEN pu = cu THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_match,
      |  CAST(sum(pu - cu) AS BIGINT) AS sum_delta_units,
      |  CAST(max(abs(pu - cu)) AS BIGINT) AS max_abs_delta_units
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q159
  // Entity-resolution CAPSTONE: FastSS deletion-neighborhood blocking
  // (q127) → per-field Fellegi–Sunter scoring (q136) → score ≥ 3800
  // match decision → connected-components clustering (q58's operator) →
  // per-entity cluster table with min-id survivor. Four library
  // operators composing in ONE lazy pipeline — the full
  // duplicate-customer-merge a warehouse actually runs. Every stage
  // keeps its own scale shape (key-join blocking, row-local scoring,
  // O(log n) star rounds), and the oracle replays ALL of it — deletion
  // keys, integer weights, threshold, transitive closure as a recursive
  // CTE — so the composition is value-checked end-to-end, not just its
  // parts.
  private val q159: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    def side(tag: String) = cust.select(
      col("c_custkey").as(s"__id$tag"), col("c_nationkey").as(s"nat_$tag"),
      col("c_mktsegment").as(s"seg_$tag"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as(s"bal_$tag"))
    val pairs = Dedup.editOnePairs(cust, "c_custkey", "c_name")
      .join(side("a"), col("id_a") === col("__ida")).drop("__ida")
      .join(side("b"), col("id_b") === col("__idb")).drop("__idb")
    val matches = Linkage.score(pairs, Seq(
        Linkage.FieldRule("name", col("dist") === 0, 4000L, 2500L),
        Linkage.FieldRule("nation", col("nat_a") === col("nat_b"), 1200L, -800L),
        Linkage.FieldRule("segment", col("seg_a") === col("seg_b"), 600L, -400L),
        Linkage.FieldRule("balance",
          abs(col("bal_a") - col("bal_b")) <= 10000L, 500L, -300L)))
      .filter(col("score") >= 3800L)
      .select(col("id_a"), col("id_b"))
    ConnectedComponents.clusterSizes(
        ConnectedComponents.components(matches, "id_a", "id_b"))
      .select(col("cluster"), col("n_members"))
      .orderBy("cluster")
  }

  private val q159Sql =
    """WITH RECURSIVE base AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      |keys AS (SELECT id, s, i,
      |  CASE WHEN i = 0 THEN s ELSE substr(s, 1, i-1) || substr(s, i+1) END AS k
      |  FROM base, unnest(range(0, length(s)+1)) AS t(i)),
      |keep AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= 1000),
      |pk AS (SELECT keys.id, keys.s, keys.i, keys.k FROM keys JOIN keep USING (k)),
      |cand AS (SELECT a.id AS id_a, b.id AS id_b,
      |    min(CASE WHEN a.i = 0 AND b.i = 0 THEN 0 ELSE 1 END) AS dist
      |  FROM pk a JOIN pk b ON a.k = b.k AND a.id < b.id
      |  WHERE a.i = b.i OR a.i = 0 OR b.i = 0
      |  GROUP BY a.id, b.id),
      |att AS (SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
      |m AS (SELECT c.id_a, c.id_b FROM cand c
      |  JOIN att x ON x.id = c.id_a JOIN att y ON y.id = c.id_b
      |  WHERE (CASE WHEN c.dist = 0 THEN 4000 ELSE 2500 END)
      |      + (CASE WHEN x.nat = y.nat THEN 1200 ELSE -800 END)
      |      + (CASE WHEN x.seg = y.seg THEN 600 ELSE -400 END)
      |      + (CASE WHEN abs(x.bal - y.bal) <= 10000 THEN 500 ELSE -300 END)
      |      >= 3800),
      |edges AS (SELECT id_a AS s, id_b AS d FROM m
      |          UNION SELECT id_b, id_a FROM m),
      |reach AS (SELECT s, d FROM edges
      |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
      |lbl AS (SELECT s AS node, least(min(d), s) AS cluster FROM reach GROUP BY s)
      |SELECT cluster, count(*) AS n_members FROM lbl GROUP BY 1
      |ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------- q160
  // Conversion-lag spectrum: how long converting users take between
  // funnel stages (first view → first subsequent click → first
  // subsequent purchase, q83's first-touch semantics), in the
  // power-of-two second bands of the q139 spectrum — bit-length
  // bucketing, no log, no double. The funnel reuses the user_id
  // partitioning end-to-end; the band rollup is transitions × ≤ ~40
  // buckets.
  private val q160: Q = (s, dir) => {
    val us = Funnel.userSteps(Tables.events(s, dir), "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"))
    us.select(explode(array(
        struct(lit("1_view_to_click").as("transition"),
          expr("(unix_micros(t2) - unix_micros(t1)) div 1000000").as("lag_s")),
        struct(lit("2_click_to_purchase").as("transition"),
          expr("(unix_micros(t3) - unix_micros(t2)) div 1000000").as("lag_s")))).as("r"))
      .select(col("r.transition"), col("r.lag_s"))
      .filter(col("lag_s").isNotNull)
      .withColumn("bucket", Diagnostics.powerBucket(col("lag_s")))
      .groupBy(col("transition"), col("bucket"))
      .agg(count(lit(1)).as("n_lags"))
      .withColumn("lag_lo_s", Diagnostics.powerBucketLo(col("bucket")))
      .withColumn("lag_hi_s", Diagnostics.powerBucketHi(col("bucket")))
      .orderBy("transition", "bucket")
  }

  private val q160Sql =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id),
      |l AS (SELECT '1_view_to_click' AS transition,
      |    (epoch_us(CAST(t_click AS TIMESTAMP))
      |     - epoch_us(CAST(t_view AS TIMESTAMP))) // 1000000 AS lag_s
      |  FROM c JOIN v USING (user_id)
      |  UNION ALL SELECT '2_click_to_purchase',
      |    (epoch_us(CAST(t_purchase AS TIMESTAMP))
      |     - epoch_us(CAST(t_click AS TIMESTAMP))) // 1000000
      |  FROM p JOIN c USING (user_id)),
      |g AS (SELECT transition,
      |    CASE WHEN lag_s <= 0 THEN 0 ELSE length(bin(lag_s)) END AS bucket
      |  FROM l)
      |SELECT transition, CAST(bucket AS INT) AS bucket, count(*) AS n_lags,
      |  CAST(CASE WHEN bucket = 0 THEN 0
      |       ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT) AS lag_lo_s,
      |  CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT) AS lag_hi_s
      |FROM g GROUP BY transition, bucket ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q161
  // Ship-lag SLA audit: days from order date to each lineitem's ship
  // date, per order priority — item counts, bounds, the exact mean in
  // milli-days ((Σlag·1000) div n — no double), and how many items blew
  // a 90-day SLA. Calendar-day difference (both engines diff the DATE
  // casts); one broadcast-dimension-free fact join on the order key the
  // tables are already spread on.
  private val q161: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        min(col("lag_days")).as("min_lag_days"),
        max(col("lag_days")).as("max_lag_days"),
        expr("(sum(lag_days) * 1000) div count(1)").as("mean_lag_millidays"),
        sum(when(col("lag_days") > 90L, 1L).otherwise(0L)).as("n_over_90d"))
      .orderBy("o_orderpriority")

  private val q161Sql =
    """WITH j AS (SELECT o_orderpriority,
      |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |                   CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT o_orderpriority, count(*) AS n_items,
      |  min(lag_days) AS min_lag_days, max(lag_days) AS max_lag_days,
      |  (CAST(sum(lag_days) AS BIGINT) * 1000) // count(*) AS mean_lag_millidays,
      |  CAST(sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_90d
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q162
  // §2.12 streaming leaderboard, batch twin (StreamingLeaders
  // .topKLeaders): per event type, the 3 highest-value events — the SAME
  // bounded TopKAgg aggregation the live leaderboard runs in update mode
  // (k pairs of state per group, re-emitted as leaders change;
  // StreamingSpec drives the streaming path), executed here in batch for
  // driver-level regression cover, the q91-q96 move. Ties break
  // (ord DESC, id ASC) — replayed by the oracle's row_number.
  private val q162: Q = (s, dir) =>
    graft.streaming.StreamingLeaders.topKLeaders(
        Tables.events(s, dir).filter(col("value").isNotNull),
        Seq("event_type"), col("value"), col("event_id"), k = 3)
      .orderBy("event_type", "rnk")

  private val q162Sql =
    """WITH r AS (SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id ASC) AS rn
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type, CAST(rn AS BIGINT) AS rnk, value AS ord,
      |  event_id AS id
      |FROM r WHERE rn <= 3 ORDER BY event_type, rnk""".stripMargin

  // ---------------------------------------------------------------- q163
  // Cross-tab composition audit: the lang × source contingency table
  // with every share in integer ppm — within-row (how a language's docs
  // split across sources), within-column (how a source splits across
  // languages), and of-total — the dataset-card mixture table and the
  // input an independence screen reads (a row_ppm far from the source's
  // overall share marks a lang/source interaction). Window sums over
  // the cell table (|langs|×|sources| rows) — the fact table shuffles
  // once into cells, everything after is cell-cardinality-sized. ppm by
  // integer div, no doubles.
  private val q163: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__row", sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
      .withColumn("__col", sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      .withColumn("__tot", sum(col("n_docs")).over(Window.partitionBy()))
      .select(col("lang"), col("source"), col("n_docs"),
        expr("(n_docs * 1000000) div __row").as("row_ppm"),
        expr("(n_docs * 1000000) div __col").as("col_ppm"),
        expr("(n_docs * 1000000) div __tot").as("total_ppm"))
      .orderBy("lang", "source")
  }

  private val q163Sql =
    """WITH c AS (SELECT lang, source, count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, source, n_docs,
      |  CAST((n_docs * 1000000) // sum(n_docs) OVER (PARTITION BY lang)
      |    AS BIGINT) AS row_ppm,
      |  CAST((n_docs * 1000000) // sum(n_docs) OVER (PARTITION BY source)
      |    AS BIGINT) AS col_ppm,
      |  CAST((n_docs * 1000000) // sum(n_docs) OVER () AS BIGINT) AS total_ppm
      |FROM c ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q164
  // §2.12 executed through the REAL streaming engine: readStream file
  // source over events.parquet → watermarked tumbling window → complete-
  // mode checkpointed sink run to completion (Trigger.AvailableNow).
  // Same oracle as the batch twin q38 — complete mode withholds nothing
  // at end-of-stream, so the file-source → checkpoint → state-store path
  // is VALUE-checked, not just rows-counted. Closes the last spec-vs-gate
  // gap: q38 proves the aggregation, q91–q94 prove stateful operators in
  // batch mode, this proves the engine plumbing end-to-end.
  private val q164: Q = (s, dir) =>
    graft.streaming.StreamingRollup
      .hourlyWindowFileStream(s, s"$dir/events.parquet")
      .orderBy("hour", "event_type")

  private val q164Sql = q38Sql

  // ---------------------------------------------------------------- q165
  // LSH recall CERTIFICATE: measure q43's MinHash-LSH candidate generator
  // against the EXACT prefix-filter join on the same similarity space
  // (3-token-shingle Jaccard ≥ 7/10) — the completeness audit that turns
  // "LSH probably finds the near-dups" into a number (recall_ppm) a
  // dataset card can print. The theoretical floor for 16 hashes / 2 rows
  // per band at J = 0.7 is 1−(1−0.49)⁸ ≈ 99.5%; this measures the real
  // corpus. BOTH inputs are evaluated exactly once: a full-outer join on
  // the pair key feeds one aggregation where n_true / n_cand / n_hits
  // are the non-null side counts (a left join would need a second pass
  // over candidates for n_cand — the expensive legs here are the inputs,
  // not the output-sized join). At scale you'd run this on a sampled
  // stratum (the q122 ANN-recall pattern); the operators compose
  // identically.
  private val q165: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val truth = Dedup
      .prefixFilterJaccardJoin(docs, "doc_id", "text", 7, 10, shingleK = 3,
        maxPairsPerEntry = 32L) // q141's always-on scale-relative guard
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__true"))
    val cand = Dedup
      .minHashLshPairs(docs, "doc_id", "text", k = 3, numHashes = 16, rowsPerBand = 2)
      .withColumn("__cand", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(col("__true")), lit(0L)).as("n_true"),
        coalesce(sum(col("__cand")), lit(0L)).as("n_cand"),
        coalesce(sum(col("__true") * col("__cand")), lit(0L)).as("n_hits"))
      .select(col("n_true"), col("n_cand"), col("n_hits"),
        expr("CASE WHEN n_true = 0 THEN 1000000 " +
          "ELSE (n_hits * 1000000) div n_true END").as("recall_ppm"))
  }

  private val q165Sql =
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |tk3 AS (SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |sh3 AS (SELECT doc_id, list_distinct(
       |    CASE WHEN len(t) < 3 THEN []
       |         ELSE list_transform(range(0, len(t) - 2),
       |                i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS s
       |  FROM tk3),
       |sz3 AS (SELECT doc_id, len(s) AS n FROM sh3 WHERE len(s) > 0),
       |ex3 AS (SELECT doc_id, unnest(s) AS tok FROM sh3),
       |shr3 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM ex3 a JOIN ex3 b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (SELECT s.doc_a, s.doc_b FROM shr3 s
       |  JOIN sz3 na ON na.doc_id = s.doc_a
       |  JOIN sz3 nb ON nb.doc_id = s.doc_b
       |  WHERE s.n_inter * 10 >= (na.n + nb.n - s.n_inter) * 7)
       |SELECT CAST(t.n AS BIGINT) AS n_true, CAST(c.n AS BIGINT) AS n_cand,
       |  CAST(h.n AS BIGINT) AS n_hits,
       |  CAST(CASE WHEN t.n = 0 THEN 1000000
       |    ELSE (h.n * 1000000) // t.n END AS BIGINT) AS recall_ppm
       |FROM (SELECT count(*) AS n FROM truth) t,
       |     (SELECT count(*) AS n FROM cand) c,
       |     (SELECT count(*) AS n FROM truth JOIN cand USING (doc_a, doc_b)) h""".stripMargin

  // ---------------------------------------------------------------- q166
  // Spark's BUILT-IN `session_window` operator, batch-executed and
  // VALUE-checked: 30-minute-gap sessions per user with the engine's own
  // session-merge operator (the watermark-managed streaming path's exact
  // aggregation — q33 checks the lag+flag formulation, this checks the
  // native operator the streaming quartet rides). Boundary semantics
  // differ from q33 ON PURPOSE: session windows are [start, end)
  // end-EXCLUSIVE, so an event landing exactly gap after its predecessor
  // starts a NEW session — the oracle breaks on `>= gap` where q33's lag
  // form breaks on `> gap`. session_end = last event + gap by definition.
  private val q166: Q = (s, dir) =>
    graft.streaming.StreamingRollup
      .sessionWindow(Tables.events(s, dir), "ts", Seq("user_id"), "30 minutes")
      .orderBy("user_id", "session_start")

  private val q166Sql =
    """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |m AS (SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |        >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM o),
      |g AS (SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id,
      |  CAST(min(ts) AS TIMESTAMP) AS session_start,
      |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q167
  // Cross-source duplication matrix: for every unordered source pair,
  // how many EXACT near-dup pairs (3-shingle Jaccard ≥ 7/10, the q141
  // operator) straddle or sit inside it, and how many distinct documents
  // are involved — the "how much of source A is recycled in source B"
  // table that decides which source to drop when curating a mixture
  // (within-source rows measure internal redundancy on the same scale).
  // The pair set is evaluated ONCE: sources label the pair table (two
  // id-keyed joins, pair-table-sized), then a 2-row explode feeds a
  // single aggregation where n_pairs = count div 2 exactly (each pair
  // contributes both endpoints) and n_docs is the distinct endpoint
  // count. Everything after the simjoin is output-sized.
  private val q167: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    def side(tag: String) = docs.select(
      col("doc_id").as(s"doc_$tag"), col("source").as(s"__src_$tag"))
    Dedup.prefixFilterJaccardJoin(docs, "doc_id", "text", 7, 10, shingleK = 3,
        maxPairsPerEntry = 32L) // q141's always-on scale-relative guard
      .join(side("a"), Seq("doc_a"))
      .join(side("b"), Seq("doc_b"))
      .select(
        least(col("__src_a"), col("__src_b")).as("source_x"),
        greatest(col("__src_a"), col("__src_b")).as("source_y"),
        explode(array(col("doc_a"), col("doc_b"))).as("__d"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(expr("count(*) div 2").as("n_pairs"),
        countDistinct(col("__d")).as("n_docs"))
      .orderBy("source_x", "source_y")
  }

  private val q167Sql =
    """WITH tk3 AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |sh3 AS (SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) < 3 THEN []
      |         ELSE list_transform(range(0, len(t) - 2),
      |                i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS s
      |  FROM tk3),
      |sz3 AS (SELECT doc_id, len(s) AS n FROM sh3 WHERE len(s) > 0),
      |ex3 AS (SELECT doc_id, unnest(s) AS tok FROM sh3),
      |shr3 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM ex3 a JOIN ex3 b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (SELECT s.doc_a, s.doc_b FROM shr3 s
      |  JOIN sz3 na ON na.doc_id = s.doc_a
      |  JOIN sz3 nb ON nb.doc_id = s.doc_b
      |  WHERE s.n_inter * 10 >= (na.n + nb.n - s.n_inter) * 7),
      |lab AS (SELECT least(sa.source, sb.source) AS source_x,
      |    greatest(sa.source, sb.source) AS source_y, t.doc_a, t.doc_b
      |  FROM truth t
      |  JOIN documents sa ON sa.doc_id = t.doc_a
      |  JOIN documents sb ON sb.doc_id = t.doc_b),
      |ex2 AS (SELECT source_x, source_y, unnest([doc_a, doc_b]) AS d FROM lab)
      |SELECT source_x, source_y,
      |  CAST(count(*) // 2 AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      |FROM ex2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q168
  // REAL image-codec round-trip, VALUE-oracled without the oracle ever
  // decoding an image (Multimodal.codecRoundTrip): each doc_id expands
  // deterministically to 8×8×3 channel bytes (mix64(id·192+i) & 255),
  // Spark builds the real PNG, encodes and DECODES it through
  // javax.imageio, and reports decoded dims + exact channel sum; DuckDB
  // independently sums the same synthetic bytes (the splitmix64 replay).
  // PNG is lossless, so any codec/stride/channel bug breaks the hash.
  // Row-local mapPartitions, no shuffle — the q31 plumbing with the codec
  // made load-bearing.
  private val q168: Q = (s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.codecRoundTrip(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long], 8, 8)
      .toDF()
      .orderBy("doc_id")
  }

  private val q168Sql = {
    val mh = DuckHash.mix64Inline("CAST(doc_id * 192 + i AS UBIGINT)")
    s"""SELECT doc_id,
       |  CAST(8 AS BIGINT) AS decoded_w, CAST(8 AS BIGINT) AS decoded_h,
       |  CAST(sum(($mh) & 255) AS BIGINT) AS pixel_sum
       |FROM (SELECT doc_id, unnest(range(0, 192)) AS i FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q169
  // Deterministic hard-negative mining (Similarity.hardNegatives): every
  // vector samples k=4 arithmetic pseudo-random negatives
  // (mix64(id·k+j) mod_u64 (N−1), skip-self) and keeps the most similar —
  // the contrastive-training pair-construction step, reproducible across
  // runs/layouts/engines because the sample is pure integer arithmetic
  // and the cosine is the exact-decimal q28 form. The oracle replays the
  // u64 mod (true unsigned %, the cross-engine trap pmod fails), the
  // skip-self map, the exact cosine, and the argmax.
  private val q169: Q = (s, dir) =>
    Similarity.hardNegatives(Tables.embeddings(s, dir), "vec_id", "embedding", k = 4)
      .orderBy("vec_id")

  private val q169Sql = {
    val mh = DuckHash.mix64Inline("CAST(vec_id * 4 + j AS UBIGINT)")
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       |js AS (SELECT vec_id, unnest(range(0, 4)) AS j FROM embeddings),
       |cand AS (SELECT DISTINCT vec_id,
       |    CASE WHEN m >= vec_id THEN m + 1 ELSE m END AS neg_id
       |  FROM (SELECT vec_id,
       |      CAST(($mh) % CAST((SELECT n FROM nn) - 1 AS UBIGINT) AS BIGINT) AS m
       |    FROM js)),
       |p AS (SELECT c.vec_id, c.neg_id,
       |    unnest(a.embedding) AS ae, unnest(b.embedding) AS be
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.vec_id
       |  JOIN embeddings b ON b.vec_id = c.neg_id),
       |d AS (SELECT vec_id, neg_id,
       |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))
       |    * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
       |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))
       |    * CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS na,
       |  CAST(sum(CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))
       |    * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nb
       |  FROM p GROUP BY 1, 2),
       |s AS (SELECT vec_id, neg_id, dot/sqrt(na*nb) AS cosine FROM d),
       |r AS (SELECT vec_id, neg_id, cosine,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neg_id) AS rn,
       |    count(*) OVER (PARTITION BY vec_id) AS n_cand
       |  FROM s)
       |SELECT vec_id, neg_id AS hard_neg_id, cosine,
       |  CAST(n_cand AS BIGINT) AS n_cand
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q170
  // Dataset-build CAPSTONE: the data-prep side's q159 — raw corpus →
  // exact-dedup survivors (min-id per normalized-md5 group) → quality
  // gate (score ≥ 0.5) → token counting → deterministic shard assignment
  // → per-shard export manifest (docs, token mass, source diversity, id
  // range). Four library operators composing in ONE lazy plan: the
  // "make a training dataset" pipeline a user actually ships, each stage
  // keeping its scale shape (dedup = one md5-keyed shuffle; gate + tokens
  // + shard = map-only on the scan; manifest = 8-row rollup). The oracle
  // replays ALL of it — md5 normalization, the quality formula (the same
  // shared SQL fragments as q22/q73, so the oracles cannot drift), the
  // splitmix64 shard — so the composition is value-checked end-to-end.
  private val q170: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val survivors = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    val gated = survivors
      .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.operators.Packing.withShard(gated, "doc_id", 8)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")
  }

  private val q170Sql = {
    import DuckHash._
    val shard = s"(((${signed("mh")}) % 8) + 8) % 8"
    s"""WITH keep AS (SELECT min(doc_id) AS doc_id
       |  FROM documents
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |surv AS (SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN keep USING (doc_id)),
       |gated AS (SELECT doc_id, source,
       |    CAST($duckNTokens AS BIGINT) AS n_tokens
       |  FROM surv WHERE ($duckQualityScore) >= 0.5),
       |mx0 AS (SELECT doc_id, source, n_tokens,
       |    CAST(doc_id AS UBIGINT) AS sx FROM gated),
       |${mix64Ctes("sx")},
       |sh AS (SELECT doc_id, source, n_tokens,
       |    CAST($shard AS BIGINT) AS shard FROM mx4)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
  }

  // ---------------------------------------------------------------- q171
  // Spatial containment, BROADCAST tier (Spatial.containsJoin, §2.6 J5 —
  // the reference's PostGIS GiST capability, driver-gate visible at last):
  // deterministic diamond tiles (some with concentric holes) synthesized
  // from nation ids, hash-placed customer points, even-odd containment,
  // plus the §2.10 envelope surface (boundsString / envelopeWkt) on the
  // same tiles. The oracle REBUILDS the identical geometry from mix64
  // arithmetic (SyntheticGeo's contract: every coordinate is exact binary)
  // and replays the even-odd crossing test edge-by-edge — the containment
  // DECISIONS are value-checked, not just counted, because sum_pt_ids
  // fingerprints exactly WHICH points each tile contains. Diamonds keep
  // every edge slanted (the general crossing test, never just the bounds
  // box); hole tiles prove multi-ring parity. Map-only: 25 tiles broadcast,
  // points never shuffle until the tile-keyed rollup.
  private val q171: Q = (s, dir) => {
    val tiles = SyntheticGeo.tilePolygons(Tables.nation(s, dir), "n_nationkey")
    val pts = SyntheticGeo.hashPoints(Tables.customer(s, dir), "c_custkey")
    val contained = Spatial.containsJoin(pts, tiles, "x", "y", "coords")
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("n_pts"), sum(col("point_id")).as("sum_pt_ids"))
    tiles
      .withColumn("__b", GeoFunctions.polygonBounds(col("coords")))
      .join(contained, Seq("tile_id"), "left")
      .select(col("tile_id"),
        coalesce(col("n_pts"), lit(0L)).as("n_pts"),
        coalesce(col("sum_pt_ids"), lit(0L)).as("sum_pt_ids"),
        GeoFunctions.boundsString(col("__b")).as("bounds_str"),
        GeoFunctions.envelopeWkt(col("__b")).as("envelope_wkt"))
      .orderBy("tile_id")
  }

  /** Tile + ring-edge CTEs shared by q171/q172: the SyntheticGeo diamond
    * grid rebuilt in DuckDB from the same mix64 arithmetic, ending in
    * `edges(tile_id, xi, yi, xj, yj)` — one row per directed ring edge
    * (vertex i ← its predecessor), holes included. */
  private val geoTileCtes: String = {
    import DuckHash._
    s"""mx0 AS (SELECT n_nationkey, CAST(n_nationkey AS UBIGINT) AS sx FROM nation),
       |${mix64Ctes("sx")},
       |tiles AS (SELECT CAST(n_nationkey AS BIGINT) AS tile_id,
       |    CAST((n_nationkey % 5) * 20 + 10 AS DOUBLE) AS cx,
       |    CAST(((n_nationkey // 5) % 5) * 20 + 10 AS DOUBLE) AS cy,
       |    CAST((mh & 3) + 6 AS DOUBLE) AS r,
       |    CAST(((mh & 3) + 6) // 2 AS DOUBLE) AS hr,
       |    (mh & 4) <> 0 AS hole
       |  FROM mx4),
       |rings AS (SELECT tile_id, cx, cy, r AS rr FROM tiles
       |  UNION ALL SELECT tile_id, cx, cy, hr FROM tiles WHERE hole),
       |edges AS (SELECT tile_id,
       |    CASE i WHEN 0 THEN cx - rr WHEN 1 THEN cx WHEN 2 THEN cx + rr ELSE cx END AS xi,
       |    CASE i WHEN 0 THEN cy WHEN 1 THEN cy - rr WHEN 2 THEN cy ELSE cy + rr END AS yi,
       |    CASE (i + 3) % 4 WHEN 0 THEN cx - rr WHEN 1 THEN cx WHEN 2 THEN cx + rr ELSE cx END AS xj,
       |    CASE (i + 3) % 4 WHEN 0 THEN cy WHEN 1 THEN cy - rr WHEN 2 THEN cy ELSE cy + rr END AS yj
       |  FROM rings, unnest(range(0, 4)) AS t(i))""".stripMargin
  }

  /** Hash-point + even-odd containment CTEs shared by q171/q172, ending in
    * `agg(tile_id, n_pts, sum_pt_ids)`. The HAVING counts ray crossings
    * over ALL ring edges (crossing parity over outer ∪ holes is exactly
    * the even-odd rule Spatial.pointInRings implements) with the SAME
    * IEEE expression tree as the Scala kernel, so boundary-grazing points
    * decide identically on both engines. */
  private def geoContainCtes(table: String, idCol: String): String = {
    import DuckHash._
    s"""px0 AS (SELECT $idCol, CAST($idCol AS UBIGINT) AS gx FROM $table),
       |${mix64Ctes("gx", "px")},
       |pts AS (SELECT CAST($idCol AS BIGINT) AS point_id,
       |    CAST(mh & 16383 AS DOUBLE) * 100.0 / 16384.0 AS x,
       |    CAST((mh >> 20) & 16383 AS DOUBLE) * 100.0 / 16384.0 AS y
       |  FROM px4),
       |inside AS (SELECT p.point_id, e.tile_id
       |  FROM pts p, edges e
       |  GROUP BY p.point_id, e.tile_id
       |  HAVING count(*) FILTER (WHERE ((e.yi > p.y) <> (e.yj > p.y))
       |      AND p.x < (e.xj - e.xi) * (p.y - e.yi) / (e.yj - e.yi) + e.xi) % 2 = 1),
       |agg AS (SELECT tile_id, count(*) AS n_pts,
       |    CAST(sum(point_id) AS BIGINT) AS sum_pt_ids
       |  FROM inside GROUP BY tile_id)""".stripMargin
  }

  private val q171Sql =
    s"""WITH $geoTileCtes,
       |${geoContainCtes("customer", "c_custkey")}
       |SELECT t.tile_id,
       |  coalesce(a.n_pts, 0) AS n_pts,
       |  coalesce(a.sum_pt_ids, 0) AS sum_pt_ids,
       |  CAST(cx - r AS VARCHAR) || ',' || CAST(cy - r AS VARCHAR) || ',' ||
       |    CAST(cx + r AS VARCHAR) || ',' || CAST(cy + r AS VARCHAR) AS bounds_str,
       |  'POLYGON((' ||
       |    CAST(cx - r AS VARCHAR) || ' ' || CAST(cy - r AS VARCHAR) || ', ' ||
       |    CAST(cx + r AS VARCHAR) || ' ' || CAST(cy - r AS VARCHAR) || ', ' ||
       |    CAST(cx + r AS VARCHAR) || ' ' || CAST(cy + r AS VARCHAR) || ', ' ||
       |    CAST(cx - r AS VARCHAR) || ' ' || CAST(cy + r AS VARCHAR) || ', ' ||
       |    CAST(cx - r AS VARCHAR) || ' ' || CAST(cy - r AS VARCHAR) || '))' AS envelope_wkt
       |FROM tiles t LEFT JOIN agg a USING (tile_id)
       |ORDER BY tile_id""".stripMargin

  // ---------------------------------------------------------------- q172
  // Spatial containment, BUCKETED (big-big) tier: the SAME even-odd
  // semantics as q171 through Spatial.bucketedContainsJoin — polygons
  // exploded to the fixed-grid buckets their envelopes cover, points
  // equi-joined on their single bucket (one hash shuffle, never the cross
  // product; the shape that survives 100 TB where nothing broadcasts).
  // cellSize 8 deliberately misaligns with the 20-unit tile grid so
  // envelopes straddle 2-3 buckets per axis and the dedup-free
  // exactly-once meeting property is actually exercised. Same oracle
  // construction as q171 over the orders points — tier-independence: two
  // physical strategies, one value-checked answer.
  private val q172: Q = (s, dir) => {
    val tiles = SyntheticGeo.tilePolygons(Tables.nation(s, dir), "n_nationkey")
    val pts = SyntheticGeo.hashPoints(Tables.orders(s, dir), "o_orderkey")
    val contained = Spatial
      .bucketedContainsJoin(pts, tiles, "x", "y", "coords", cellSize = 8.0)
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("n_pts"), sum(col("point_id")).as("sum_pt_ids"))
    tiles.select(col("tile_id"))
      .join(contained, Seq("tile_id"), "left")
      .select(col("tile_id"),
        coalesce(col("n_pts"), lit(0L)).as("n_pts"),
        coalesce(col("sum_pt_ids"), lit(0L)).as("sum_pt_ids"))
      .orderBy("tile_id")
  }

  private val q172Sql =
    s"""WITH $geoTileCtes,
       |${geoContainCtes("orders", "o_orderkey")}
       |SELECT t.tile_id,
       |  coalesce(a.n_pts, 0) AS n_pts,
       |  coalesce(a.sum_pt_ids, 0) AS sum_pt_ids
       |FROM tiles t LEFT JOIN agg a USING (tile_id)
       |ORDER BY tile_id""".stripMargin

  // ---------------------------------------------------------------- q173
  // CRS reprojection in the gate (§2.10 G1, reference src/etl.py:34-35):
  // a deterministic 5×5 lon/lat grid over UTM zone 32N (8–10°E, 44–46°N)
  // through GeoFunctions.wgs84ToUtm32n, presented as integer MILLIMETRES.
  // The oracle replays the Snyder transverse-Mercator series in DuckDB SQL
  // with the projection's exact double constants embedded as shortest-repr
  // literals and the identical IEEE operation tree (explicit power
  // products, no libm pow) — elementary-function ulp drift is 9+ orders of
  // magnitude below the mm presentation, so the hash is tolerance-free.
  // Upgrades G1's correctness evidence from one driver-side Duomo golden
  // to 25 cross-engine value checks.
  private val q173: Q = (s, dir) =>
    Tables.nation(s, dir)
      .select(
        col("n_nationkey").cast("long").as("grid_id"),
        (lit(8.0) + expr("n_nationkey % 5").cast("double") * 0.5).as("lon"),
        (lit(44.0) + expr("n_nationkey div 5").cast("double") * 0.5).as("lat"))
      .withColumn("__p", GeoFunctions.reprojectPointUdf(col("lon"), col("lat")))
      .select(col("grid_id"),
        expr("CAST(round(lon * 1000.0) AS BIGINT)").as("lon_milli"),
        expr("CAST(round(lat * 1000.0) AS BIGINT)").as("lat_milli"),
        expr("CAST(round(__p._1 * 1000.0) AS BIGINT)").as("easting_mm"),
        expr("CAST(round(__p._2 * 1000.0) AS BIGINT)").as("northing_mm"))
      .orderBy("grid_id")

  /** CTE chain replaying `GeoFunctions.wgs84ToUtm32n` in DuckDB SQL over
    * an input CTE exposing `lon`/`lat` degrees (every other column flows
    * through `SELECT *`): appends `<p>0..<p>5` and `<p>xy`, the last
    * adding `x` (easting m) and `y` (northing m). Constants are the
    * projection's exact doubles as shortest-repr literals and the
    * operation tree matches the Scala kernel exactly (explicit power
    * products, no libm pow) — see q173's comment. Shared by q173 (point
    * grid) and q178 (GeoJSON polygon vertices). */
  private def utmSeriesCtes(src: String, p: String = "utm"): String = {
    // Shortest-repr double literals round-trip to identical bits in DuckDB.
    def d(v: Double) = v.toString
    val pi = d(math.Pi)
    val (aa, k0, e2, ep2, lon0, fe) = (d(GeoFunctions.A), d(GeoFunctions.K0),
      d(GeoFunctions.E2), d(GeoFunctions.EP2), d(GeoFunctions.Lon0),
      d(GeoFunctions.FalseEasting))
    val (m0, m2, m4, m6) = (d(GeoFunctions.M0), d(GeoFunctions.M2),
      d(GeoFunctions.M4), d(GeoFunctions.M6))
    s"""${p}0 AS (SELECT *, lat / 180.0 * $pi AS phi, lon / 180.0 * $pi AS lam FROM $src),
       |${p}1 AS (SELECT *, sin(phi) AS sphi, cos(phi) AS cphi, tan(phi) AS tphi FROM ${p}0),
       |${p}2 AS (SELECT *,
       |    $aa / sqrt(1.0 - $e2 * sphi * sphi) AS nn,
       |    tphi * tphi AS tt,
       |    $ep2 * cphi * cphi AS cc,
       |    cphi * (lam - $lon0) AS a0 FROM ${p}1),
       |${p}3 AS (SELECT *, a0 * a0 AS a2 FROM ${p}2),
       |${p}4 AS (SELECT *, a2 * a0 AS a3, a2 * a2 AS a4 FROM ${p}3),
       |${p}5 AS (SELECT *, a4 * a0 AS a5, a4 * a2 AS a6,
       |    $aa * ($m0 * phi - $m2 * sin(2.0 * phi)
       |      + $m4 * sin(4.0 * phi) - $m6 * sin(6.0 * phi)) AS mm
       |  FROM ${p}4),
       |${p}xy AS (SELECT *,
       |    $k0 * nn * (a0 + (1.0 - tt + cc) * a3 / 6.0
       |      + (5.0 - 18.0 * tt + tt * tt + 72.0 * cc - 58.0 * $ep2) * a5 / 120.0)
       |      + $fe AS x,
       |    $k0 * (mm + nn * tphi * (a2 / 2.0
       |      + (5.0 - tt + 9.0 * cc + 4.0 * cc * cc) * a4 / 24.0
       |      + (61.0 - 58.0 * tt + tt * tt + 600.0 * cc - 330.0 * $ep2) * a6 / 720.0)) AS y
       |  FROM ${p}5)""".stripMargin
  }

  private val q173Sql =
    s"""WITH g AS (SELECT CAST(n_nationkey AS BIGINT) AS grid_id,
       |    8.0 + CAST(n_nationkey % 5 AS DOUBLE) * 0.5 AS lon,
       |    44.0 + CAST(n_nationkey // 5 AS DOUBLE) * 0.5 AS lat
       |  FROM nation),
       |${utmSeriesCtes("g")}
       |SELECT grid_id,
       |  CAST(round(lon * 1000.0) AS BIGINT) AS lon_milli,
       |  CAST(round(lat * 1000.0) AS BIGINT) AS lat_milli,
       |  CAST(round(x * 1000.0) AS BIGINT) AS easting_mm,
       |  CAST(round(y * 1000.0) AS BIGINT) AS northing_mm
       |FROM utmxy ORDER BY grid_id""".stripMargin

  // ---------------------------------------------------------------- q174
  // CUSTOM STATE through the REAL streaming engine (the q164 move applied
  // to flatMapGroupsWithState): readStream file source → watermark →
  // StreamingSessionize's state-store fold with EVENT-TIME TIMEOUT →
  // checkpointed append-mode sink, run to completion. This is the one
  // streaming path q164 leaves unproven — user-defined state (de)serial-
  // ization through the state store and watermark-driven timeout eviction.
  // The oracle replays the engine's emission rule exactly: in-data-gap
  // sessions (q91's set) PLUS each user's final session iff its timeout
  // deadline — ceil_ms(last event μs) + gap — sits STRICTLY below the
  // drained watermark, floor_ms(global max event μs) − 0 delay. Both μs→ms
  // roundings and the strict compare are Spark's own
  // (GroupStateImpl.setTimeoutTimestamp; EventTimeStatsAccum floors to ms;
  // FlatMapGroupsWithStateExec evicts on `timeout < watermark`) — a
  // tolerance-free cross-engine check of timeout semantics.
  private val q174: Q = (s, dir) =>
    graft.streaming.StreamingSessionize
      .sessionsFileStream(s, s"$dir/events.parquet")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  private val q174Sql =
    """WITH t AS (
      |  SELECT user_id, ts, "value",
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, "value")),
      |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, "value"
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM t),
      |g AS (SELECT user_id, sid, CAST(min(ts) AS TIMESTAMP) AS session_start,
      |        CAST(max(ts) AS TIMESTAMP) AS session_end, count(*) AS n_events,
      |        max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      |      FROM s GROUP BY user_id, sid),
      |last AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY user_id),
      |wm AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 AS wm_ms FROM events)
      |SELECT g.user_id, g.session_start, g.session_end, g.n_events
      |FROM g JOIN last l ON g.user_id = l.user_id CROSS JOIN wm
      |WHERE g.sid < l.last_sid
      |   OR (g.last_us + 999) // 1000 + 1800000 < wm.wm_ms
      |ORDER BY g.user_id, g.session_start""".stripMargin

  // ---------------------------------------------------------------- q175
  // REAL audio-codec round-trip (Multimodal.audioRoundTrip) — q168's WAV
  // sibling, retiring the audio stub: each doc_id expands deterministically
  // to 256 signed 16-bit samples ((mix64(id·256+i) & 0xFFFF) − 32768),
  // Spark writes a real mono WAV through javax.sound.sampled, DECODES it
  // back, and reports decoded sample/channel counts + the exact sample
  // sum; DuckDB independently sums the same synthetic samples without any
  // audio library. PCM is lossless, so a byte-order flip, header-length
  // bug, dropped sample, or signedness error all break the hash.
  private val q175: Q = (s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.audioRoundTrip(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long], 256)
      .toDF()
      .orderBy("doc_id")
  }

  private val q175Sql = {
    val mh = DuckHash.mix64Inline("CAST(doc_id * 256 + i AS UBIGINT)")
    s"""SELECT doc_id,
       |  CAST(256 AS BIGINT) AS n_samples, CAST(1 AS BIGINT) AS n_channels,
       |  CAST(sum(CAST(($mh) & 65535 AS BIGINT) - 32768) AS BIGINT) AS sample_sum
       |FROM (SELECT doc_id, unnest(range(0, 256)) AS i FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q176
  // INGEST-pipeline gate row (IngestHarness): the Milan load path —
  // discover glob → distributed CSV scan → cleaning chain → partitioned
  // idempotent append → ledger — run TWICE over deterministic day-file
  // CSVs synthesized from customer ids, emitting the hourly rollup plus
  // both ingest counts. The oracle replays every cleaning branch from the
  // same ids (bad-datetime drop, null→0 fill, negative clamp, cell-range
  // filter, decimal-exact rollup) and asserts the (2, 0) file counts — the
  // second pass MUST be a ledger no-op, and any duplicate append would
  // double the sums. S1/S6/K1/K4/C1–C3/F1–F2 under the driver's hash at
  // last (previously MilanPipelineSpec-only).
  private val q176: Q = (s, dir) =>
    graft.pipeline.IngestHarness.ingestTwiceRollup(
      s, Tables.customer(s, dir).select(col("c_custkey")), fixtureKey = dir)

  private val q176Sql = {
    def mh(j: Int) = DuckHash.mix64Inline(s"CAST(k * 8 + $j AS UBIGINT)")
    def met(j: Int) =
      s"""CASE WHEN (${mh(j)}) & 7 = 7 THEN 0.0
         |      ELSE greatest((CAST((${mh(j)}) & 1023 AS BIGINT) - 100) / 10.0, 0.0) END"""
        .stripMargin
    s"""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
       |rows0 AS (SELECT k,
       |    CAST(1 + k % 2 AS INT) AS d, CAST(k % 24 AS INT) AS h,
       |    k % 12000 AS cell_id,
       |    ${met(1)} AS smsin, ${met(2)} AS smsout, ${met(3)} AS callin,
       |    ${met(4)} AS callout, ${met(5)} AS internet
       |  FROM base WHERE k % 97 <> 0 AND k % 12000 <= 9999),
       |r AS (SELECT make_timestamp(2013, 11, d, h, 0, 0) AS hour, cell_id,
       |    smsin, smsout, callin, callout, internet,
       |    smsin + smsout + callin + callout + internet AS activity
       |  FROM rows0)
       |SELECT hour, cell_id,
       |  ${dSum("smsin")} AS total_smsin, ${dSum("smsout")} AS total_smsout,
       |  ${dSum("callin")} AS total_callin, ${dSum("callout")} AS total_callout,
       |  ${dSum("internet")} AS total_internet,
       |  ${dSum("activity")} AS total_activity,
       |  CAST(2 AS BIGINT) AS n_files_first, CAST(0 AS BIGINT) AS n_files_second
       |FROM r GROUP BY hour, cell_id ORDER BY hour, cell_id""".stripMargin
  }

  // ---------------------------------------------------------------- q177
  // MOBILITY ingest gate row — q176's sibling over loadMobility, whose
  // cleaning chain additionally runs pandas-title() case folding, the
  // reference's 7-entry province-normalization map, and the broadcast
  // semi-join against the provinces dimension (J3/X1/X2/J4, reference
  // src/etl.py:232-274). The fixture's provinceName vocabulary is FINITE
  // and cycles by k % 12 (cased variants over apostrophes/hyphens/slashes
  // — exactly where initcap would diverge from pandas title(), plus one
  // name the dimension lacks), so the oracle replays normalization as a
  // 12-way CASE — no title-case logic cross-engine. Mobility metrics are
  // filled-0 but NOT clamped (reference clamps traffic only): the sums
  // value-check that negatives survive. (2, 0) file counts prove the
  // second load was a ledger no-op.
  private val q177: Q = (s, dir) =>
    graft.pipeline.IngestHarness.mobilityIngestTwiceRollup(
      s, Tables.customer(s, dir).select(col("c_custkey")), fixtureKey = dir)

  private val q177Sql = {
    def mh(j: Int) = DuckHash.mix64Inline(s"CAST(k * 8 + $j AS UBIGINT)")
    def met(j: Int) =
      s"""CASE WHEN (${mh(j)}) & 7 = 7 THEN 0.0
         |      ELSE (CAST((${mh(j)}) & 1023 AS BIGINT) - 100) / 10.0 END"""
        .stripMargin
    val caseArms = graft.pipeline.IngestHarness.MobilityCleanNames.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '${n.replace("'", "''")}'" }
      .mkString(" ")
    s"""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
       |rows0 AS (SELECT k, CASE k % 12 $caseArms END AS provincia,
       |    ${met(6)} AS c2p, ${met(7)} AS p2c
       |  FROM base
       |  WHERE k % 97 <> 0 AND k % 12000 <= 9999 AND k % 12 <> 9)
       |SELECT provincia, count(*) AS n_rows,
       |  ${dSum("c2p")} AS sum_c2p, ${dSum("p2c")} AS sum_p2c,
       |  CAST(2 AS BIGINT) AS n_files_first, CAST(0 AS BIGINT) AS n_files_second
       |FROM rows0 GROUP BY provincia ORDER BY provincia""".stripMargin
  }

  /** Session-stable fixture directory for the queries that must stage a
    * FILE (GeoJSON sources, the backfill table): one deterministic
    * directory per input sf dir, OVERWRITTEN on re-invocation — a gate +
    * bench session calls each query builder many times, and per-pass
    * `createTempDirectory` dirs would accumulate orphaned copies of the
    * fixtures in java.io.tmpdir. Keyed by the sf dir so frames built for
    * different scale factors in one JVM never read each other's files. */
  private def fixtureDir(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      f"graft-fixtures-${math.abs(dir.hashCode)}%08x")

  // ---------------------------------------------------------------- q178
  // GeoJSON GRID source under the gate (§2.1 S4 + P3/G1-G3, reference
  // src/etl.py:11-54): a deterministic FeatureCollection of diamond
  // Polygons (GeoJsonFixture — exact-binary sixteenth-degree coordinates
  // on the q173 grid) goes through the REAL multiLine JSON scan →
  // posexplode feature_idx → reproject 4326→32632 → bounds. The output
  // pins the geopandas surrogate-key semantics (0-based feature_idx vs the
  // file's 1-based cellId property — the reference's off-by-one, SURVEY
  // §1.4) and the projected envelope at integer millimetres; the oracle
  // rebuilds the vertices from nation ids and replays the Snyder series
  // (the shared utmSeriesCtes) — JSON parsing, feature order, ring shape,
  // projection, and bounds all value-checked without the oracle reading
  // any file. The 25-row driver collect builds the fixture FILE (a
  // dimension-sized generator, like q168's synthetic payloads).
  private val q178: Q = (s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "grid.geojson",
      graft.sources.GeoJsonFixture.gridJson(ids))
    graft.sources.GeoJsonSource.readFeatures(s, path)
      .select(
        col("feature_idx").cast("long").as("cell_id"),
        col("properties.cellId").cast("long").as("cellid_prop"),
        GeoFunctions.reprojectPolygonUdf(col("geometry.coordinates")).as("coords"))
      .withColumn("b", GeoFunctions.polygonBounds(col("coords")))
      .select(col("cell_id"), col("cellid_prop"),
        expr("CAST(round(b.minx * 1000.0) AS BIGINT)").as("min_x_mm"),
        expr("CAST(round(b.miny * 1000.0) AS BIGINT)").as("min_y_mm"),
        expr("CAST(round(b.maxx * 1000.0) AS BIGINT)").as("max_x_mm"),
        expr("CAST(round(b.maxy * 1000.0) AS BIGINT)").as("max_y_mm"),
        size(element_at(col("coords"), 1)).cast("long").as("n_ring_pts"))
      .orderBy("cell_id")
  }

  private val q178Sql = {
    val mh = DuckHash.mix64Inline("CAST(id AS UBIGINT)")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
       |feat AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS fid,
       |    CAST((($mh) & 3) + 1 AS DOUBLE) / 16.0 AS r,
       |    8.0 + CAST(id % 5 AS DOUBLE) * 0.5 AS cx,
       |    44.0 + CAST((id // 5) % 5 AS DOUBLE) * 0.5 AS cy
       |  FROM ids),
       |verts AS (SELECT fid, id,
       |    CASE vi WHEN 0 THEN cx - r WHEN 1 THEN cx WHEN 2 THEN cx + r ELSE cx END AS lon,
       |    CASE vi WHEN 0 THEN cy WHEN 1 THEN cy - r WHEN 2 THEN cy ELSE cy + r END AS lat
       |  FROM feat, unnest(range(0, 4)) AS t(vi)),
       |${utmSeriesCtes("verts")}
       |SELECT fid AS cell_id, id + 1 AS cellid_prop,
       |  CAST(round(min(x) * 1000.0) AS BIGINT) AS min_x_mm,
       |  CAST(round(min(y) * 1000.0) AS BIGINT) AS min_y_mm,
       |  CAST(round(max(x) * 1000.0) AS BIGINT) AS max_x_mm,
       |  CAST(round(max(y) * 1000.0) AS BIGINT) AS max_y_mm,
       |  CAST(5 AS BIGINT) AS n_ring_pts
       |FROM utmxy GROUP BY fid, id ORDER BY cell_id""".stripMargin
  }

  // ---------------------------------------------------------------- q179
  // Conditional backfill UPDATE under the gate (§2.2 K5, reference
  // src/etl.py:21-29's COALESCE-where-NULL): a fixture table whose `val`
  // is null on a mix64 mask goes through MilanPipeline.backfillColumn —
  // the crash-safe snapshot-rewrite (write new snapshot → two-rename swap)
  // that stands in for parquet's missing in-place UPDATE — and the query
  // returns the POST-backfill table read from disk. The oracle replays
  // the coalesce arithmetic per id: nulls got id/4, non-nulls kept their
  // original value bit-for-bit (a rewrite that perturbed surviving rows
  // would break the hash).
  private val q179: Q = (s, dir) => {
    val tableDir = fixtureDir(dir).resolve("backfill_t").toString
    // The fixture dir survives the JVM, so a hard-killed earlier run can
    // leave a mid-swap .backfill_old behind — recover it first (the same
    // crash-safety API a real caller uses; backfillColumn refuses to run
    // over an unfinished swap) instead of bricking every later pass.
    graft.pipeline.MilanPipeline.recoverBackfill(s, tableDir)
    val mh = graft.functions.HashFunctions.mix64(col("c_custkey") * 8 + 9)
    Tables.customer(s, dir)
      .select(col("c_custkey").cast("long").as("id"),
        when(mh.bitwiseAND(lit(3L)) === 0L, lit(null).cast("double"))
          .otherwise((mh.bitwiseAND(lit(1023L)) - 100L).cast("double") / 10.0)
          .as("val"))
      // overwrite: re-invocations rebuild the pre-backfill state in place
      // (see fixtureDir — bounded disk, not a per-pass temp dir)
      .write.mode("overwrite").parquet(tableDir)
    graft.pipeline.MilanPipeline.backfillColumn(
      s, tableDir, "val", col("id").cast("double") / 4.0)
    s.read.parquet(tableDir).orderBy("id")
  }

  private val q179Sql = {
    val mh = DuckHash.mix64Inline("CAST(c_custkey * 8 + 9 AS UBIGINT)")
    s"""SELECT CAST(c_custkey AS BIGINT) AS id,
       |  CASE WHEN ($mh) & 3 = 0 THEN CAST(c_custkey AS DOUBLE) / 4.0
       |       ELSE (CAST(($mh) & 1023 AS BIGINT) - 100) / 10.0 END AS "val"
       |FROM customer ORDER BY id""".stripMargin
  }

  // ---------------------------------------------------------------- q180
  // GeoJSON PROVINCES source under the gate (§2.1 S5 + C4, reference
  // src/etl.py:57-95): the provinces fixture carries PROVINCIA plus a
  // STRING population property that is digits on most rows and an
  // unparseable "n/a" on a mix64 mask — GeoJsonSource.provinces must
  // coerce-or-0 and int-cast it (the reference's to_numeric(errors=
  // 'coerce').fillna(0).astype(int)). Aggregated per provincia so the
  // hash checks name fallback, the coercion branches, and the int cast.
  private val q180: Q = (s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "provinces.geojson",
      graft.sources.GeoJsonFixture.provincesJson(ids))
    graft.sources.GeoJsonSource.provinces(s, path)
      .groupBy(col("provincia"))
      .agg(count(lit(1)).as("n_features"),
        sum(col("population").cast("long")).as("sum_population"))
      .orderBy("provincia")
  }

  private val q180Sql = {
    val mh = DuckHash.mix64Inline("CAST(id AS UBIGINT)")
    val caseArms = graft.pipeline.IngestHarness.MobilityCleanNames.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '${n.replace("'", "''")}'" }
      .mkString(" ")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
       |f AS (SELECT id, CASE id % 12 $caseArms END AS provincia,
       |    CASE WHEN ($mh) & 3 = 0 THEN 0
       |         ELSE CAST((($mh) >> 8) & 65535 AS BIGINT) END AS pop
       |  FROM ids)
       |SELECT provincia, count(*) AS n_features,
       |  CAST(sum(pop) AS BIGINT) AS sum_population
       |FROM f GROUP BY provincia ORDER BY provincia""".stripMargin
  }

  // ---------------------------------------------------------------- q181
  // REAL video-codec round-trip (Multimodal.videoRoundTrip) — q168/q175's
  // GIF sibling, retiring the video stub: each doc_id expands to 6 frames
  // of 16×8 gray pixels (mix64((id·6+f)·128+i) & 255), Spark writes a real
  // animated GIF through the JDK sequence writer, demuxes+DECODES it back,
  // samples 4 of the 6 frames evenly (src 0,1,3,4 — the stride is itself
  // value-checked via src_frame), and reports per-frame decoded dims +
  // exact pixel sums; DuckDB sums the same synthetic bytes with no image
  // library. The 256-gray palette makes GIF lossless, so a frame-order
  // bug, dropped/duplicated frame, palette remap, or stride error all
  // break the hash — and pixel_possum (Σ (i+1)·vᵢ) additionally breaks on
  // ROW reordering inside a frame, the one corruption a plain sum can't
  // see (it's how the JDK writer's default interlace flag was caught).
  private val q181: Q = (s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.videoRoundTrip(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long],
        nFrames = 6, w = 16, h = 8, maxFrames = 4)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  private val q181Sql = {
    val mh = DuckHash.mix64Inline("CAST((doc_id * 6 + src) * 128 + i AS UBIGINT)")
    s"""WITH sel AS (SELECT doc_id, fi, fi * 6 // 4 AS src
       |  FROM (SELECT doc_id, unnest(range(0, 4)) AS fi FROM documents)),
       |px AS (SELECT doc_id, fi, src, unnest(range(0, 128)) AS i FROM sel)
       |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
       |  CAST(src AS BIGINT) AS src_frame,
       |  CAST(16 AS BIGINT) AS decoded_w, CAST(8 AS BIGINT) AS decoded_h,
       |  CAST(sum(($mh) & 255) AS BIGINT) AS pixel_sum,
       |  CAST(sum((i + 1) * (($mh) & 255)) AS BIGINT) AS pixel_possum
       |FROM px GROUP BY doc_id, fi, src ORDER BY doc_id, frame_idx""".stripMargin
  }

  // ---------------------------------------------------------------- q182
  // CROSS-VIDEO FRAME DEDUP — the operation the real GIF codec unlocks
  // (Multimodal.frameSignatures): every doc becomes a real 6-frame video
  // whose frame CONTENTS draw from a shared 64-entry pool
  // (mix64(id·6+f) & 63 — duplicates across videos by construction), the
  // GIF round-trips encode→demux→decode, and each DECODED raster emits
  // its dedup signature. The rollup groups by the integer signature pair
  // (pixel_sum, pixel_possum) — both SQL-replayable — and per group
  // reports occurrences, distinct videos, the implied duplicate-pair
  // count n_docs·(n_docs−1)/2, and `n_sha` = count(distinct sha256) of
  // the decoded bytes, which MUST be 1: the oracle asserts byte-identity
  // inside every signature bucket without hashing anything itself (a
  // codec bug that decodes two contents to rasters with colliding sums
  // would raise n_sha, and a signature collision would too). Dedup on
  // DECODED pixels, not container bytes — the same frame in two files
  // never hashes equal at the container level (LZW phase, neighbors).
  private val q182: Q = (s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.frameSignatures(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long],
        nFrames = 6, w = 16, h = 8, contents = 64)
      .toDF()
      .groupBy(col("pixel_sum"), col("pixel_possum"))
      .agg(
        count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("sha256_hex")).as("n_sha"))
      .select(col("pixel_sum"), col("pixel_possum"), col("n_frames"),
        col("n_docs"),
        // integer div: Column `/` is floating and would round a large
        // pair count through a double
        expr("(n_docs * (n_docs - 1)) div 2").as("n_dup_pairs"),
        col("n_sha"))
      .orderBy("pixel_sum", "pixel_possum")
  }

  private val q182Sql = {
    val ch = DuckHash.mix64Inline("CAST(doc_id * 6 + f AS UBIGINT)")
    val mh = DuckHash.mix64Inline("CAST(c * 128 + i AS UBIGINT)")
    s"""WITH occ AS (SELECT doc_id, ($ch) & 63 AS c
       |  FROM (SELECT doc_id, unnest(range(0, 6)) AS f FROM documents)),
       |sig AS (SELECT c,
       |    CAST(sum(($mh) & 255) AS BIGINT) AS pixel_sum,
       |    CAST(sum((i + 1) * (($mh) & 255)) AS BIGINT) AS pixel_possum
       |  FROM (SELECT DISTINCT c FROM occ), unnest(range(0, 128)) AS t(i)
       |  GROUP BY c),
       |agg AS (SELECT c, count(*) AS n_frames, count(DISTINCT doc_id) AS n_docs
       |  FROM occ GROUP BY c)
       |SELECT pixel_sum, pixel_possum,
       |  CAST(n_frames AS BIGINT) AS n_frames, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_dup_pairs,
       |  CAST(1 AS BIGINT) AS n_sha
       |FROM agg JOIN sig USING (c)
       |ORDER BY pixel_sum, pixel_possum""".stripMargin
  }

  // ---------------------------------------------------------------- q183
  // CENSUS wide-CSV + melt under the gate (§2.1 S3 + §2.3 melt; reference
  // notebook cells 9/15): a deterministic 135-column census-shaped CSV
  // (CensusFixture — PROVINCIA + the gappy 134-measure code list verbatim,
  // P63/P67-P127 absent exactly as in the 2011 extract) goes through the
  // REAL distributed CSV scan with the explicit LongType schema (empty
  // fields → null, the pandas int64-with-NaN branch) and the stack()-based
  // wide→long melt. The FULL melted table (|nation|×134 rows, nulls
  // included) sits under the hash, so a measure-list drift, a column
  // misalignment in the scan, a dropped null, or a melt pairing bug all
  // break it; the oracle rebuilds every cell from nation ids × the same
  // code list (the q176 ingest move applied to the census leg). Previously
  // S3 had only fixture-driven spec coverage (CensusSpec).
  private val q183: Q = (s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "census.csv",
      graft.sources.CensusFixture.censusCsv(ids))
    graft.sources.MilanCsvSource.meltCensus(
        graft.sources.MilanCsvSource.census(s, path))
      .orderBy("provincia", "variable")
  }

  private val q183Sql = {
    val codes = graft.sources.MilanCsvSource.censusMeasures
    val lst = codes.map(c => s"'$c'").mkString("[", ",", "]")
    val mh = DuckHash.mix64Inline("CAST(k * 256 + j AS UBIGINT)")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
       |cell AS (SELECT k, j, ($mh) AS mh
       |  FROM ids, range(0, ${codes.size}) t(j))
       |SELECT printf('PR%03d', k) AS provincia,
       |  ($lst)[CAST(j + 1 AS INT)] AS variable,
       |  CASE WHEN mh & 15 = 15 THEN NULL
       |       ELSE CAST((mh >> 16) & 4294967295 AS BIGINT) END AS value
       |FROM cell ORDER BY provincia, variable""".stripMargin
  }

  // ---------------------------------------------------------------- q184
  // WKT RENDER + bounds string under the gate (§2.10 G4 + §2.3 P4 + §2.11
  // X4; reference src/etl.py:26,39-42 ST_AsText/str(bounds)): the grid
  // fixture's UNPROJECTED 4326 diamonds — exact binary sixteenths, whose
  // shortest-round-trip decimal rendering is identical in Java and DuckDB
  // — through polygonWkt / polygonBounds→boundsString / envelopeWkt, full
  // strings under the hash. This is the STRING-formatting tier the
  // integer-mm rows (q171/q173/q178) deliberately avoid: a ring-order
  // change, a separator drift (", " vs ","), a lost trailing ".0", or a
  // double→string rendering divergence all break it. The oracle rebuilds
  // each vertex from nation ids and renders the same three strings with
  // DuckDB varchar casts.
  private val q184: Q = (s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "grid.geojson",
      graft.sources.GeoJsonFixture.gridJson(ids))
    graft.sources.GeoJsonSource.readFeatures(s, path)
      .select(
        col("feature_idx").cast("long").as("feature_idx"),
        col("geometry.coordinates").as("coords"))
      .withColumn("b", GeoFunctions.polygonBounds(col("coords")))
      .select(
        col("feature_idx"),
        GeoFunctions.polygonWkt(col("coords")).as("wkt"),
        GeoFunctions.boundsString(col("b")).as("bounds"),
        GeoFunctions.envelopeWkt(col("b")).as("envelope_wkt"))
      .orderBy("feature_idx")
  }

  private val q184Sql = {
    val mh = DuckHash.mix64Inline("CAST(k AS UBIGINT)")
    // "x y" with both doubles rendered shortest-round-trip (matches both
    // Spark's concat_ws/format_string %s and Java's Double.toString).
    def pt(x: String, y: String) =
      s"CAST($x AS VARCHAR) || ' ' || CAST($y AS VARCHAR)"
    val ringPts = Seq(
      pt("cx - r", "cy"), pt("cx", "cy - r"), pt("cx + r", "cy"),
      pt("cx", "cy + r"), pt("cx - r", "cy")).mkString(" || ', ' || ")
    val envPts = Seq(
      pt("cx - r", "cy - r"), pt("cx + r", "cy - r"), pt("cx + r", "cy + r"),
      pt("cx - r", "cy + r"), pt("cx - r", "cy - r")).mkString(" || ', ' || ")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
       |ord AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS feature_idx
       |  FROM ids),
       |g AS (SELECT feature_idx,
       |    8.0 + (k % 5) * 0.5 AS cx, 44.0 + ((k // 5) % 5) * 0.5 AS cy,
       |    CAST(1 + (($mh) & 3) AS DOUBLE) / 16.0 AS r
       |  FROM ord)
       |SELECT CAST(feature_idx AS BIGINT) AS feature_idx,
       |  'POLYGON((' || $ringPts || '))' AS wkt,
       |  CAST(cx - r AS VARCHAR) || ',' || CAST(cy - r AS VARCHAR) || ',' ||
       |    CAST(cx + r AS VARCHAR) || ',' || CAST(cy + r AS VARCHAR) AS bounds,
       |  'POLYGON((' || $envPts || '))' AS envelope_wkt
       |FROM g ORDER BY feature_idx""".stripMargin
  }

  // ---------------------------------------------------------------- q185
  // PQ ANN via asymmetric distance computation (Similarity.knnPq; Jégou
  // et al. 2011) — the memory-side scale path the similarity stack was
  // missing: IVF (q48) prunes CANDIDATES, PQ compresses VECTORS (4·dim
  // bytes → m codes) so a 100 TB corpus's index fits executor memory.
  // m=4 subspaces × 16 dims, k=8 codes each, one exact-decimal Lloyd
  // round per subspace (the q48 quantizer applied per-subspace, dense
  // code relabeling hole-proof by construction), queries 0-4 precompute
  // m×k decimal LUTs, ADC = exact LUT-sum over codes, top-5. The oracle
  // replays the ENTIRE pipeline — per-subspace train, corpus encode,
  // query LUTs, ADC ranking — in SQL, so the codebooks themselves are
  // value-checked, not just the final ranking.
  private val q185: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.knnPq(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, k = 5, m = 4, kCodes = 8, iters = 1)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rnk"), col("adc_dist"))
      .orderBy("query_id", "rnk")
  }

  // q185's full PQ replay (subspace split, per-subspace Lloyd round, dense
  // code relabel, corpus encode, query LUTs, ADC ranking) with every CTE
  // name prefixed by `pfx`, ending at `${pfx}r(query_id, neighbor_id,
  // adc_dist, rnk)`. pfx="" keeps q185's original names; the q190 recall
  // certificate composes it (pfx="p") with the IVFPQ chain in ONE
  // statement — one copy serves both, so they cannot drift.
  private def duckPqChainCtes(pfx: String): String =
    s"""${pfx}su AS (SELECT vec_id, dim // 16 AS s, dim % 16 AS j, x FROM (
       |    SELECT vec_id, unnest(embedding) AS x,
       |      unnest(range(0, len(embedding))) AS dim FROM embeddings)),
       |${pfx}c0 AS (SELECT vec_id AS cluster, s, j, x FROM ${pfx}su WHERE vec_id < 8),
       |${pfx}p0 AS (SELECT e.vec_id, e.s, c.cluster, ${duckDsq("e.x", "c.x")} AS dist
       |       FROM ${pfx}su e JOIN ${pfx}c0 c ON c.s = e.s AND c.j = e.j
       |       GROUP BY e.vec_id, e.s, c.cluster),
       |${pfx}a0 AS (SELECT vec_id, s, cluster FROM (
       |        SELECT vec_id, s, cluster,
       |          row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cluster) AS rn
       |        FROM ${pfx}p0) WHERE rn = 1),
       |${pfx}m1 AS (SELECT a0.s, a0.cluster, su.j,
       |        CAST(sum(CAST(CAST(su.x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)/count(*) AS cx
       |       FROM ${pfx}su su JOIN ${pfx}a0 a0 ON a0.vec_id = su.vec_id AND a0.s = su.s
       |       GROUP BY a0.s, a0.cluster, su.j),
       |${pfx}cl AS (SELECT s, cluster,
       |        row_number() OVER (PARTITION BY s ORDER BY cluster) - 1 AS code
       |       FROM (SELECT DISTINCT s, cluster FROM ${pfx}m1)),
       |${pfx}c1 AS (SELECT m1.s, cl.code, m1.j, m1.cx
       |       FROM ${pfx}m1 m1 JOIN ${pfx}cl cl ON cl.s = m1.s AND cl.cluster = m1.cluster),
       |${pfx}pe AS (SELECT e.vec_id, e.s, c.code, ${duckDsq("e.x", "c.cx")} AS dist
       |       FROM ${pfx}su e JOIN ${pfx}c1 c ON c.s = e.s AND c.j = e.j
       |       GROUP BY e.vec_id, e.s, c.code),
       |${pfx}a1 AS (SELECT vec_id, s, code FROM (
       |        SELECT vec_id, s, code,
       |          row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
       |        FROM ${pfx}pe) WHERE rn = 1),
       |${pfx}lut AS (SELECT vec_id AS query_id, s, code, dist FROM ${pfx}pe WHERE vec_id < 5),
       |${pfx}adc AS (SELECT l.query_id, a1.vec_id AS neighbor_id, sum(l.dist) AS adc
       |        FROM ${pfx}a1 a1 JOIN ${pfx}lut l ON l.s = a1.s AND l.code = a1.code
       |        WHERE a1.vec_id <> l.query_id
       |        GROUP BY l.query_id, a1.vec_id),
       |${pfx}r AS (SELECT query_id, neighbor_id, CAST(adc AS DOUBLE) AS adc_dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS BIGINT) AS rnk
       |      FROM ${pfx}adc)""".stripMargin

  private val q185Sql =
    s"""WITH ${duckPqChainCtes("")}
       |SELECT query_id, neighbor_id, rnk, adc_dist FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q186
  // URL canonicalization + dedup (UrlFunctions.canonicalizeUrl) — the
  // web-corpus curation step before URL-level dedup: the same page
  // arrives under case variants, default ports, tracking params, shuffled
  // query order, trailing slashes, and fragments. Each doc_id synthesizes
  // a RAW url hitting a deterministic branch combination (mixed-case
  // scheme/host, :80/:443/:8080/none, root / trailing-slash / plain
  // paths, utm_*+fbclid+unsorted query variants, #fragment), the codegen
  // expression canonicalizes on the scan, and the rollup groups by the
  // canonical string. The oracle derives each doc's EXPECTED canonical
  // form arithmetically from the generator's semantics — an independent
  // derivation, not a re-run of the same parse — so every normalization
  // branch is value-checked, including group merges across raw variants.
  private val q186: Q = (s, dir) => {
    val k = col("doc_id").cast("long")
    val mh = graft.functions.HashFunctions.mix64(k)
    val scheme = when(k % 2 === 0, lit("HTTP")).otherwise(lit("https"))
    val host = format_string("WWW.Site%d.example.COM", mh.bitwiseAND(lit(15L)))
    val port = when(k % 3 === 0, when(k % 2 === 0, lit(":80")).otherwise(lit(":443")))
      .when(k % 3 === 1, lit(":8080")).otherwise(lit(""))
    val path = when(k % 4 === 0, lit(""))
      .when(k % 4 === 1, format_string("/a/b%d/", k % 7))
      .otherwise(format_string("/a/b%d", k % 7))
    val query = when(k % 5 === 1, lit("?utm_source=x&b=2&a=1"))
      .when(k % 5 === 2, lit("?b=2&a=1"))
      .when(k % 5 === 3, lit("?a=1&utm_campaign=z"))
      .when(k % 5 === 4, lit("?fbclid=abc"))
      .otherwise(lit(""))
    val frag = when(k % 2 === 1, lit("#frag")).otherwise(lit(""))
    val raw = concat(scheme, lit("://"), host, port, path, query, frag)
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"), raw.as("url"))
      .select(col("doc_id"),
        graft.functions.UrlFunctions.canonicalizeUrl(col("url")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
      .orderBy("canonical_url")
  }

  private val q186Sql = {
    val mh = DuckHash.mix64Inline("CAST(k AS UBIGINT)")
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k FROM documents),
       |c AS (SELECT k,
       |  (CASE WHEN k % 2 = 0 THEN 'http' ELSE 'https' END)
       |  || '://www.site' || CAST(($mh) & 15 AS VARCHAR) || '.example.com'
       |  || (CASE WHEN k % 3 = 1 THEN ':8080' ELSE '' END)
       |  || (CASE WHEN k % 4 = 0 THEN '/' ELSE '/a/b' || CAST(k % 7 AS VARCHAR) END)
       |  || (CASE WHEN k % 5 IN (1, 2) THEN '?a=1&b=2'
       |           WHEN k % 5 = 3 THEN '?a=1' ELSE '' END) AS cu
       |  FROM d)
       |SELECT cu AS canonical_url, count(*) AS n_urls, min(k) AS first_doc
       |FROM c GROUP BY cu ORDER BY cu""".stripMargin
  }

  // ---------------------------------------------------------------- q187
  // IVFPQ (Similarity.knnIvfPq) — the FAISS production-ANN composition:
  // q48's coarse quantizer prunes candidates (probe 2 of 8 cells), q185's
  // PQ compresses memory — but trained on RESIDUALS (vector − its cell
  // centroid), the IVFPQ subtlety that makes the same 8 codes quantize
  // far finer; LUTs are per (query, probed cell) because residuals are
  // cell-relative. The oracle composes the SHARED coarse replay
  // (duckIvfA1Ctes — the same fragment q48/q116 check) with a residual
  // PQ replay: residual computation, per-subspace train, corpus encode,
  // per-cell query LUTs, ADC ranking — the full production index
  // value-checked end-to-end.
  private val q187: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.knnIvfPq(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, k = 5, kClusters = 8, nProbe = 2, m = 4, kCodes = 8, iters = 1)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rnk"), col("adc_dist"))
      .orderBy("query_id", "rnk")
  }

  // q187's residual-PQ replay over duckIvfA1Ctes' coarse assignment
  // (residuals, per-subspace train on residuals, dense relabel, encode,
  // per-(query, probed cell) LUTs, ADC ranking), ending at `r(query_id,
  // neighbor_id, adc_dist, rnk)`. Shared verbatim by q187 and the q190
  // recall certificate.
  private val duckIvfPqChainCtes: String =
    s"""rv AS (SELECT u.vec_id, u.dim, CAST(u.x AS DOUBLE) - m1.m AS rx
       |       FROM u JOIN a1 USING (vec_id)
       |              JOIN m1 ON m1.cluster = a1.cluster AND m1.dim = u.dim),
       |zs AS (SELECT vec_id, dim // 16 AS s, dim % 16 AS j, rx FROM rv),
       |zc0 AS (SELECT vec_id AS cl0, s, j, rx FROM zs WHERE vec_id < 8),
       |zp0 AS (SELECT e.vec_id, e.s, c.cl0, ${duckDsq("e.rx", "c.rx")} AS dist
       |        FROM zs e JOIN zc0 c ON c.s = e.s AND c.j = e.j
       |        GROUP BY e.vec_id, e.s, c.cl0),
       |za0 AS (SELECT vec_id, s, cl0 FROM (
       |         SELECT vec_id, s, cl0,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cl0) AS rn
       |         FROM zp0) WHERE rn = 1),
       |zm1 AS (SELECT za0.s, za0.cl0, zs.j,
       |         CAST(sum(CAST(CAST(zs.rx AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)/count(*) AS cx
       |        FROM zs JOIN za0 ON za0.vec_id = zs.vec_id AND za0.s = zs.s
       |        GROUP BY za0.s, za0.cl0, zs.j),
       |zcl AS (SELECT s, cl0, row_number() OVER (PARTITION BY s ORDER BY cl0) - 1 AS code
       |        FROM (SELECT DISTINCT s, cl0 FROM zm1)),
       |zc1 AS (SELECT zm1.s, zcl.code, zm1.j, zm1.cx
       |        FROM zm1 JOIN zcl ON zcl.s = zm1.s AND zcl.cl0 = zm1.cl0),
       |zpe AS (SELECT e.vec_id, e.s, c.code, ${duckDsq("e.rx", "c.cx")} AS dist
       |        FROM zs e JOIN zc1 c ON c.s = e.s AND c.j = e.j
       |        GROUP BY e.vec_id, e.s, c.code),
       |za1 AS (SELECT vec_id, s, code FROM (
       |         SELECT vec_id, s, code,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
       |         FROM zpe) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |         FROM d1 WHERE vec_id < 5) WHERE rn <= 2),
       |qrv AS (SELECT p.query_id, p.cluster, u.dim // 16 AS s, u.dim % 16 AS j,
       |         CAST(u.x AS DOUBLE) - m1.m AS rx
       |        FROM probes p JOIN u ON u.vec_id = p.query_id
       |               JOIN m1 ON m1.cluster = p.cluster AND m1.dim = u.dim),
       |lut AS (SELECT q.query_id, q.cluster, q.s, c.code, ${duckDsq("q.rx", "c.cx")} AS dist
       |        FROM qrv q JOIN zc1 c ON c.s = q.s AND c.j = q.j
       |        GROUP BY q.query_id, q.cluster, q.s, c.code),
       |adc AS (SELECT l.query_id, za1.vec_id AS neighbor_id, sum(l.dist) AS adc
       |        FROM a1 cand
       |          JOIN lut l ON l.cluster = cand.cluster
       |          JOIN za1 ON za1.vec_id = cand.vec_id AND za1.s = l.s AND za1.code = l.code
       |        WHERE cand.vec_id <> l.query_id
       |        GROUP BY l.query_id, za1.vec_id),
       |r AS (SELECT query_id, neighbor_id, CAST(adc AS DOUBLE) AS adc_dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS BIGINT) AS rnk
       |      FROM adc)""".stripMargin

  private val q187Sql =
    s"""WITH $duckIvfA1Ctes,
       |$duckIvfPqChainCtes
       |SELECT query_id, neighbor_id, rnk, adc_dist FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q188
  // BPE tokenizer TRAINING (BpeTrainer — Sennrich et al. 2016, word-level
  // formulation): 6 merge rounds over the corpus's [a-z]+ word vocabulary.
  // Each round = one pair-count shuffle + a bounded argmax pull + a
  // codegen'd fold re-encode; statistics are vocab-sized, so the corpus
  // is read exactly once — the shape that trains a tokenizer on 100 TB.
  // This row runs batchSize=1 (exact per-merge counts and masses, the
  // replayable contract); production 50k-merge training uses the
  // trainer's top-B symbol-disjoint batching (rounds ∝ nMerges/B —
  // BpeSpec pins B=1 ≡ unbatched and the disjointness rule).
  // Output = the merge table: winning pair per rank, its frequency-
  // weighted count, and the post-merge symbol mass (whose drop is the
  // compression the merge bought — it also proves the APPLY step, since
  // round t+1's counts depend on round t's re-encode). The oracle replays
  // all 6 rounds in SQL, including the greedy non-overlapping
  // left-to-right rule on self-overlapping runs ("aaa" under (a,a) →
  // "aa a"), via run-length parity selection over match positions.
  private val q188: Q = (s, dir) => {
    import s.implicits._
    val vocab = BpeTrainer.wordVocab(Tables.documents(s, dir), "text")
    val (merges, _) = BpeTrainer.train(vocab, nMerges = 6, trackSymbolMass = true)
    merges.map(m => (m.rank.toLong, m.lhs, m.rhs, m.pairFreq, m.nSymsAfter))
      .toDF("merge_rank", "lhs", "rhs", "pair_freq", "n_syms_after")
      .orderBy("merge_rank")
  }

  // Shared replay of BpeTrainer training rounds 0..n-1 over `documents`:
  // WITH-body CTEs from the word vocab (st0) through st{n}, each round
  // MATERIALIZED (the q129 iteration convention — without it the st-chain
  // re-expands 2^n times). bb{t} holds round t's winning pair. ONE copy
  // serves both BPE oracles (q188 train, q189 encode).
  private def duckBpeCtes(n: Int): String = {
    def iter(t: Int) =
      s"""ex$t AS MATERIALIZED (SELECT word, freq, unnest(range(1, len(syms)+1)) AS i, syms FROM st$t),
         |pp$t AS (SELECT word, freq, i, syms[i] AS l, syms[i+1] AS r FROM ex$t WHERE i < len(syms)),
         |bb$t AS MATERIALIZED (SELECT l, r, sum(freq) AS cnt FROM pp$t GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1),
         |mm$t AS (SELECT p.word, p.i FROM pp$t p JOIN bb$t b ON p.l = b.l AND p.r = b.r),
         |gg$t AS (SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp FROM mm$t),
         |ss$t AS (SELECT word, i FROM (
         |    SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) - 1 AS off FROM gg$t)
         |  WHERE off % 2 = 0),
         |st${t + 1} AS MATERIALIZED (SELECT word, freq, list(sym ORDER BY i) AS syms FROM (
         |    SELECT e.word, e.freq, e.i,
         |      CASE WHEN se.i IS NOT NULL THEN e.syms[e.i] || e.syms[e.i+1] ELSE e.syms[e.i] END AS sym,
         |      sk.i AS skip
         |    FROM ex$t e
         |    LEFT JOIN ss$t se ON se.word = e.word AND se.i = e.i
         |    LEFT JOIN ss$t sk ON sk.word = e.word AND sk.i = e.i - 1)
         |  WHERE skip IS NULL GROUP BY word, freq)"""
    s"""w0 AS (SELECT unnest(
       |    CASE WHEN length(trim(lower(text))) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS word
       |  FROM documents),
       |st0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq, string_split(word, '') AS syms
       |  FROM w0 WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
       |${(0 until n).map(iter).mkString(",\n")}""".stripMargin
  }

  private val q188Sql = {
    val rows = (0 until 6).map { t =>
      s"SELECT CAST($t AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"CAST(cnt AS BIGINT) AS pair_freq, " +
        s"(SELECT CAST(sum(len(syms) * freq) AS BIGINT) FROM st${t + 1}) AS n_syms_after FROM bb$t"
    }.mkString(" UNION ALL ")
    s"""WITH ${duckBpeCtes(6)}
       |SELECT * FROM ($rows) ORDER BY merge_rank""".stripMargin
  }

  // ---------------------------------------------------------------- q189
  // BPE ENCODE with a frozen merge table (BpeTrainer.encodeVocab) — the
  // production side: train 6 merges (q188's rounds), then re-encode the
  // vocabulary FROM FRESH CHAR SPLITS by applying the merges in rank
  // order (map-only chained folds, no shuffle — the pass that tokenizes
  // 100 TB). Output = the top-20 symbol frequency table of the encoded
  // corpus (rank-cut, deterministic under ties). The oracle replays
  // training to st6 and reads the symbol mass there, so any divergence
  // between encode-by-merge-table and the training trajectory — rank
  // order, greedy overlap rule, a stale fold — breaks the hash. The
  // global top-20 window runs over the symbol-vocabulary-sized rollup
  // (bounded), not the corpus.
  private val q189: Q = (s, dir) => {
    val vocab = BpeTrainer.wordVocab(Tables.documents(s, dir), "text")
    val (merges, _) = BpeTrainer.train(vocab, nMerges = 6)
    BpeTrainer.encodeVocab(vocab, merges)
      .select(col("freq"), explode(col("syms")).as("symbol"))
      .groupBy(col("symbol"))
      .agg(sum(col("freq")).as("n_occurrences"))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n_occurrences").desc, col("symbol"))).cast("long"))
      .filter(col("rnk") <= 20)
      .orderBy("rnk")
  }

  private val q189Sql =
    s"""WITH ${duckBpeCtes(6)},
       |sy AS (SELECT sym AS symbol, CAST(sum(freq) AS BIGINT) AS n_occurrences
       |  FROM (SELECT freq, unnest(syms) AS sym FROM st6) GROUP BY sym),
       |rk AS (SELECT symbol, n_occurrences,
       |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, symbol) AS BIGINT) AS rnk FROM sy)
       |SELECT symbol, n_occurrences, rnk FROM rk WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  // ---------------------------------------------------------------- q190
  // PQ-tier RECALL CERTIFICATE (the q122 pattern extended to the
  // production index): join q185's knnPq and q187's knnIvfPq top-5
  // against the exact squared-L2 top-5 (Similarity.knnExactL2 — the same
  // quantized-decimal metric the ADC tiers approximate) and emit
  // recall@5 per query for BOTH codepaths. q185/q187's oracles prove the
  // ADC arithmetic; this row proves the index FINDS TRUE NEIGHBORS — the
  // answer, not just the mechanism (the reference's acceptance-query
  // ethos, reference src/etl.py:283-291). All three legs are
  // deterministic, so the recall table is hash-exact cross-engine. Scale
  // shape: the truth leg runs over the bounded query sample only; the
  // oracle composes the SHARED q185/q187 replay chains — one copy each,
  // immune to drift. Absolute recall is LOW here by construction — the
  // fixture embeddings are uniform random, the geometry PQ is worst at;
  // SimilaritySpec pins high recall on clusterable (planted) data. This
  // row certifies the MEASUREMENT pipeline, not the fixture's score.
  private val q190: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val qs = e.filter(col("vec_id") < 5)
    val truth = Similarity.knnExactL2(e, qs, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // The PQ and IVFPQ legs each run an eager training chain (collects) at
    // CONSTRUCTION time; they share no state, so build them concurrently —
    // the certificate costs max(leg) instead of sum(legs).
    val Seq(pq, ivfpq) = graft.operators.Concurrency.inParallel(Seq(
      () => Similarity
        .knnPq(e, qs, "vec_id", "embedding", dim = 64, k = 5, m = 4, kCodes = 8, iters = 1)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__pq")),
      () => Similarity
        .knnIvfPq(e, qs, "vec_id", "embedding",
          dim = 64, k = 5, kClusters = 8, nProbe = 2, m = 4, kCodes = 8, iters = 1)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__ivfpq"))))
    truth
      // top-k legs are output-sized (|queries|*k rows) — broadcast them
      // back onto the truth table instead of sort-merging 25-row frames
      .join(broadcast(pq), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(ivfpq), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("__pq"), lit(0L))).as("pq_hits"),
        sum(coalesce(col("__ivfpq"), lit(0L))).as("ivfpq_hits"))
      .select(col("query_id"), col("k"),
        col("pq_hits"),
        (col("pq_hits").cast("double") / col("k").cast("double")).as("pq_recall"),
        col("ivfpq_hits"),
        (col("ivfpq_hits").cast("double") / col("k").cast("double")).as("ivfpq_recall"))
      .orderBy("query_id")
  }

  private val q190Sql =
    s"""WITH $duckIvfA1Ctes,
       |$duckIvfPqChainCtes,
       |${duckPqChainCtes("p")},
       |xq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
       |xp AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |        unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM xq q JOIN embeddings n ON n.vec_id <> q.vec_id),
       |xd AS (SELECT query_id, neighbor_id, ${duckDsq("qe", "ne")} AS dist
       |       FROM xp GROUP BY query_id, neighbor_id),
       |xt AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |        FROM xd) WHERE rn <= 5),
       |pq5 AS (SELECT query_id, neighbor_id FROM pr WHERE rnk <= 5),
       |vq5 AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 5)
       |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pq_hits,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS pq_recall,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivfpq_hits,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS ivfpq_recall
       |FROM xt t
       |LEFT JOIN pq5 p ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
       |LEFT JOIN vq5 v ON v.query_id = t.query_id AND v.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  // ---------------------------------------------------------------- q191
  // REGISTER state through the REAL streaming engine (the q174 recipe
  // applied to mapGroupsWithState): readStream file source → per-group
  // HLL register fold through the engine's checkpointed state store →
  // update-mode sink, run to completion; terminal row per group selected
  // by max n_events (deterministic whatever the engine's file-batching —
  // registers only grow). q93 proves the operator's batch twin; this row
  // proves the byte-array state (de)serializes through the state store
  // and survives micro-batch boundaries. Oracle: q93's replay verbatim —
  // the terminal streaming estimate must equal the batch HLL over the
  // same events, bit-exactly.
  private val q191: Q = (s, dir) =>
    graft.streaming.StreamingDistinct
      .runningDistinctFileStream(s, s"$dir/events.parquet")
      .select(col("group"), col("est_distinct"), col("n_events"))
      .orderBy("group")

  private val q191Sql = q93Sql

  // ---------------------------------------------------------------- q192
  // Recall@5 vs nProbe SWEEP for the IVF index (Similarity.ivfRecallSweep)
  // — the tuning curve behind q122's single recall point: one scoring
  // pass tags every (query, corpus) pair with the corpus cell's rank in
  // the query's probe order, and recall at nProbe ∈ {1,2,4,8} is derived
  // by ranking the cell_rank ≤ nProbe subset — no re-scoring per sweep
  // point. The nProbe=8 (=kClusters) rows are 1.0 BY CONSTRUCTION (full
  // probe under the truth metric) — a built-in self-check the oracle
  // hash-pins; SimilaritySpec additionally pins monotonicity in nProbe.
  // Scale shape: runs on the bounded audit sample; the scoring pass is
  // the same size as the exact-truth pass the audit pays anyway.
  private val q192: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfRecallSweep(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, kClusters = 8, nProbes = Seq(1, 2, 4, 8), iters = 1)
      .orderBy("nprobe", "query_id")
  }

  private val q192Sql = {
    def qz(x: String) = duckQz(x)
    def cosSums(src: String, extra: String) =
      s"""SELECT query_id, neighbor_id$extra,
         |  CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
         |  CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
         |  CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
         |FROM $src GROUP BY query_id, neighbor_id$extra""".stripMargin
    s"""WITH $duckIvfA1Ctes,
       |prq AS (SELECT vec_id AS query_id, cluster,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS cell_rank
       |        FROM d1 WHERE vec_id < 10),
       |cand AS (SELECT p.query_id, a1.vec_id AS neighbor_id, p.cell_rank
       |         FROM a1 JOIN prq p ON p.cluster = a1.cluster AND a1.vec_id <> p.query_id),
       |cpr AS (SELECT c.query_id, c.neighbor_id, c.cell_rank,
       |         unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |        FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
       |                    JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |csum AS (${cosSums("cpr", ", cell_rank")}),
       |np AS (SELECT * FROM (VALUES (1),(2),(4),(8)) v(nprobe)),
       |rnk AS (SELECT np.nprobe, s.query_id, s.neighbor_id,
       |         row_number() OVER (PARTITION BY np.nprobe, s.query_id
       |           ORDER BY s.dot/sqrt(s.nq*s.nn) DESC, s.neighbor_id) AS rn
       |        FROM csum s JOIN np ON s.cell_rank <= np.nprobe),
       |hit AS (SELECT nprobe, query_id, neighbor_id FROM rnk WHERE rn <= 5),
       |epr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         unnest(q.embedding) AS qe, unnest(c.embedding) AS ne
       |        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |        WHERE q.vec_id < 10),
       |esums AS (${cosSums("epr", "")}),
       |ernk AS (SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |        FROM esums),
       |ex AS (SELECT query_id, neighbor_id FROM ernk WHERE rnk <= 5)
       |SELECT np.nprobe, ex.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS recall
       |FROM ex CROSS JOIN np
       |LEFT JOIN hit h ON h.nprobe = np.nprobe AND h.query_id = ex.query_id
       |  AND h.neighbor_id = ex.neighbor_id
       |GROUP BY np.nprobe, ex.query_id ORDER BY np.nprobe, ex.query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q193
  // Temperature-based source rebalancing (Sampling.temperatureRebalance)
  // — the LLM data-mixing move: kept share per lang ∝ √n (temperature
  // T=2), flattening the natural distribution so rare sources aren't
  // drowned. Weights are ⌊√n⌋ (IEEE sqrt is correctly rounded on every
  // engine — the ONE fractional exponent with an exactly reproducible
  // weight rule; pow's last-ulp libm differences would flip weights);
  // selection is q90's deterministic hash-threshold replay with
  // DATA-DERIVED weights — the oracle recomputes counts → isqrt weights →
  // lcm (list_reduce) → the survival inequality, end to end in SQL.
  private val q193Salt = 31L
  private val q193: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val kept = Sampling.temperatureRebalance(d, "doc_id", "lang", salt = q193Salt)
    val k = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val before = d.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val tot = k.agg(sum(col("n_kept")).as("__tot"))
    before.join(k, "lang")
      .crossJoin(broadcast(tot))
      .withColumn("kept_share",
        col("n_kept").cast("double") / col("__tot").cast("double"))
      .select("lang", "n_before", "n_kept", "kept_share")
      .orderBy("lang")
  }

  private val q193Sql = {
    import DuckHash._
    val saltG = (BigInt(q193Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    s"""WITH mx0 AS (SELECT doc_id, lang,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |w AS (SELECT lang, cnt,
       |  GREATEST(CAST(FLOOR(SQRT(CAST(cnt AS DOUBLE))) AS BIGINT), 1) AS wt FROM c),
       |l AS (SELECT list_reduce(list(wt), (a, b) -> lcm(a, b)) AS lcmw FROM w),
       |wl AS (SELECT w.lang, w.cnt, w.wt, l.lcmw, l.lcmw // w.wt AS lw
       |       FROM w CROSS JOIN l),
       |m AS (SELECT min(cnt * lw) AS bm FROM wl),
       |kept AS (SELECT k.lang, count(*) AS n_kept
       |  FROM mx4 k JOIN wl c ON k.lang = c.lang CROSS JOIN m
       |  WHERE CAST($bucket AS HUGEINT) * c.lcmw * c.cnt
       |      < CAST(1000000 AS HUGEINT) * c.wt * m.bm
       |  GROUP BY k.lang),
       |tot AS (SELECT CAST(sum(n_kept) AS BIGINT) AS total FROM kept),
       |before_c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang)
       |SELECT b.lang, b.n_before, k.n_kept,
       | CAST(k.n_kept AS DOUBLE) / CAST(t.total AS DOUBLE) AS kept_share
       |FROM before_c b JOIN kept k ON b.lang = k.lang CROSS JOIN tot t
       |ORDER BY b.lang""".stripMargin
  }

  // ---------------------------------------------------------------- q194
  // Epoch-mix PLAN (Sampling.epochMixPlan) — the UPSAMPLING half of data
  // mixing: per source, how many full epochs plus how many remainder rows
  // hit a target share of a total row budget (the "source X for 3.4
  // epochs" table an LLM data recipe publishes). All-integer: target =
  // ⌊budget·w/Σw⌋, epochs = target div n, remainder = target mod n —
  // bit-identical cross-engine, one bounded aggregation. Weights make en
  // UNDER-sampled (epochs 0) and zh/fr OVER-sampled (epochs > 1), so both
  // regimes are value-checked.
  private val q194: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    Sampling.epochMixPlan(d, "lang",
        Map("en" -> 1L, "zh" -> 3L, "es" -> 2L, "de" -> 2L, "fr" -> 3L),
        budgetRows = 1000L)
      .orderBy("lang")
  }

  private val q194Sql =
    s"""WITH w AS (SELECT * FROM (VALUES
       |    ('en', 1), ('zh', 3), ('es', 2), ('de', 2), ('fr', 3)) t(lang, wt)),
       |c AS (SELECT d.lang, any_value(w.wt) AS wt, count(*) AS n FROM documents d
       |      JOIN w ON d.lang = w.lang GROUP BY d.lang),
       |p AS (SELECT lang, n, wt, (1000 * wt) // 11 AS target FROM c)
       |SELECT lang, CAST(n AS BIGINT) AS n_rows, CAST(wt AS BIGINT) AS weight,
       |  CAST(target AS BIGINT) AS target_rows,
       |  CAST(target // n AS BIGINT) AS full_epochs,
       |  CAST(target % n AS BIGINT) AS remainder_rows
       |FROM p ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q195
  // Stream-stream interval join through the REAL streaming engine
  // (StreamingJoin.intervalJoinFileStream — the q174/q191 recipe applied
  // to the symmetric-hash join operator): two independent readStream file
  // sources over the same events table, q94's probe/match split, the
  // watermarked banded join buffering BOTH sides in the engine's
  // checkpointed state store, append-mode sink run to completion. q94
  // proves the operator's batch twin; this row proves join state
  // round-trips through the state store and pairs match across
  // micro-batch boundaries. Oracle: q94's replay verbatim — an inner
  // stream-stream join run to completion must equal the batch interval
  // join over the same events, row for row (the harness widens only the
  // EVICTION horizon, which a complete run never reaches; see
  // intervalJoinFileStream's scaladoc for why a tight watermark would be
  // nondeterministic under arbitrary file batching).
  private val q195: Q = (s, dir) =>
    graft.streaming.StreamingJoin
      .intervalJoinFileStream(s, s"$dir/events.parquet")
      .orderBy("probe_id", "match_id")

  private val q195Sql = q94Sql

  // ---------------------------------------------------------------- q196
  // Corpus-wide duplicated-LINE removal (Dedup.dropDuplicatedLines) — the
  // boilerplate scrub every web-corpus pipeline runs (RefinedWeb's
  // line-wise corrections, Dolma's paragraph dedup): any line appearing in
  // ≥ 5 distinct documents (nav menus, cookie banners, promo footers) is
  // dropped from every document, and the text is reassembled from the
  // surviving lines in original order. The corpus has no newlines, so each
  // doc synthesizes a 4-line page hitting every verdict class (the q186
  // synthesize-then-scrub convention): a 3-variant cookie/subscribe/follow
  // banner (≈n/3 docs each — removed), a 6-token content prefix (the rule
  // decides its fate — shared prefixes get scrubbed too, exactly like real
  // template text), a doc-unique footer (kept), and a 4-variant promo code
  // line keyed off mix64 (removed). The oracle rebuilds the same lines
  // arithmetically and replays count→filter→reassemble in SQL, so the
  // verdict threshold, within-doc-repeat handling (countDistinct docs, not
  // occurrences), and reassembly ORDER are all value-checked.
  private val q196: Q = (s, dir) => {
    val k = col("doc_id").cast("long")
    val mh = graft.functions.HashFunctions.mix64(k)
    val l1 = when(k % 3 === 0, lit("accept all cookies to continue"))
      .when(k % 3 === 1, lit("subscribe to our newsletter today"))
      .otherwise(lit("follow us on social media"))
    val l2 = concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 6))
    val l3 = format_string("document %d of %s", k, col("source"))
    val l4 = format_string("promo code %d", mh.bitwiseAND(lit(3L)))
    val pages = Tables.documents(s, dir)
      .select(k.as("doc_id"), concat_ws("\n", l1, l2, l3, l4).as("page"))
    Dedup.dropDuplicatedLines(pages, "doc_id", "page", minDocs = 5L)
      .orderBy("doc_id")
  }

  private val q196Sql = {
    val mh = DuckHash.mix64Inline("CAST(k AS UBIGINT)")
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k, text, source FROM documents),
       |ln AS (
       |  SELECT k, 0 AS pos,
       |    CASE WHEN k % 3 = 0 THEN 'accept all cookies to continue'
       |         WHEN k % 3 = 1 THEN 'subscribe to our newsletter today'
       |         ELSE 'follow us on social media' END AS line FROM d
       |  UNION ALL
       |  SELECT k, 1, array_to_string(list_slice(
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END, 1, 6), ' ') FROM d
       |  UNION ALL
       |  SELECT k, 2, 'document ' || CAST(k AS VARCHAR) || ' of ' || source FROM d
       |  UNION ALL
       |  SELECT k, 3, 'promo code ' || CAST(($mh) & 3 AS VARCHAR) FROM d),
       |nb AS (SELECT k, pos, line FROM ln WHERE length(trim(line)) > 0),
       |boiler AS (SELECT line FROM (
       |    SELECT line, count(DISTINCT k) AS nd FROM nb GROUP BY line) WHERE nd >= 5),
       |kept AS (SELECT nb.k, nb.pos, nb.line FROM nb
       |  LEFT JOIN boiler b ON nb.line = b.line WHERE b.line IS NULL),
       |re AS (SELECT k, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
       |  FROM kept GROUP BY k),
       |tot AS (SELECT k, count(*) AS n_lines FROM nb GROUP BY k)
       |SELECT t.k AS doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
       |  CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(r.cleaned_text, '') AS cleaned_text
       |FROM tot t LEFT JOIN re r ON r.k = t.k
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q197
  // Tokenizer FERTILITY per language (tokens-per-word after BPE encoding)
  // — the tokenizer-fairness metric an LLM data team reads before fixing a
  // vocab: a tokenizer trained on a skewed mix fragments under-represented
  // languages into more pieces (higher fertility), inflating their
  // effective sequence length and training cost. Train q188's 6 merges,
  // encode the word VOCABULARY once (bounded, map-only chained folds),
  // then join each document word's piece count back through a broadcast
  // (the corpus-side pass is explode + broadcast-probe + one lang-keyed
  // aggregation — the 100 TB shape). The oracle replays training to st6
  // (duckBpeCtes — the SAME shared chain as q188/q189) and re-derives the
  // per-lang word stream independently, so merge application, the word
  // filter, and the fertility arithmetic are all value-checked.
  private val q197: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val vocab = BpeTrainer.wordVocab(docs, "text")
    val (merges, _) = BpeTrainer.train(vocab, nMerges = 6)
    val pieces = BpeTrainer.encodeVocab(vocab, merges)
      .select(col("word"), size(col("syms")).cast("long").as("__np"))
    val docWords = docs
      .select(col("lang"),
        explode(TextFunctions.tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    docWords
      .join(broadcast(pieces), Seq("word"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("__np")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
      .orderBy("lang")
  }

  private val q197Sql =
    s"""WITH ${duckBpeCtes(6)},
       |pieces AS (SELECT word, CAST(len(syms) AS BIGINT) AS np FROM st6),
       |dw AS (SELECT lang, unnest(
       |    CASE WHEN length(trim(lower(text))) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS word
       |  FROM documents),
       |fw AS (SELECT lang, word FROM dw WHERE regexp_matches(word, '^[a-z]+$$'))
       |SELECT f.lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(p.np) AS BIGINT) AS n_tokens,
       |  CAST(sum(p.np) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
       |FROM fw f JOIN pieces p ON p.word = f.word
       |GROUP BY f.lang ORDER BY f.lang""".stripMargin

  // ---------------------------------------------------------------- q198
  // HTML → text extraction (TextFunctions.htmlToText) — the FIRST step of
  // every web-corpus pipeline, upstream of every scrub the catalog already
  // has (line dedup q196, quality q22, lang-id q23, dedup tiers). Each doc
  // synthesizes a full page around its text (the q186/q196 convention)
  // exercising every extraction rule: a <style> block and a <script>
  // containing both a '<' comparison and a literal "</p>" (contents must
  // DROP, and the embedded block tag must not leak a newline), an HTML
  // comment whose contents (prose AND an embedded <p>) must drop without
  // leaking a newline, a <![CDATA[...]]> section that likewise drops with
  // contents, block tags (title/nav/h1/p/div and table cells td/th) that
  // become line structure, inline <em> that must NOT split words,
  // entities including the &amp;amp; single-decode trap (renders as the
  // five characters "&amp;", never double-decodes), NUMERIC character
  // references (decimal &#8217;, hex &#x2019;/&#X2019;, and the
  // &amp;#60; numeric single-decode trap — stays the five characters
  // "&#60;"), &nbsp; and quotes, tag-noise whitespace that must
  // collapse, and a <pre> block whose indentation, tab and internal
  // newline must SURVIVE the global collapse (the PreWhitespaceSentinels
  // kernel). The oracle does NOT replay the regex chain — it derives
  // the EXPECTED text arithmetically from the generator's pieces (title
  // line, nav line, entity lines decoded by hand, table cells, body,
  // byline), so every rule is value-checked against an independent
  // derivation, full-string compare.
  private val q198: Q = (s, dir) => {
    val k = col("doc_id").cast("long")
    val body = concat_ws(" ", TextFunctions.tokens(col("text")))
    val page = format_string(
      "<!DOCTYPE html><html><head><title>Doc %d</title>" +
        "<style>body{color:#333}</style></head><body>" +
        "<script>var x=1<2; s=\"</p>\";</script>" +
        "<!-- draft note <p>never ships</p> -->" +
        "<nav>Home | About</nav><h1>Doc %d</h1>" +
        "<p>A &amp;amp; B &lt;i&gt; &quot;Q&quot;&nbsp;!</p>" +
        "<p>It&#8217;s &#x2019;quoted&#X2019; &amp;#60;kept&#59;</p>" +
        "<![CDATA[raw <td> bytes]]>" +
        "<table><tr><td>c1</td><th>c2</th></tr></table>" +
        "<pre>  x = 1;\n\ty = 2;</pre>" +
        "<div>%s</div><em>by %s</em></body></html>",
      k, k, body, col("source"))
    Tables.documents(s, dir)
      .select(k.as("doc_id"),
        TextFunctions.htmlToText(page).as("extracted"))
      .select(col("doc_id"), col("extracted"),
        size(split(col("extracted"), "\n")).cast("long").as("n_lines"),
        length(col("extracted")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  private val q198Sql =
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k, source,
       |    array_to_string(
       |      CASE WHEN length(trim(text)) = 0 THEN []
       |           ELSE regexp_split_to_array(trim(text), '\\s+') END, ' ') AS body
       |  FROM documents),
       |e AS (SELECT k, array_to_string(list_filter([
       |    'Doc ' || CAST(k AS VARCHAR),
       |    'Home | About',
       |    'Doc ' || CAST(k AS VARCHAR),
       |    'A &amp; B <i> "Q" !',
       |    'It' || chr(8217) || 's ' || chr(8217) || 'quoted' || chr(8217)
       |      || ' &#60;kept;',
       |    'c1',
       |    'c2',
       |    '  x = 1;' || chr(10) || chr(9) || 'y = 2;',
       |    body,
       |    'by ' || source], x -> x <> ''), chr(10)) AS extracted
       |  FROM d)
       |SELECT k AS doc_id, extracted,
       |  CAST(len(string_split(extracted, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(length(extracted) AS BIGINT) AS n_chars
       |FROM e ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q199
  // Web-corpus curation CAPSTONE — the round's new operators composing in
  // ONE lazy plan, the way a FineWeb-style pipeline actually ships: raw
  // HTML page (synthesized per doc: nav banner, body paragraph, a
  // doc-unique ref line, a per-source footer — docs with k%7==0 plant a
  // SHARED boilerplate body so both scrub regimes fire) → htmlToText
  // (q198's extractor) → corpus-wide duplicated-line scrub (q196's
  // operator: the nav line spans all 500 docs, each footer spans its
  // source's 25, the planted bodies span ~71 — all drop at minDocs=5;
  // real bodies and ref lines survive) → survival gate (a doc whose BODY
  // was boilerplate has only its ref line left and is dropped) →
  // per-source export rollup (docs, kept docs, kept token mass). Scale
  // shape: extraction rides the scan, the scrub is q196's two
  // aggregations + anti-probe, the gate is a filter, the rollup is
  // source-keyed — one lazy plan, no collect. The oracle re-derives the
  // extracted lines arithmetically (q198's convention) and replays
  // scrub→gate→rollup in SQL, so the whole composition is value-checked
  // end-to-end.
  private val q199: Q = (s, dir) => {
    val k = col("doc_id").cast("long")
    val docs = Tables.documents(s, dir)
    val body = when(k % 7 === 0, lit("lorem ipsum boilerplate body"))
      .otherwise(concat_ws(" ", TextFunctions.tokens(col("text"))))
    val page = concat(
      lit("<html><body><nav>Site Nav</nav><p>"), body,
      lit("</p><div>"), format_string("ref %d", k),
      lit("</div><footer>(c) "), col("source"),
      lit(" network</footer></body></html>"))
    val pages = docs.select(k.as("doc_id"),
      TextFunctions.htmlToText(page).as("page"))
    val scrubbed = Dedup.dropDuplicatedLines(pages, "doc_id", "page", minDocs = 5L)
      .withColumn("__kept", (col("n_lines") - col("n_removed")) >= 2)
      .withColumn("__toks", when(col("__kept"),
        TextFunctions.tokenCount(col("cleaned_text")).cast("long")).otherwise(0L))
    docs.select(k.as("doc_id"), col("source"))
      .join(scrubbed, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(col("__toks")).as("n_tokens_kept"))
      .orderBy("source")
  }

  private val q199Sql =
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k, source, text FROM documents),
       |b AS (SELECT k, source,
       |    CASE WHEN k % 7 = 0 THEN 'lorem ipsum boilerplate body'
       |         ELSE array_to_string(
       |           CASE WHEN length(trim(text)) = 0 THEN []
       |                ELSE regexp_split_to_array(trim(text), '\\s+') END, ' ') END AS body
       |  FROM d),
       |ln AS (
       |  SELECT k, source, 0 AS pos, 'Site Nav' AS line FROM b
       |  UNION ALL SELECT k, source, 1, body FROM b
       |  UNION ALL SELECT k, source, 2, 'ref ' || CAST(k AS VARCHAR) FROM b
       |  UNION ALL SELECT k, source, 3, '(c) ' || source || ' network' FROM b),
       |nb AS (SELECT * FROM ln WHERE length(trim(line)) > 0),
       |boiler AS (SELECT line FROM (
       |    SELECT line, count(DISTINCT k) AS nd FROM nb GROUP BY line) WHERE nd >= 5),
       |kept AS (SELECT nb.k, nb.source, nb.line FROM nb
       |  LEFT JOIN boiler bo ON nb.line = bo.line WHERE bo.line IS NULL),
       |doc AS (SELECT k, source, count(*) AS n_kept,
       |    sum(len(regexp_split_to_array(trim(line), '\\s+'))) AS n_toks
       |  FROM kept GROUP BY k, source)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_kept >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       |  CAST(sum(CASE WHEN n_kept >= 2 THEN n_toks ELSE 0 END) AS BIGINT) AS n_tokens_kept
       |FROM doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q200
  // Watermark-evicted dedup through the REAL streaming engine
  // (StreamingDedup.dedupFileStream — the q174/q191/q195 recipe applied
  // to dropDuplicatesWithinWatermark, the last stateful operator class
  // the gate previously saw only as q92's batch Deduplicate substitute):
  // readStream file source over documents → synthesized event time →
  // the watermark-keyed dedup state store → append sink, run to
  // completion. The eviction horizon is wider than the synthesized time
  // span, so no eviction and no late-drop can fire and the surviving
  // fingerprint SET equals the batch twin under ANY file batching (see
  // dedupFileStream's scaladoc); tight-horizon eviction semantics are
  // pinned by StreamingSpec. Oracle: q92's replay verbatim.
  private val q200: Q = (s, dir) =>
    graft.streaming.StreamingDedup
      .dedupFileStream(s, s"$dir/documents.parquet")
      .orderBy("fp")

  private val q200Sql = q92Sql

  // ---------------------------------------------------------------- q201
  // Per-user quota throttle through the REAL streaming engine
  // (StreamingThrottle.throttledFileStream): readStream file source →
  // the admitted-counter state-store fold → append sink run to
  // completion → per-user ADMITTED COUNTS. The count projection is
  // batching-independent — admitted-per-user = min(limit, events) under
  // any delivery order — so a lost or doubled state round-trip surfaces
  // as over/under-admission; WHICH events are admitted is pinned by
  // StreamingSpec's controlled-batch MemoryStream test. Oracle: the
  // min(limit, count) identity computed directly.
  private val q201: Q = (s, dir) =>
    graft.streaming.StreamingThrottle
      .throttledFileStream(s, s"$dir/events.parquet", limit = 5)
      .orderBy("user_id")

  private val q201Sql =
    """SELECT user_id, LEAST(5, count(*)) AS n_admitted
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q202
  // First-touch funnel through the REAL streaming engine
  // (StreamingFunnel.stepsFileStream): readStream file source → the
  // per-user step-time-vector state-store fold → append sink, run to
  // completion — every (user, step, reach time) row, value-checked
  // against q83's derivation per user (not just the stage counts). A
  // funnel is order-sensitive, so this row leans on AvailableNow's
  // one-data-batch property for a source with no per-trigger cap (see
  // stepsFileStream's scaladoc); out-of-order behavior is pinned by
  // StreamingSpec. Oracle: q83's v/c/p chain emitting the rows
  // themselves.
  private val q202: Q = (s, dir) =>
    graft.streaming.StreamingFunnel
      .stepsFileStream(s, s"$dir/events.parquet", Seq("view", "click", "purchase"))
      .select(col("user_id"), col("step"), col("ts"))
      .orderBy("user_id", "step")

  private val q202Sql =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id)
      |SELECT user_id, CAST(1 AS INTEGER) AS step, CAST(t AS TIMESTAMP) AS ts FROM v
      |UNION ALL SELECT user_id, CAST(2 AS INTEGER), CAST(t AS TIMESTAMP) FROM c
      |UNION ALL SELECT user_id, CAST(3 AS INTEGER), CAST(t AS TIMESTAMP) FROM p
      |ORDER BY user_id, step""".stripMargin

  // ---------------------------------------------------------------- q203
  // Journey-transition matrix through the REAL streaming engine
  // (StreamingTransitions.edgesFileStream): readStream file source → the
  // last-event state-store fold → append sink run to completion → the
  // (from_type, to_type, n) matrix. Order-sensitive like q202 — same
  // one-data-batch rationale; the edge multiset then equals
  // Funnel.transitions exactly. Oracle: q112's lead() replay, counts
  // only (the share column is q112's own certificate).
  private val q203: Q = (s, dir) =>
    graft.streaming.StreamingTransitions
      .edgesFileStream(s, s"$dir/events.parquet")
      .orderBy("from_type", "to_type")

  private val q203Sql =
    """WITH seq AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type AS from_type, next_type AS to_type, count(*) AS n_transitions
      |FROM seq WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q204
  // Running top-k leaderboard through the REAL streaming engine
  // (StreamingLeaders.topKLeadersFileStream — the recipe applied to the
  // stateful-AGGREGATION operator, StateStoreSave, whose serialized
  // k-heap buffers no other real-engine row exercises): readStream file
  // source → streaming groupBy + TopKAgg → COMPLETE-mode sink run to
  // completion (final table = final aggregation state). TopKAgg's merge
  // is commutative with a total tiebreak, so the result is deterministic
  // under ANY file batching. Oracle: q162's row_number replay verbatim.
  private val q204: Q = (s, dir) =>
    graft.streaming.StreamingLeaders
      .topKLeadersFileStream(s, s"$dir/events.parquet", k = 3)
      .orderBy("event_type", "rnk")

  private val q204Sql = q162Sql

  // ---------------------------------------------------------------- q205
  // PLANTED-STRUCTURE recall certificate — the missing half of q190/q122,
  // which measure recall on uniform-random embeddings where LOW absolute
  // recall is the correct answer (they certify the measurement pipeline,
  // not the index). This row makes the recall NUMBER itself meaningful to
  // the driver: embeddings are synthesized with known product-quantizable
  // cluster structure, and all three index tiers (IVF-Flat, PQ, IVFPQ)
  // must achieve recall@5 = 1.0 on it — value-checked hash-exact against
  // the SAME DuckDB replay chains as q48/q185/q187 (the planted table is
  // a CTE shadowing `embeddings`, so the chains run verbatim).
  //
  // Fixture (SimilaritySpec's planted-cluster convention promoted to a
  // catalog row, sized to the index chain's hard parameters): 384 vectors
  // (ids < 384 so the fixture is SF-invariant), 64 dims = 4 subspaces of
  // 16. Micro-cluster g = id mod 64 has EXACTLY 6 members; its per-
  // subspace patterns c_s (a spike of 10.0 at dim 2·c_s of subspace s,
  // plus ≤0.096 deterministic integer-rational jitter) are chosen so
  // (a) ids 0..7 — the chains' hard-coded seeds — cover all 8 patterns in
  // EVERY subspace (odd multipliers mod 8 are bijections), so one Lloyd
  // round recovers every codebook exactly, and (b) (c_0, c_1) determines
  // g (c1 = (3b + a) mod 8 is injective in a given b), so distinct
  // micro-clusters differ in ≥ 1 subspace by ~200 squared-L2 while mates
  // differ by jitter only. True top-5 of any query = its 5 mates; every
  // tier must rank all 5 above everything else: IVF probes the query's
  // own cell (mates share it) and scores candidates EXACTLY; PQ/IVFPQ
  // ADC error is jitter-scale, 3 orders below the inter-cluster margin.
  // recall < 1.0 here means the INDEX degraded, not the fixture.
  private val q205: Q = (s, dir) => {
    val id = col("doc_id").cast("long")
    val bb = id % 8
    val aa = ((id % 64) / 8).cast("long")
    val emb = transform(sequence(lit(0), lit(63)), d => {
      val sub = (d / 16).cast("int")
      val c = when(sub === 0, bb)
        .when(sub === 1, (bb * 3 + aa) % 8)
        .when(sub === 2, (bb * 5 + aa * 3) % 8)
        .otherwise((bb * 7 + aa * 5) % 8)
      (when((d % 16) === c * 2, lit(10.0)).otherwise(lit(0.0))
        + ((id * 31 + d.cast("long") * 7) % 97).cast("double") / 1000.0).cast("float")
    })
    // The planted fixture is 384 rows by construction, yet ~10 training
    // collects re-derived it (parquet scan + the 64-way when-chain
    // transform) per job and re-compiled that tree into every plan.
    // Materialize it ONCE — the knnIvfPq-internal precedent: checkpointing
    // a bounded TRAINING SAMPLE, not a corpus — so every training job and
    // the truth/search legs read 384 in-memory rows from trivially small
    // plans. Values are unchanged (localCheckpoint materializes, never
    // recomputes differently).
    val e = Tables.documents(s, dir)
      .filter(col("doc_id") < 384)
      .select(id.as("vec_id"), emb.as("embedding"))
      .localCheckpoint()
    val qs = e.filter(col("vec_id") < 5)
    val truth = Similarity.knnExactL2(e, qs, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // The IVF and IVFPQ legs need the SAME deterministic coarse quantizer
    // (same corpus, kClusters=8, iters=1 — bit-identical retrain): train it
    // once and hand it to both instead of paying two ivfTrain collect
    // chains. The remaining eager chains (PQ codebooks ×2) still share no
    // state — build concurrently (q190's move).
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding", k = 8, iters = 1)
    val Seq(ivf, pq, ivfpq) = graft.operators.Concurrency.inParallel(Seq(
      () => Similarity
        .knnIvf(e, qs, "vec_id", "embedding",
          k = 5, kClusters = 8, nProbe = 2, iters = 1, exact = true,
          pretrained = Some(cents))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__ivf")),
      () => Similarity
        .knnPq(e, qs, "vec_id", "embedding", dim = 64, k = 5, m = 4, kCodes = 8, iters = 1)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__pq")),
      () => Similarity
        .knnIvfPq(e, qs, "vec_id", "embedding",
          dim = 64, k = 5, kClusters = 8, nProbe = 2, m = 4, kCodes = 8, iters = 1,
          pretrained = Some(cents))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__ivfpq"))))
    def recallCols(hits: Column, tag: String) = Seq(
      hits.as(s"${tag}_hits"),
      (hits.cast("double") / col("k").cast("double")).as(s"${tag}_recall"),
      (hits.cast("double") / col("k").cast("double") >= 0.999).as(s"${tag}_ok"))
    truth
      .join(broadcast(ivf), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(pq), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(ivfpq), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("__ivf"), lit(0L))).as("__ih"),
        sum(coalesce(col("__pq"), lit(0L))).as("__ph"),
        sum(coalesce(col("__ivfpq"), lit(0L))).as("__vh"))
      .select(col("query_id") +: col("k") +:
        (recallCols(col("__ih"), "ivf") ++
          recallCols(col("__ph"), "pq") ++
          recallCols(col("__vh"), "ivfpq")): _*)
      .orderBy("query_id")
  }

  private val q205Sql = {
    def qz(x: String) = duckQz(x)
    s"""WITH psrc AS (SELECT CAST(doc_id AS BIGINT) AS vec_id FROM documents WHERE doc_id < 384),
       |embeddings AS (SELECT vec_id, list_transform(range(0, 64), d -> CAST(
       |    CASE WHEN (d % 16) = 2 * (CASE d // 16
       |        WHEN 0 THEN vec_id % 8
       |        WHEN 1 THEN ((vec_id % 8) * 3 + (vec_id % 64) // 8) % 8
       |        WHEN 2 THEN ((vec_id % 8) * 5 + ((vec_id % 64) // 8) * 3) % 8
       |        ELSE ((vec_id % 8) * 7 + ((vec_id % 64) // 8) * 5) % 8 END)
       |      THEN 10.0 ELSE 0.0 END
       |    + CAST((vec_id * 31 + d * 7) % 97 AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding
       |  FROM psrc),
       |$duckIvfA1Ctes,
       |$duckIvfPqChainCtes,
       |${duckPqChainCtes("p")},
       |iq AS (SELECT vec_id AS query_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1 WHERE vec_id < 5) WHERE rn <= 2),
       |icand AS (SELECT p.query_id, a1.vec_id AS neighbor_id
       |         FROM iq p JOIN a1 ON a1.cluster = p.cluster AND a1.vec_id <> p.query_id),
       |ipr AS (SELECT c.query_id, c.neighbor_id, unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM icand c JOIN embeddings q ON q.vec_id = c.query_id
       |                    JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |isc AS (SELECT query_id, neighbor_id,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
       |        CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
       |       FROM ipr GROUP BY query_id, neighbor_id),
       |ivf5 AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |        FROM isc) WHERE rnk <= 5),
       |xq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
       |xp AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |        unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM xq q JOIN embeddings n ON n.vec_id <> q.vec_id),
       |xd AS (SELECT query_id, neighbor_id, ${duckDsq("qe", "ne")} AS dist
       |       FROM xp GROUP BY query_id, neighbor_id),
       |xt AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |        FROM xd) WHERE rn <= 5),
       |pq5 AS (SELECT query_id, neighbor_id FROM pr WHERE rnk <= 5),
       |vq5 AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 5)
       |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS ivf_recall,
       |  (CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) >= 0.999) AS ivf_ok,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pq_hits,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS pq_recall,
       |  (CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) >= 0.999) AS pq_ok,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivfpq_hits,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS ivfpq_recall,
       |  (CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) >= 0.999) AS ivfpq_ok
       |FROM xt t
       |LEFT JOIN ivf5 i ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
       |LEFT JOIN pq5 p ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
       |LEFT JOIN vq5 v ON v.query_id = t.query_id AND v.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q206
  // q200's watermark-evicted dedup on the ROCKSDB state-store provider
  // (StreamingDedup.dedupFileStreamRocksDb) — the 100 TB state-backend
  // certificate: the default HDFS-backed provider keeps
  // every key's state in executor heap, an OOM ceiling when distinct keys
  // per partition outgrow memory; RocksDB bounds state by local disk and
  // changelog checkpointing uploads per-batch deltas. Identical query,
  // identical output contract — the oracle is q200's (= q92's) replay
  // verbatim, so the gate value-checks that swapping the state backend
  // changes NOTHING about the result.
  private val q206: Q = (s, dir) =>
    graft.streaming.StreamingDedup
      .dedupFileStreamRocksDb(s, s"$dir/documents.parquet")
      .orderBy("fp")

  private val q206Sql = q92Sql

  // ---------------------------------------------------------------- q207
  // q195's stream-stream interval join on the ROCKSDB state-store
  // provider (StreamingJoin.intervalJoinFileStreamRocksDb) — the q206
  // state-backend certificate extended to the state shape that actually
  // outgrows heap FIRST: the symmetric-hash
  // join buffers BOTH input sides in the store for the watermark
  // horizon, so its state is (two streams × horizon) wide where
  // watermark dedup holds one fingerprint per key. Identical query,
  // identical output contract — the oracle is q195's (= q94's batch
  // interval-join replay) verbatim, so the gate value-checks that join
  // state round-tripping through RocksDB's on-disk store changes
  // NOTHING about which pairs match across micro-batch boundaries.
  private val q207: Q = (s, dir) =>
    graft.streaming.StreamingJoin
      .intervalJoinFileStreamRocksDb(s, s"$dir/events.parquet")
      .orderBy("probe_id", "match_id")

  private val q207Sql = q94Sql

  // ---------------------------------------------------------------- q208
  // q174's flatMapGroupsWithState sessionizer on the ROCKSDB state-store
  // provider (StreamingSessionize.sessionsFileStreamRocksDb) — the third
  // and last stateful-class backend certificate: USER-DEFINED state, an
  // encoder-serialized case-class blob per active user, round-tripped
  // through RocksDB with event-time TIMEOUT eviction driven by the
  // engine's watermark. The oracle is q174's verbatim — the
  // tolerance-free μs→ms rounding + strict-compare timeout replay — so a
  // backend that mangled the state bytes OR fired timeouts differently
  // would hash-mismatch, not just row-count-drift.
  private val q208: Q = (s, dir) =>
    graft.streaming.StreamingSessionize
      .sessionsFileStreamRocksDb(s, s"$dir/events.parquet")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  private val q208Sql = q174Sql

  // ------------------------------------------------------------------

  val all: Map[String, Q] = Map(
    "q01_pricing_summary" -> q01,
    "q02_hourly_rollup" -> q02,
    "q03_top_users" -> q03,
    "q04_event_counts" -> q04,
    "q05_null_counts" -> q05,
    "q06_describe_stats" -> q06,
    "q07_clean_coerce" -> q07,
    "q08_range_filter" -> q08,
    "q09_semi_join" -> q09,
    "q10_anti_join" -> q10,
    "q11_normalize_lookup" -> q11,
    "q12_top_orders" -> q12,
    "q13_region_revenue" -> q13,
    "q14_window_top3" -> q14,
    "q15_rollup_sales" -> q15,
    "q16_distinct_flags" -> q16,
    "q17_constraint_audit" -> q17,
    "q18_exists_subquery" -> q18,
    "q19_big_orders" -> q19,
    "q20_dedup_exact" -> q20,
    "q21_token_stats" -> q21,
    "q22_quality_score" -> q22,
    "q23_lang_id" -> q23,
    "q24_fingerprint" -> q24,
    "q25_ngram_jaccard" -> q25,
    "q26_minhash_sig" -> q26,
    "q27_simhash" -> q27,
    "q28_knn_exact" -> q28,
    "q29_embedding_near_dup" -> q29,
    "q30_ann_lsh" -> q30,
    "q31_multimodal_meta" -> q31,
    "q32_cube_flags" -> q32,
    "q33_sessionize" -> q33,
    "q34_distinct_counts" -> q34,
    "q35_set_ops" -> q35,
    "q36_pivot_case" -> q36,
    "q37_percentiles" -> q37,
    "q38_streaming_hourly" -> q38,
    "q39_census_melt" -> q39,
    "q40_pipeline_compose" -> q40,
    "q41_percentiles_approx" -> q41,
    "q42_token_classes" -> q42,
    "q43_minhash_lsh" -> q43,
    "q44_asof_join" -> q44,
    "q45_stratified_sample" -> q45,
    "q46_repetition_metrics" -> q46,
    "q47_json_extract" -> q47,
    "q48_ivf_ann" -> q48,
    "q49_range_agg" -> q49,
    "q50_distinct_approx" -> q50,
    "q51_contamination" -> q51,
    "q52_pii_redact" -> q52,
    "q53_pack_offsets" -> q53,
    "q54_chunk_windows" -> q54,
    "q55_tfidf_terms" -> q55,
    "q56_shard_manifest" -> q56,
    "q57_salted_rollup" -> q57,
    "q58_dup_clusters" -> q58,
    "q59_vocab_topk" -> q59,
    "q60_int8_quantize" -> q60,
    "q61_dedup_cleaned" -> q61,
    "q62_moving_stats" -> q62,
    "q63_histogram" -> q63,
    "q64_span_dedup" -> q64,
    "q65_token_rarity" -> q65,
    "q66_mix_rebalance" -> q66,
    "q67_zscore_outliers" -> q67,
    "q68_freq_spectrum" -> q68,
    "q69_source_datasheet" -> q69,
    "q70_split_manifest" -> q70,
    "q71_centroid_outliers" -> q71,
    "q72_contingency" -> q72,
    "q73_curation_e2e" -> q73,
    "q74_incremental_dedup" -> q74,
    "q75_hll_distinct" -> q75,
    "q76_sampled_percentiles" -> q76,
    "q77_nfc_normalize" -> q77,
    "q78_upsert_merge" -> q78,
    "q79_cms_heavy_hitters" -> q79,
    "q80_join_skew_probe" -> q80,
    "q81_bloom_prefilter" -> q81,
    "q82_hll_merge" -> q82,
    "q83_funnel" -> q83,
    "q84_retention_cohorts" -> q84,
    "q85_hll_overlap" -> q85,
    "q86_bloom_decontaminate" -> q86,
    "q87_equidepth_histogram" -> q87,
    "q88_analyze_stats" -> q88,
    "q89_sliding_distinct" -> q89,
    "q90_target_mix" -> q90,
    "q91_stream_sessions" -> q91,
    "q92_stream_dedup" -> q92,
    "q93_stream_distinct" -> q93,
    "q94_stream_interval_join" -> q94,
    "q95_max_dup_spans" -> q95,
    "q96_grouped_topk" -> q96,
    "q97_salted_join" -> q97,
    "q98_kmv_quantiles" -> q98,
    "q99_zorder_tiles" -> q99,
    "q100_fused_summary" -> q100,
    "q101_decayed_counts" -> q101,
    "q102_cap_per_group" -> q102,
    "q103_budget_per_group" -> q103,
    "q104_join_size_estimate" -> q104,
    "q105_ks_drift" -> q105,
    "q106_pruning_audit" -> q106,
    "q107_best_survivor_dedup" -> q107,
    "q108_importance_selection" -> q108,
    "q109_leakage_safe_split" -> q109,
    "q112_transition_matrix" -> q112,
    "q113_snapshot_diff" -> q113,
    "q114_quality_gate" -> q114,
    "q115_grouped_vocab" -> q115,
    "q116_semdedup" -> q116,
    "q117_count_anomalies" -> q117,
    "q118_bigram_pmi" -> q118,
    "q119_dim_stats" -> q119,
    "q120_cdc_chunks" -> q120,
    "q121_cross_source_dups" -> q121,
    "q122_ann_recall" -> q122,
    "q123_padding_waste" -> q123,
    "q124_vocab_growth" -> q124,
    "q125_rule_taxonomy" -> q125,
    "q126_minhash_calibration" -> q126,
    "q127_edit_blocking" -> q127,
    "q128_keyword_search" -> q128,
    "q129_pagerank_hubs" -> q129,
    "q130_type_affinity" -> q130,
    "q131_throttle_audit" -> q131,
    "q132_session_paths" -> q132,
    "q133_corr_matrix" -> q133,
    "q134_daily_audience" -> q134,
    "q135_loo_encoding" -> q135,
    "q136_linkage_scores" -> q136,
    "q137_bitmap_distinct" -> q137,
    "q138_scd2_history" -> q138,
    "q139_interarrival" -> q139,
    "q140_ri_sweep" -> q140,
    "q141_simjoin_prefix" -> q141,
    "q142_sliding_anomaly" -> q142,
    "q143_forward_fill" -> q143,
    "q144_compaction_plan" -> q144,
    "q145_iqr_outliers" -> q145,
    "q146_lateness_audit" -> q146,
    "q147_triangle_counts" -> q147,
    "q148_kcore" -> q148,
    "q149_decile_table" -> q149,
    "q150_k_anonymity" -> q150,
    "q151_incremental_agg" -> q151,
    "q152_interval_join" -> q152,
    "q153_group_mode" -> q153,
    "q154_run_lengths" -> q154,
    "q155_concentration" -> q155,
    "q156_l_diversity" -> q156,
    "q157_seasonality" -> q157,
    "q158_reconciliation" -> q158,
    "q159_entity_resolution" -> q159,
    "q160_conversion_lag" -> q160,
    "q161_ship_sla" -> q161,
    "q162_stream_leaders" -> q162,
    "q163_crosstab_composition" -> q163,
    "q164_stream_file_rollup" -> q164,
    "q165_lsh_recall_audit" -> q165,
    "q166_session_window" -> q166,
    "q167_cross_source_dup" -> q167,
    "q168_codec_roundtrip" -> q168,
    "q169_hard_negatives" -> q169,
    "q170_dataset_build" -> q170,
    "q171_geo_contains" -> q171,
    "q172_geo_bucketed" -> q172,
    "q173_utm_reproject" -> q173,
    "q174_stream_real_sessions" -> q174,
    "q175_audio_roundtrip" -> q175,
    "q176_ingest_idempotent" -> q176,
    "q177_mobility_ingest" -> q177,
    "q178_geojson_grid" -> q178,
    "q179_backfill_update" -> q179,
    "q180_geojson_provinces" -> q180,
    "q181_video_roundtrip" -> q181,
    "q182_frame_dedup" -> q182,
    "q183_census_melt" -> q183,
    "q184_wkt_render" -> q184,
    "q185_pq_ann" -> q185,
    "q186_url_canonical" -> q186,
    "q187_ivfpq_ann" -> q187,
    "q188_bpe_train" -> q188,
    "q189_bpe_encode" -> q189,
    "q190_pq_recall" -> q190,
    "q191_stream_real_distinct" -> q191,
    "q192_nprobe_sweep" -> q192,
    "q193_temperature_mix" -> q193,
    "q194_epoch_mix_plan" -> q194,
    "q195_stream_real_join" -> q195,
    "q196_line_dedup" -> q196,
    "q197_tokenizer_fertility" -> q197,
    "q198_html_extract" -> q198,
    "q199_web_curation_e2e" -> q199,
    "q200_stream_real_dedup" -> q200,
    "q201_stream_real_throttle" -> q201,
    "q202_stream_real_funnel" -> q202,
    "q203_stream_real_transitions" -> q203,
    "q204_stream_real_leaders" -> q204,
    "q205_planted_recall" -> q205,
    "q206_stream_rocksdb_dedup" -> q206,
    "q207_stream_rocksdb_join" -> q207,
    "q208_stream_rocksdb_sessions" -> q208
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_hourly_rollup" -> q02Sql,
    "q03_top_users" -> q03Sql,
    "q04_event_counts" -> q04Sql,
    "q05_null_counts" -> q05Sql,
    "q06_describe_stats" -> q06Sql,
    "q07_clean_coerce" -> q07Sql,
    "q08_range_filter" -> q08Sql,
    "q09_semi_join" -> q09Sql,
    "q10_anti_join" -> q10Sql,
    "q11_normalize_lookup" -> q11Sql,
    "q12_top_orders" -> q12Sql,
    "q13_region_revenue" -> q13Sql,
    "q14_window_top3" -> q14Sql,
    "q15_rollup_sales" -> q15Sql,
    "q16_distinct_flags" -> q16Sql,
    "q17_constraint_audit" -> q17Sql,
    "q18_exists_subquery" -> q18Sql,
    "q19_big_orders" -> q19Sql,
    "q20_dedup_exact" -> q20Sql,
    "q21_token_stats" -> q21Sql,
    "q22_quality_score" -> q22Sql,
    "q23_lang_id" -> q23Sql,
    "q24_fingerprint" -> q24Sql,
    "q25_ngram_jaccard" -> q25Sql,
    "q26_minhash_sig" -> q26Sql,
    "q27_simhash" -> q27Sql,
    "q28_knn_exact" -> q28Sql,
    "q30_ann_lsh" -> q30Sql,
    "q29_embedding_near_dup" -> q29Sql,
    "q31_multimodal_meta" -> q31Sql,
    "q32_cube_flags" -> q32Sql,
    "q33_sessionize" -> q33Sql,
    "q34_distinct_counts" -> q34Sql,
    "q35_set_ops" -> q35Sql,
    "q36_pivot_case" -> q36Sql,
    "q37_percentiles" -> q37Sql,
    "q38_streaming_hourly" -> q38Sql,
    "q39_census_melt" -> q39Sql,
    "q40_pipeline_compose" -> q40Sql,
    "q41_percentiles_approx" -> q41Sql,
    "q42_token_classes" -> q42Sql,
    "q43_minhash_lsh" -> q43Sql,
    "q44_asof_join" -> q44Sql,
    "q45_stratified_sample" -> q45Sql,
    "q46_repetition_metrics" -> q46Sql,
    "q47_json_extract" -> q47Sql,
    "q48_ivf_ann" -> q48Sql,
    "q49_range_agg" -> q49Sql,
    "q50_distinct_approx" -> q50Sql,
    "q51_contamination" -> q51Sql,
    "q52_pii_redact" -> q52Sql,
    "q53_pack_offsets" -> q53Sql,
    "q54_chunk_windows" -> q54Sql,
    "q55_tfidf_terms" -> q55Sql,
    "q56_shard_manifest" -> q56Sql,
    "q57_salted_rollup" -> q57Sql,
    "q58_dup_clusters" -> q58Sql,
    "q59_vocab_topk" -> q59Sql,
    "q60_int8_quantize" -> q60Sql,
    "q61_dedup_cleaned" -> q61Sql,
    "q62_moving_stats" -> q62Sql,
    "q63_histogram" -> q63Sql,
    "q64_span_dedup" -> q64Sql,
    "q65_token_rarity" -> q65Sql,
    "q66_mix_rebalance" -> q66Sql,
    "q67_zscore_outliers" -> q67Sql,
    "q68_freq_spectrum" -> q68Sql,
    "q69_source_datasheet" -> q69Sql,
    "q70_split_manifest" -> q70Sql,
    "q71_centroid_outliers" -> q71Sql,
    "q72_contingency" -> q72Sql,
    "q73_curation_e2e" -> q73Sql,
    "q74_incremental_dedup" -> q74Sql,
    "q75_hll_distinct" -> q75Sql,
    "q76_sampled_percentiles" -> q76Sql,
    "q77_nfc_normalize" -> q77Sql,
    "q78_upsert_merge" -> q78Sql,
    "q79_cms_heavy_hitters" -> q79Sql,
    "q80_join_skew_probe" -> q80Sql,
    "q81_bloom_prefilter" -> q81Sql,
    "q82_hll_merge" -> q82Sql,
    "q83_funnel" -> q83Sql,
    "q84_retention_cohorts" -> q84Sql,
    "q85_hll_overlap" -> q85Sql,
    "q86_bloom_decontaminate" -> q86Sql,
    "q87_equidepth_histogram" -> q87Sql,
    "q88_analyze_stats" -> q88Sql,
    "q89_sliding_distinct" -> q89Sql,
    "q90_target_mix" -> q90Sql,
    "q91_stream_sessions" -> q91Sql,
    "q92_stream_dedup" -> q92Sql,
    "q93_stream_distinct" -> q93Sql,
    "q94_stream_interval_join" -> q94Sql,
    "q95_max_dup_spans" -> q95Sql,
    "q96_grouped_topk" -> q96Sql,
    "q97_salted_join" -> q97Sql,
    "q98_kmv_quantiles" -> q98Sql,
    "q99_zorder_tiles" -> q99Sql,
    "q100_fused_summary" -> q100Sql,
    "q101_decayed_counts" -> q101Sql,
    "q102_cap_per_group" -> q102Sql,
    "q103_budget_per_group" -> q103Sql,
    "q104_join_size_estimate" -> q104Sql,
    "q105_ks_drift" -> q105Sql,
    "q106_pruning_audit" -> q106Sql,
    "q107_best_survivor_dedup" -> q107Sql,
    "q108_importance_selection" -> q108Sql,
    "q109_leakage_safe_split" -> q109Sql,
    "q112_transition_matrix" -> q112Sql,
    "q113_snapshot_diff" -> q113Sql,
    "q114_quality_gate" -> q114Sql,
    "q115_grouped_vocab" -> q115Sql,
    "q116_semdedup" -> q116Sql,
    "q117_count_anomalies" -> q117Sql,
    "q118_bigram_pmi" -> q118Sql,
    "q119_dim_stats" -> q119Sql,
    "q120_cdc_chunks" -> q120Sql,
    "q121_cross_source_dups" -> q121Sql,
    "q122_ann_recall" -> q122Sql,
    "q123_padding_waste" -> q123Sql,
    "q124_vocab_growth" -> q124Sql,
    "q125_rule_taxonomy" -> q125Sql,
    "q126_minhash_calibration" -> q126Sql,
    "q127_edit_blocking" -> q127Sql,
    "q128_keyword_search" -> q128Sql,
    "q129_pagerank_hubs" -> q129Sql,
    "q130_type_affinity" -> q130Sql,
    "q131_throttle_audit" -> q131Sql,
    "q132_session_paths" -> q132Sql,
    "q133_corr_matrix" -> q133Sql,
    "q134_daily_audience" -> q134Sql,
    "q135_loo_encoding" -> q135Sql,
    "q136_linkage_scores" -> q136Sql,
    "q137_bitmap_distinct" -> q137Sql,
    "q138_scd2_history" -> q138Sql,
    "q139_interarrival" -> q139Sql,
    "q140_ri_sweep" -> q140Sql,
    "q141_simjoin_prefix" -> q141Sql,
    "q142_sliding_anomaly" -> q142Sql,
    "q143_forward_fill" -> q143Sql,
    "q144_compaction_plan" -> q144Sql,
    "q145_iqr_outliers" -> q145Sql,
    "q146_lateness_audit" -> q146Sql,
    "q147_triangle_counts" -> q147Sql,
    "q148_kcore" -> q148Sql,
    "q149_decile_table" -> q149Sql,
    "q150_k_anonymity" -> q150Sql,
    "q151_incremental_agg" -> q151Sql,
    "q152_interval_join" -> q152Sql,
    "q153_group_mode" -> q153Sql,
    "q154_run_lengths" -> q154Sql,
    "q155_concentration" -> q155Sql,
    "q156_l_diversity" -> q156Sql,
    "q157_seasonality" -> q157Sql,
    "q158_reconciliation" -> q158Sql,
    "q159_entity_resolution" -> q159Sql,
    "q160_conversion_lag" -> q160Sql,
    "q161_ship_sla" -> q161Sql,
    "q162_stream_leaders" -> q162Sql,
    "q163_crosstab_composition" -> q163Sql,
    "q164_stream_file_rollup" -> q164Sql,
    "q165_lsh_recall_audit" -> q165Sql,
    "q166_session_window" -> q166Sql,
    "q167_cross_source_dup" -> q167Sql,
    "q168_codec_roundtrip" -> q168Sql,
    "q169_hard_negatives" -> q169Sql,
    "q170_dataset_build" -> q170Sql,
    "q171_geo_contains" -> q171Sql,
    "q172_geo_bucketed" -> q172Sql,
    "q173_utm_reproject" -> q173Sql,
    "q174_stream_real_sessions" -> q174Sql,
    "q175_audio_roundtrip" -> q175Sql,
    "q176_ingest_idempotent" -> q176Sql,
    "q177_mobility_ingest" -> q177Sql,
    "q178_geojson_grid" -> q178Sql,
    "q179_backfill_update" -> q179Sql,
    "q180_geojson_provinces" -> q180Sql,
    "q181_video_roundtrip" -> q181Sql,
    "q182_frame_dedup" -> q182Sql,
    "q183_census_melt" -> q183Sql,
    "q184_wkt_render" -> q184Sql,
    "q185_pq_ann" -> q185Sql,
    "q186_url_canonical" -> q186Sql,
    "q187_ivfpq_ann" -> q187Sql,
    "q188_bpe_train" -> q188Sql,
    "q189_bpe_encode" -> q189Sql,
    "q190_pq_recall" -> q190Sql,
    "q191_stream_real_distinct" -> q191Sql,
    "q192_nprobe_sweep" -> q192Sql,
    "q193_temperature_mix" -> q193Sql,
    "q194_epoch_mix_plan" -> q194Sql,
    "q195_stream_real_join" -> q195Sql,
    "q196_line_dedup" -> q196Sql,
    "q197_tokenizer_fertility" -> q197Sql,
    "q198_html_extract" -> q198Sql,
    "q199_web_curation_e2e" -> q199Sql,
    "q200_stream_real_dedup" -> q200Sql,
    "q201_stream_real_throttle" -> q201Sql,
    "q202_stream_real_funnel" -> q202Sql,
    "q203_stream_real_transitions" -> q203Sql,
    "q204_stream_real_leaders" -> q204Sql,
    "q205_planted_recall" -> q205Sql,
    "q206_stream_rocksdb_dedup" -> q206Sql,
    "q207_stream_rocksdb_join" -> q207Sql,
    "q208_stream_rocksdb_sessions" -> q208Sql
  )
}
