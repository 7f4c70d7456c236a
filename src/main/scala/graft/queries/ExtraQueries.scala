package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{ConfigOps, Validation}

/** Second wave of SURVEY §2 coverage: health-bucket when-ladders (A6),
  * config-driven aggregation (A7/F3), freshness SLA aggregate (A10),
  * referential-integrity check as data (J8), union with missing columns
  * (U3). All DuckDB-oracle-checked.
  */
object ExtraQueries {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "a6_health_buckets" -> ((s, d) => {
      // api_performance.sql-style when-ladder coverage buckets
      Tables(s, d).orders
        .select(
          when(col("o_totalprice") >= 300000, "XL")
            .when(col("o_totalprice") >= 150000, "L")
            .when(col("o_totalprice") >= 50000, "M")
            .otherwise("S").as("price_band"),
          col("o_orderstatus")
        )
        .groupBy("price_band", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
    }),
    "a8_config_agg" -> ((s, d) => {
      ConfigOps.aggregate(
        Tables(s, d).events,
        groupCols = Seq("event_type"),
        aggMap = Seq("value" -> "sum", "value" -> "mean", "value" -> "max", "user_id" -> "count"),
        timeFloor = Some("ts" -> "day")
      ).withColumn("value_sum", col("value_sum").cast("double"))
        .withColumn("ts_day", col("ts_day").cast("timestamp_ntz"))
    }),
    "a10_freshness" -> ((s, d) => {
      // per-source freshness vs a fixed as-of clock (sensors/data_sensors.py
      // SLA semantics, reproducible via injected clock)
      Tables(s, d).events
        .groupBy("event_type")
        .agg(max(to_date(col("ts"))).as("last_day"))
        .select(
          col("event_type"),
          date_format(col("last_day"), "yyyy-MM-dd").as("last_day"),
          datediff(lit("2024-02-15").cast("date"), col("last_day")).as("days_stale"),
          (datediff(lit("2024-02-15").cast("date"), col("last_day")) <= 30).as("fresh")
        )
    }),
    "j8_ri_check" -> ((s, d) => {
      // dbt relationships test as data: FK violations counted per table
      val t = Tables(s, d)
      val badLineOrders = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      val badCustNations = t.customer.join(t.nation, col("c_nationkey") === col("n_nationkey"), "left_anti")
      badLineOrders.agg(count(lit(1)).as("violations"))
        .select(lit("lineitem_orderkey").as("relationship"), col("violations"))
        .unionByName(
          badCustNations.agg(count(lit(1)).as("violations"))
            .select(lit("customer_nationkey").as("relationship"), col("violations")))
    }),
    "a15_percentiles" -> ((s, d) => {
      // exact interpolated percentiles, distributed-selection plan: the
      // builtin `percentile` funnels each group's values into one
      // final-merge task (3 groups -> 3 tasks, O(group) state — a
      // scale-killer on near-unique measures like price). The operator
      // range-partitions the compacted (group, value, freq) frame and picks
      // only the rank-straddling values per partition — per-task state is
      // one sorted partition, never a whole group. Same interpolation
      // formula as Spark percentile / DuckDB quantile_cont.
      graft.operators.Percentiles.exactByRange(
        Tables(s, d).lineitem, "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
    }),
    "a22_latency_quantiles" -> ((s, d) => {
      // the reference's API latency dashboard (simulated p50/p95/p99,
      // ops/public_ops.py:543-549) computed for real, EXACT, per hour
      // bucket. Plan choice: hour-bucket grouping is HIGH cardinality and
      // each group is time-bounded (3600 s × peak rate), so the builtin's
      // per-group final merge distributes across tasks — the right shape
      // here, vs a15's 3-wide-group case where exactByRange is. The
      // streaming twin (st17) is the mergeable-sketch approximation.
      Tables(s, d).events
        .select(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hr_start"),
          col("value"))
        .groupBy("hr_start")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          expr("percentile(value, 0.99)").as("p99"),
          count(lit(1)).as("n_req"))
    }),
    "a5b_approx_distinct" -> ((s, d) => {
      // 100 TB scale path for A5: HLL sketch instead of exact expansion.
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("part_cnt_approx"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("supp_cnt_approx")
        )
    }),
    "em_scalar_suite" -> ((s, d) => {
      // remaining §2.8 scalar surface in one projection: LPAD, regex,
      // LIKE, hour-bucket DATE_FORMAT, DATEDIFF, LEAST/GREATEST
      Tables(s, d).orders.select(
        col("o_orderkey"),
        lpad(col("o_orderkey").cast("string"), 10, "0").as("padded_key"),
        regexp_extract(col("o_orderpriority"), "^(\\d)-", 1).as("priority_digit"),
        col("o_orderpriority").rlike("^[12]-").as("is_urgent_band"),
        col("o_orderpriority").like("%HIGH%").as("says_high"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:00:00").as("hour_bucket"),
        datediff(lit("2002-01-01").cast("date"), to_date(col("o_orderdate"))).as("days_before_2002"),
        least(col("o_totalprice"), lit(100000.0)).as("capped_price"),
        greatest(col("o_totalprice"), lit(1000.0)).as("floored_price")
      )
    }),
    "u6_intersect" -> ((s, d) => {
      // users active in BOTH purchase and click channels (INTERSECT dedups)
      val t = Tables(s, d)
      t.events.filter(col("event_type") === "purchase").select("user_id")
        .intersect(t.events.filter(col("event_type") === "click").select("user_id"))
    }),
    "u7_except" -> ((s, d) => {
      // users who viewed but never purchased
      val t = Tables(s, d)
      t.events.filter(col("event_type") === "view").select("user_id")
        .except(t.events.filter(col("event_type") === "purchase").select("user_id"))
    }),
    "a13_rollup" -> ((s, d) => {
      // hierarchical totals: (yr, priority), (yr), grand total
      Tables(s, d).orders
        .rollup(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),
    "a18_cube" -> ((s, d) => {
      // full grouping-sets lattice: every (status, priority) slice plus
      // both one-dimension margins and the grand total in one pass
      Tables(s, d).orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),
    "u3_union_missing_cols" -> ((s, d) => {
      // pd.concat parity: branches with non-identical columns, null-filled
      val t = Tables(s, d)
      val a = t.events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      val b = t.events.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"))
      a.unionByName(b, allowMissingColumns = true)
    }),
    "a19_geo_constraint" -> ((s, d) => {
      // source-scoped constraint check ("CoAgMet must be CO-only",
      // ops/data_quality_ops.py:603-613) over documents: per constrained
      // source, rows outside its allowed language set
      Validation.geoConstraintViolations(
        Tables(s, d).documents, "source", "lang",
        Map("src0" -> Seq("en"), "src1" -> Seq("en", "de")))
    }),
    "a20_temporal_cluster" -> ((s, d) => {
      // temporal-clustering anomaly (ops/data_quality_ops.py:577-589):
      // per event type, is the whole group packed into a tiny time span?
      Validation.temporalClustering(Tables(s, d).events, "event_type", "ts",
          maxSpanHours = 1.0, minRecords = 10)
        .withColumn("first_ts", col("first_ts").cast("timestamp_ntz"))
        .withColumn("last_ts", col("last_ts").cast("timestamp_ntz"))
    }),
    "a21_drift_psi" -> ((s, d) => {
      // Population-Stability-Index drift check per event type between two
      // deterministic cohorts (even vs odd event_id — the cohort predicate
      // is pluggable; a deployment passes baseline-window vs current-
      // window). Fixed-width value bins, ONE scan + ONE (type,bin)
      // exchange, PSI rolled up from the tiny binned frame.
      Validation.psiDrift(Tables(s, d).events, "event_type", "value",
        cohortA = col("event_id") % 2 === 0, binWidth = 5.0, nBins = 5)
    })
  )

  def oracle: Map[String, String] = Map(
    "a6_health_buckets" ->
      """SELECT CASE WHEN o_totalprice >= CAST(300000 AS DOUBLE) THEN 'XL'
        |            WHEN o_totalprice >= CAST(150000 AS DOUBLE) THEN 'L'
        |            WHEN o_totalprice >= CAST(50000 AS DOUBLE) THEN 'M'
        |            ELSE 'S' END AS price_band,
        |o_orderstatus, count(*) AS cnt
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "a8_config_agg" ->
      """SELECT event_type,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS value_mean,
        |max(value) AS value_max,
        |count(user_id) AS user_id_count,
        |CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts_day
        |FROM events GROUP BY event_type, date_trunc('day', ts)""".stripMargin,
    "a10_freshness" ->
      """SELECT event_type,
        |strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS last_day,
        |CAST(date_diff('day', max(CAST(ts AS DATE)), DATE '2024-02-15') AS INTEGER) AS days_stale,
        |date_diff('day', max(CAST(ts AS DATE)), DATE '2024-02-15') <= 30 AS fresh
        |FROM events GROUP BY 1""".stripMargin,
    "j8_ri_check" ->
      """SELECT 'lineitem_orderkey' AS relationship, count(*) AS violations
        |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'customer_nationkey', count(*)
        |FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)""".stripMargin,
    "u3_union_missing_cols" ->
      """SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT event_id, user_id, NULL FROM events WHERE event_type = 'signup'""".stripMargin,
    "a15_percentiles" ->
      """SELECT l_returnflag,
        |quantile_cont(l_extendedprice, 0.25) AS p25,
        |quantile_cont(l_extendedprice, 0.5) AS p50,
        |quantile_cont(l_extendedprice, 0.75) AS p75
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a22_latency_quantiles" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr_start,
        |quantile_cont(value, 0.5) AS p50,
        |quantile_cont(value, 0.95) AS p95,
        |quantile_cont(value, 0.99) AS p99,
        |count(*) AS n_req
        |FROM events GROUP BY 1""".stripMargin,
    "em_scalar_suite" ->
      """SELECT o_orderkey,
        |lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded_key,
        |regexp_extract(o_orderpriority, '^(\d)-', 1) AS priority_digit,
        |regexp_matches(o_orderpriority, '^[12]-') AS is_urgent_band,
        |o_orderpriority LIKE '%HIGH%' AS says_high,
        |strftime(o_orderdate, '%Y-%m-%d %H:00:00') AS hour_bucket,
        |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_before_2002,
        |least(o_totalprice, CAST(100000 AS DOUBLE)) AS capped_price,
        |greatest(o_totalprice, CAST(1000 AS DOUBLE)) AS floored_price
        |FROM orders""".stripMargin,
    "u6_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'click'""".stripMargin,
    "u7_except" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
    "a13_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
        |count(*) AS cnt,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)""".stripMargin,
    "a18_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |count(*) AS cnt,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "a19_geo_constraint" ->
      """SELECT source, count(*) AS total_rows,
        |count(CASE WHEN source = 'src0' AND (lang IS NULL OR lang NOT IN ('en')) THEN 1
        |           WHEN source = 'src1' AND (lang IS NULL OR lang NOT IN ('en', 'de')) THEN 1 END) AS violations,
        |count(CASE WHEN source = 'src0' AND (lang IS NULL OR lang NOT IN ('en')) THEN 1
        |           WHEN source = 'src1' AND (lang IS NULL OR lang NOT IN ('en', 'de')) THEN 1 END) > 0 AS is_anomaly
        |FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1""".stripMargin,
    "a20_temporal_cluster" ->
      """SELECT event_type, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts,
        |(epoch_us(max(ts)) - epoch_us(min(ts))) / 3.6e9 AS span_hours,
        |((epoch_us(max(ts)) - epoch_us(min(ts))) / 3.6e9 < 1.0 AND count(*) > 10) AS is_clustered
        |FROM events GROUP BY 1""".stripMargin,
    "a21_drift_psi" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(least(greatest(floor(value / 5.0), 0), 4) AS INTEGER) AS bin,
        |    (event_id % 2 = 0) AS is_a
        |  FROM events),
        |c AS (
        |  SELECT event_type, bin,
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
        |  FROM b GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, ca, cb,
        |    sum(ca) OVER (PARTITION BY event_type) AS ta,
        |    sum(cb) OVER (PARTITION BY event_type) AS tb
        |  FROM c)
        |SELECT event_type,
        |  count(*) AS n_bins,
        |  CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(sum(cb) AS BIGINT) AS n_b,
        |  round(sum((CAST(ca + 0.5 AS DOUBLE) / (ta + 2.5) - CAST(cb + 0.5 AS DOUBLE) / (tb + 2.5))
        |        * ln((CAST(ca + 0.5 AS DOUBLE) / (ta + 2.5)) / (CAST(cb + 0.5 AS DOUBLE) / (tb + 2.5)))), 6) AS psi,
        |  round(sum((CAST(ca + 0.5 AS DOUBLE) / (ta + 2.5) - CAST(cb + 0.5 AS DOUBLE) / (tb + 2.5))
        |        * ln((CAST(ca + 0.5 AS DOUBLE) / (ta + 2.5)) / (CAST(cb + 0.5 AS DOUBLE) / (tb + 2.5)))), 6) > 0.2 AS is_drift
        |FROM p GROUP BY 1""".stripMargin
  )
}
