package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** EXT analytics inventory (SURVEY.md §7 step 4): the full relational
  * operator surface — aggregation, joins of every flavor, windows, set
  * ops, date/JSON functions — over the TPC-H-ish fixtures, each entry
  * DuckDB-oracle-checked.
  *
  * Determinism rules (FIXTURES.md): every query ends in a total ORDER BY;
  * double aggregates are cast to exact decimals per-row BEFORE summing
  * (double summation is order-dependent under distributed execution —
  * decimal sums are exact and identical in both engines), then cast back
  * to double; double division/products happen on identical operands in
  * both engines, hence identical results.
  */
object AnalyticsQueries {

  /** Exact money sum: per-row decimal cast -> exact sum -> double. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  val defs: Seq[QueryDef] = Seq(

    // hash aggregation with multiple aggregates (TPC-H Q1 shape)
    QueryDef("q1_pricing_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // selective filter + computed projection (pushdown exercise).
    // round() on DOUBLE diverges between engines (Java rounds the shortest
    // decimal repr, C rounds the binary value) — so the product is taken
    // over exact decimals (inputs all have <=2 decimal digits) and rounded
    // as a decimal, identically on both sides.
    QueryDef("q2_filter_project",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * CAST(1 - l_discount AS DECIMAL(4,2))
        |             * CAST(1 + l_tax AS DECIMAL(4,2)), 2) AS DOUBLE) AS charge
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1) - col("l_discount")).cast(DecimalType(4, 2)) *
            (lit(1) + col("l_tax")).cast(DecimalType(4, 2)), 2)
            .cast("double").as("charge"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // global sort + limit (top-k)
    QueryDef("q3_topk_orders",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // broadcast hash join (small dim broadcast explicitly)
    QueryDef("q4_brand_revenue",
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },

    // 5-way star join: fact -> orders -> customer -> nation -> region
    QueryDef("q5_region_revenue",
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      // dims: nation/region are structurally tiny -> explicit broadcast
      // onto customer (no shuffle on the customer side). customer is NOT
      // broadcast by hand: at 100 TB it's a fact-sized table, so the join
      // is declared as a shuffle join and AQE downgrades it to broadcast
      // from runtime stats when the filtered dim side is actually small.
      val dims = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy("r_name")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    },

    // left-semi + left-anti joins against a filtered right side
    QueryDef("q6_semi_anti",
      """WITH urgent AS (SELECT DISTINCT o_custkey FROM orders
        |                WHERE o_orderpriority = '1-URGENT')
        |SELECT c_mktsegment,
        |  COUNT(*) FILTER (WHERE u.o_custkey IS NOT NULL) AS with_urgent,
        |  COUNT(*) FILTER (WHERE u.o_custkey IS NULL) AS without_urgent
        |FROM customer c LEFT JOIN urgent u ON c.c_custkey = u.o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey").distinct()
      val c = Tables.customer(s, d)
      val semi = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("with_urgent"))
      val anti = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("without_urgent"))
      semi.join(anti, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("with_urgent"), lit(0L)).as("with_urgent"),
          coalesce(col("without_urgent"), lit(0L)).as("without_urgent"))
        .orderBy("c_mktsegment")
    },

    // window ranking: top-3 parts per brand
    QueryDef("q7_window_rank",
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) t
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("p_brand")
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, d)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("p_brand", "rn")
    },

    // rollup (grouping sets); NULL group keys coalesced to a sentinel so
    // null-ordering differences between engines can't bite
    QueryDef("q8_rollup",
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    },

    // set operation: EXCEPT (distinct) — customers with urgent orders but
    // no low-priority orders
    QueryDef("q9_setops",
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        .except(o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey"))
        .orderBy("o_custkey")
    },

    // date functions: monthly order volume
    QueryDef("q10_monthly_orders",
      """SELECT date_trunc('month', o_orderdate) AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("month")
    },

    // JSON extraction from the events.props string column
    QueryDef("q11_json_extract",
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), lit("k BIGINT")).getField("k").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // tumbling 10-minute window aggregation (batch twin of the streaming
    // query; SURVEY.md §2.7) — Spark's window() aligns to the epoch, the
    // oracle reproduces the alignment with exact integer micros math
    QueryDef("q12_tumbling_window",
      """SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // distinct aggregation
    QueryDef("q13_distinct_agg",
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    // scalar "subquery": orders above the global average price
    QueryDef("q14_above_avg",
      """WITH stats AS (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |         / COUNT(*) AS avg_price FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders, stats WHERE o_totalprice > avg_price
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val stats = o.agg(
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
      o.crossJoin(broadcast(stats))
        .filter(col("o_totalprice") > col("avg_price"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },

    // cube: all grouping-set combinations over two dimensions
    QueryDef("q16_cube",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")
    },

    // BPE-ish regex tokenization over the raw JSON props strings
    // (word-or-single-punct classes, the pre-tokenizer shape)
    QueryDef("q17_regex_tokens",
      """SELECT token, COUNT(*) AS freq FROM (
        |  SELECT unnest(regexp_extract_all(props,
        |    '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]')) AS token
        |  FROM events)
        |GROUP BY token ORDER BY freq DESC, token LIMIT 15""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .select(explode(expr(
            "regexp_extract_all(props, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]', 0)"))
            .as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("token"))
          .limit(15)
    },

    // running total + month-over-month growth over pre-aggregated months
    // (cumulative frame + lag on a bounded series; the monthly rollup
    // shrinks the data before the unpartitioned window, so the single
    // partition holds ~tens of rows at any SF)
    QueryDef("q25_monthly_running",
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT month, rev,
        |  CAST(SUM(CAST(rev AS DECIMAL(18,4))) OVER (ORDER BY month
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev,
        |  rev - LAG(rev) OVER (ORDER BY month) AS mom_delta
        |FROM m ORDER BY month""".stripMargin) { (s, d) =>
      val w = Window.orderBy("month")
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(dsum(col("o_totalprice")).as("rev"))
        .withColumn("running_rev",
          sum(col("rev").cast(DecimalType(18, 4)))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .withColumn("mom_delta", col("rev") - lag("rev", 1).over(w))
        .orderBy("month")
    },

    // pivot / crosstab: order counts by status x priority
    QueryDef("q23_pivot",
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_cnt"),
          coalesce(col("O"), lit(0L)).as("o_cnt"),
          coalesce(col("P"), lit(0L)).as("p_cnt"))
        .orderBy("o_orderpriority")
    },

    // INTERSECT: customers that placed both urgent AND low orders
    QueryDef("q24_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        .intersect(o.filter(col("o_orderpriority") === "5-LOW")
          .select("o_custkey"))
        .orderBy("o_custkey")
    },

    // exact percentiles with linear interpolation (same formula both
    // engines: value at rank (n-1)*p, linearly interpolated on identical
    // parquet doubles)
    QueryDef("q20_percentiles",
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .orderBy("o_orderpriority")
    },

    // histogram: fixed-width integer bucketing (exact floor math)
    QueryDef("q21_histogram",
      """SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(floor(col("value") / 25.0).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .orderBy("bucket")
    },

    // BPE training step: most frequent adjacent character pairs across
    // the corpus (the merge-candidate counting loop of byte-pair encoding)
    QueryDef("q22_bpe_pairs",
      """SELECT pair, COUNT(*) AS freq FROM (
        |  SELECT substring(s, i, 2) AS pair
        |  FROM (SELECT replace(text, ' ', '_') AS s FROM documents
        |        WHERE length(text) >= 2),
        |       UNNEST(range(1, length(s))) AS u(i))
        |GROUP BY pair ORDER BY freq DESC, pair LIMIT 25""".stripMargin) {
      (s, d) =>
        // explode an index range + codegen'd substring — the array-of-chars
        // + transform/concat form is CodegenFallback and ~8x slower.
        // length guard: Spark's sequence(1, 0) yields a DESCENDING [1,0]
        // (negative default step) where DuckDB's range(1,1) is empty
        Tables.documents(s, d)
          .filter(length(col("text")) >= 2)
          .select(regexp_replace(col("text"), " ", "_").as("s"))
          .select(col("s"),
            explode(sequence(lit(1), length(col("s")) - 1)).as("i"))
          .select(expr("substring(s, i, 2)").as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("pair"))
          .limit(25)
    },

    // as-of join (custom operator, ops.AsOfJoin): every click paired with
    // the user's most recent prior-or-simultaneous purchase. Timestamps
    // are micro-truncated on BOTH sides before the join so the oracle's
    // nanosecond source can't flip a boundary comparison.
    QueryDef("q18_asof_join",
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |         make_timestamp(epoch_us(ts)) AS ts
        |  FROM events),
        |c AS (SELECT * FROM ev WHERE event_type = 'click'),
        |p AS (
        |  SELECT * FROM ev WHERE event_type = 'purchase'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                             ORDER BY event_id DESC) = 1)
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |       epoch_us(p.ts) AS purchase_ts_us,
        |       p.value AS purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      // tie-elimination: ASOF's pick among equal-ts right rows is
      // unspecified in SQL engines — keep one purchase per (user, ts)
      // (max event_id) in BOTH engines so the as-of row is well-defined
      val dedupWin = Window.partitionBy("user_id", "ts")
        .orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("__rn", row_number().over(dedupWin))
        .filter(col("__rn") === 1).drop("__rn")
      graft.ops.AsOfJoin.leftAsOf(clicks, purchases,
          keyCols = Seq("user_id"), tsCol = "ts",
          valueCols = Seq("value"), prefix = "purchase_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("purchase_ts")).as("purchase_ts_us"),
          col("purchase_value"))
        .orderBy("event_id")
    },

    // FORWARD as-of: each click paired with the user's next purchase at
    // or after it (ops.AsOfJoin.leftAsOfForward — descending-time
    // union-sort). Same tie-elimination as q18, but keeping the MIN
    // value per (user, ts) to match the forward direction's
    // smallest-struct tie-break.
    QueryDef("q30_asof_forward",
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |         make_timestamp(epoch_us(ts)) AS ts
        |  FROM events),
        |c AS (SELECT * FROM ev WHERE event_type = 'click'),
        |p AS (
        |  SELECT * FROM ev WHERE event_type = 'purchase'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                             ORDER BY value ASC, event_id ASC) = 1)
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |       epoch_us(p.ts) AS next_purchase_ts_us,
        |       p.value AS next_purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND p.ts >= c.ts
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      val dedupWin = Window.partitionBy("user_id", "ts")
        .orderBy(col("value").asc, col("event_id").asc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("__rn", row_number().over(dedupWin))
        .filter(col("__rn") === 1).drop("__rn")
      graft.ops.AsOfJoin.leftAsOfForward(clicks, purchases,
          keyCols = Seq("user_id"), tsCol = "ts",
          valueCols = Seq("value"), prefix = "next_purchase_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("next_purchase_ts")).as("next_purchase_ts_us"),
          col("next_purchase_value"))
        .orderBy("event_id")
    },

    // deterministic per-group sampling: k rows per group by md5 order —
    // the distributed-reproducible alternative to rand() sampling
    QueryDef("q19_group_sample",
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("lang", "rn")
    },

    // sessionization: lag + conditional flag + running sum (rich windows);
    // 30-minute gap threshold in exact integer microseconds on both sides
    QueryDef("q15_sessionize",
      """WITH e AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |t AS (
        |  SELECT user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s)
        |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
        |       COUNT(*) AS n_events
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id",
          sum("new_s").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id")
        .agg(max("session_id").cast("bigint").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // native gap-session operator: session_window(ts, gap) — the same
    // state-store-backed session merging Structured Streaming runs,
    // exercised in batch where it is oracle-checkable. Window start =
    // first event, end = last event + gap; the oracle replays it as
    // gaps-and-islands (the q15 construction) + per-island bounds.
    // Exact integer microseconds on both sides.
    QueryDef("q53_session_window",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |t AS (
        |  SELECT user_id, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, MIN(us) AS session_start_us,
        |  MAX(us) + 1800000000 AS session_end_us, COUNT(*) AS n_events
        |FROM t GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start_us"),
          unix_micros(col("w.end")).as("session_end_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    },

    // pure range join (NO equi key): events landing in each user's first
    // active hour. Spark can only plan inequality-only joins as a
    // nested-loop scan; ops.RangeJoin bins intervals to fixed-width
    // buckets and equi-joins on bucket id (15-min buckets here). The
    // oracle states the same join as a plain inequality (DuckDB IEJoin —
    // an independent algorithm).
    QueryDef("q26_range_join",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |w AS (SELECT user_id AS owner, MIN(us) AS w_start,
        |             MIN(us) + 3600000000 AS w_end
        |      FROM e GROUP BY 1),
        |j AS (SELECT w.owner, e.user_id
        |      FROM w JOIN e ON e.us >= w.w_start AND e.us < w.w_end)
        |SELECT owner, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM j GROUP BY owner ORDER BY owner""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val w = e.groupBy(col("user_id").as("owner"))
        .agg(min("us").as("w_start"))
        .withColumn("w_end", col("w_start") + 3600000000L)
      graft.ops.RangeJoin
        .pointInInterval(e, "us", w, "w_start", "w_end", 900000000L)
        .groupBy("owner")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
        .orderBy("owner")
    },

    // analytic-function suite: lead/lag/ntile/percent_rank/cume_dist/
    // first_value + a sliding exact-decimal frame, partitioned by a
    // high-cardinality key (per-customer order history — parallel at any
    // scale). The in-partition order (o_orderdate, o_orderkey) is total,
    // so every rank-derived double is the same single division in both
    // engines.
    QueryDef("q27_analytic_suite",
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  LAG(o_totalprice) OVER w AS prev_price,
        |  LEAD(o_totalprice) OVER w AS next_price,
        |  NTILE(4) OVER w AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_ok,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling3
        |FROM orders WHERE o_custkey < 300
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d)
        .filter(col("o_custkey") < 300)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          first_value(col("o_orderkey")).over(w).as("first_ok"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .over(w.rowsBetween(-2, 0)).cast("double").as("rolling3"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // interval-overlap join: 14-day "campaign" windows around the top-20
    // orders vs 1-day windows around urgent orders. ops.RangeJoin bins
    // both interval sets to week buckets and emits each overlapping pair
    // exactly once (first-shared-bucket rule) — no cross join, no
    // distinct pass. Oracle states the plain inequality overlap.
    QueryDef("q29_interval_overlap",
      """WITH c AS (
        |  SELECT o_orderkey AS cid, epoch_us(o_orderdate) AS cs,
        |         epoch_us(o_orderdate) + 1209600000000 AS ce
        |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20),
        |u AS (
        |  SELECT o_orderkey AS uid, epoch_us(o_orderdate) AS us,
        |         epoch_us(o_orderdate) + 86400000000 AS ue
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |j AS (SELECT cid, uid FROM c JOIN u ON cs < ue AND us < ce)
        |SELECT cid, COUNT(*) AS n_overlap
        |FROM j GROUP BY cid ORDER BY cid""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d)
      // o_orderdate is TIMESTAMP_NTZ; cast through session-TZ (UTC)
      // timestamp so unix_micros matches DuckDB's epoch_us wall-clock
      val odUs = unix_micros(col("o_orderdate").cast("timestamp"))
      val c = base.orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey").as("cid"), odUs.as("cs"))
        .withColumn("ce", col("cs") + 14L * 86400000000L)
      val u = base.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("uid"), odUs.as("us"))
        .withColumn("ue", col("us") + 86400000000L)
      graft.ops.RangeJoin
        .intervalOverlap(c, "cs", "ce", u, "us", "ue", 7L * 86400000000L)
        .groupBy("cid").agg(count(lit(1)).as("n_overlap"))
        .orderBy("cid")
    },

    // correlated subqueries through the SQL entry point: EXISTS with a
    // per-row correlated predicate + NOT EXISTS, exercising Catalyst's
    // subquery decorrelation (RewritePredicateSubquery => semi/anti join
    // with the correlated condition as join predicate — no per-row
    // re-execution at any scale).
    QueryDef("q28_correlated_exists",
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer c
        |WHERE EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT'
        |      AND o.o_totalprice > 50 * c.c_acctbal)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        |      AND o.o_totalprice > 100 * c.c_acctbal)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name, c_acctbal
              |FROM customer c
              |WHERE EXISTS (
              |    SELECT 1 FROM orders o
              |    WHERE o.o_custkey = c.c_custkey
              |      AND o.o_orderpriority = '1-URGENT'
              |      AND o.o_totalprice > 50 * c.c_acctbal)
              |  AND NOT EXISTS (
              |    SELECT 1 FROM orders o
              |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
              |      AND o.o_totalprice > 100 * c.c_acctbal)
              |ORDER BY c_custkey""".stripMargin)
    },

    // GROUPING SETS — the third grouping shape next to q8 ROLLUP and
    // q16 CUBE: two independent one-dimension aggregates in a single
    // pass of the fact table (one scan, one expand, one hash-agg)
    QueryDef("q35_grouping_sets",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy("rf", "ls")
    },

    // conversion funnel: first signup -> first purchase within 7 days,
    // per user. Two filtered min-aggregates and one keyed join — the
    // stepwise temporal pattern a product-analytics pipeline runs; no
    // window over the raw event stream, so the shape is two shuffles
    // keyed on user_id regardless of events-per-user skew.
    QueryDef("q36_funnel",
      """WITH su AS (
        |  SELECT user_id, MIN(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, MIN(e.ts) AS purchase_ts
        |  FROM events e JOIN su ON su.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > su.signup_ts
        |    AND e.ts <= su.signup_ts + INTERVAL 7 DAY
        |  GROUP BY e.user_id)
        |SELECT su.user_id, su.signup_ts, pu.purchase_ts,
        |  date_diff('microseconds', su.signup_ts, pu.purchase_ts)
        |    AS latency_us
        |FROM su LEFT JOIN pu ON pu.user_id = su.user_id
        |ORDER BY su.user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("signup_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("ts") > col("signup_ts") &&
          col("ts") <= col("signup_ts") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min("ts").as("purchase_ts"))
      su.join(pu, Seq("user_id"), "left")
        .select(col("user_id"), col("signup_ts"), col("purchase_ts"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("signup_ts")))
            .as("latency_us"))
        .orderBy("user_id")
    },

    // cohort retention matrix: users bucketed by first-activity week,
    // counted per week offset — all integer epoch math (floor-divided
    // microseconds), two keyed aggregates and one broadcast-size join
    QueryDef("q37_retention",
      """WITH wk AS (
        |  SELECT user_id,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, week FROM wk)
        |SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS n_active
        |FROM act a JOIN cohort c ON c.user_id = a.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val wk = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("week"))
      val cohort = wk.groupBy("user_id")
        .agg(min("week").as("cohort_week"))
      wk.distinct()
        .join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort_week", "week_offset")
    },

    // UNPIVOT/melt — the wide-to-long reshape (inverse of q23_pivot):
    // one narrow generator per row, no shuffle until the final sort
    QueryDef("q41_unpivot",
      """SELECT o_orderkey, metric, value FROM (
        |  SELECT o_orderkey,
        |    CAST(o_totalprice AS DOUBLE) AS totalprice,
        |    CAST(o_custkey AS DOUBLE) AS custkey
        |  FROM orders WHERE o_orderkey < 200)
        |UNPIVOT (value FOR metric IN (totalprice, custkey))
        |ORDER BY o_orderkey, metric""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("totalprice"),
          col("o_custkey").cast("double").as("custkey"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("totalprice"), col("custkey")), "metric", "value")
        .orderBy("o_orderkey", "metric")
    },

    // deterministic integer PageRank (3 unrolled rounds, damping 85%)
    // over the weighted event-type transition graph — every division is
    // an integer floor-div and every sum is int64, so the oracle replays
    // the iteration bit-for-bit (same contract as graph_label_prop)
    QueryDef("graph_pagerank", {
      val base = graft.ops.PageRank.Scale * 15 / 100
      def round(t: Int): String =
        s"""m$t AS (
           |  SELECT e.dst AS node,
           |    CAST(SUM((r.pr * e.w) // o.outw) AS BIGINT) AS cs
           |  FROM edges e
           |    JOIN r${t - 1} r ON r.node = e.src
           |    JOIN outw o ON o.src = e.src
           |  GROUP BY e.dst),
           |r$t AS (
           |  SELECT n.node, $base + (85 * COALESCE(m.cs, 0)) // 100 AS pr
           |  FROM nodes n LEFT JOIN m$t m ON m.node = n.node)""".stripMargin
      s"""WITH s AS (
         |  SELECT event_type,
         |    LAG(event_type) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         |  FROM events),
         |edges AS (
         |  SELECT prev_type AS src, event_type AS dst, COUNT(*) AS w
         |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |outw AS (
         |  SELECT src, CAST(SUM(w) AS BIGINT) AS outw
         |  FROM edges GROUP BY src),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, ${graft.ops.PageRank.Scale} AS pr FROM nodes),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT node AS event_type, pr FROM r3
         |ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val edges = Tables.events(s, d)
        .withColumn("prev_type", lag("event_type", 1).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.ops.PageRank.ranks(edges, iters = 3, dampPct = 85)
        .withColumnRenamed("node", "event_type")
        .orderBy("event_type")
    },

    // mass-conserving PageRank on a graph with REAL sinks (the
    // source→lang bipartite attribution graph: lang nodes have no
    // out-edges): each round pools the sink-held rank and hands every
    // node an equal floor-share — one extra scalar aggregate per round
    // vs graph_pagerank, total mass conserved up to floor truncation
    QueryDef("graph_pagerank_conserving", {
      val S = graft.ops.PageRank.Scale
      val base = S * 15 / 100
      def round(t: Int): String =
        s"""d$t AS (
           |  SELECT CAST(COALESCE(SUM(r.pr), 0) AS BIGINT) AS dm
           |  FROM r${t - 1} r WHERE NOT EXISTS (
           |    SELECT 1 FROM outw o WHERE o.src = r.node)),
           |m$t AS (
           |  SELECT e.dst AS node,
           |    CAST(SUM((r.pr * e.w) // o.outw) AS BIGINT) AS cs
           |  FROM e
           |    JOIN r${t - 1} r ON r.node = e.src
           |    JOIN outw o ON o.src = e.src
           |  GROUP BY e.dst),
           |r$t AS (
           |  SELECT n.node, $base + (85 * (COALESCE(m.cs, 0)
           |      + (SELECT dm FROM d$t) // (SELECT nn FROM nc))) // 100
           |    AS pr
           |  FROM nodes n LEFT JOIN m$t m ON m.node = n.node)""".stripMargin
      s"""WITH e AS (
         |  SELECT source AS src, lang AS dst, COUNT(*) AS w
         |  FROM documents GROUP BY 1, 2),
         |outw AS (
         |  SELECT src, CAST(SUM(w) AS BIGINT) AS outw
         |  FROM e GROUP BY src),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM e
         |  UNION SELECT DISTINCT dst FROM e),
         |nc AS (SELECT COUNT(*) AS nn FROM nodes),
         |r0 AS (SELECT node, $S AS pr FROM nodes),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT node, pr FROM r3 ORDER BY node""".stripMargin
    }) { (s, d) =>
      val edges = Tables.documents(s, d)
        .groupBy(col("source").as("src"), col("lang").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.ops.PageRank.ranksConserving(edges, iters = 3, dampPct = 85)
        .orderBy("node")
    },

    // HITS hubs & authorities on the same bipartite attribution graph
    // (sources ARE hubs, langs ARE authorities — the two-sided signal
    // PageRank collapses): integer fixed-point, per-round scalar
    // max-normalization instead of L2 (ranking-preserving, exact), 3
    // rounds unrolled in the oracle
    QueryDef("graph_hits", {
      val S = graft.ops.Hits.Scale
      def round(t: Int): String =
        s"""ar$t AS (
           |  SELECT e.dst AS node, CAST(SUM(h.h * e.w) AS BIGINT) AS ar
           |  FROM e JOIN h${t - 1} h ON h.node = e.src GROUP BY e.dst),
           |am$t AS (
           |  SELECT GREATEST(COALESCE(MAX(ar), 0), 1) AS mx FROM ar$t),
           |a$t AS (
           |  SELECT n.node, COALESCE((r.ar * $S) // mx, 0) AS a
           |  FROM nodes n LEFT JOIN ar$t r ON r.node = n.node, am$t),
           |hr$t AS (
           |  SELECT e.src AS node, CAST(SUM(a.a * e.w) AS BIGINT) AS hr
           |  FROM e JOIN a$t a ON a.node = e.dst GROUP BY e.src),
           |hm$t AS (
           |  SELECT GREATEST(COALESCE(MAX(hr), 0), 1) AS mx FROM hr$t),
           |h$t AS (
           |  SELECT n.node, COALESCE((r.hr * $S) // mx, 0) AS h
           |  FROM nodes n LEFT JOIN hr$t r ON r.node = n.node, hm$t)"""
          .stripMargin
      s"""WITH e AS (
         |  SELECT source AS src, lang AS dst, COUNT(*) AS w
         |  FROM documents GROUP BY 1, 2),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM e
         |  UNION SELECT DISTINCT dst FROM e),
         |h0 AS (SELECT node, $S AS h FROM nodes),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT n.node, a3.a AS auth_fp, h3.h AS hub_fp
         |FROM nodes n
         |  JOIN a3 ON a3.node = n.node
         |  JOIN h3 ON h3.node = n.node
         |ORDER BY n.node""".stripMargin
    }) { (s, d) =>
      val edges = Tables.documents(s, d)
        .groupBy(col("source").as("src"), col("lang").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.ops.Hits.scores(edges, iters = 3)
        .orderBy("node")
    },

    // CDC compaction / keep-latest: collapse the event stream to the
    // most recent row per (user, type); one key-partitioned window
    // over a total (ts, event_id) order
    QueryDef("q49_cdc_compact",
      """SELECT user_id, event_type, ts_us, event_id, value FROM (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |    value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("ts_us"), col("event_id"),
          col("value"))
        .orderBy("user_id", "event_type")
    },

    // gaps-and-islands interval merge: each event claims [ts, ts+5min];
    // overlapping claims per user coalesce into islands. New island ⇔
    // start exceeds the running MAX(end) over all EARLIER intervals
    // (frame ends at 1 PRECEDING — the current row must not see its own
    // end), island id = running sum of the flags. User-keyed windows on
    // a total (start, event_id) order — exact integer micros.
    QueryDef("q50_interval_merge",
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 300000000 AS e
        |  FROM events),
        |o AS (
        |  SELECT user_id, event_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max
        |  FROM iv),
        |f AS (
        |  SELECT user_id, event_id, s, e,
        |    CASE WHEN prev_max IS NULL OR s > prev_max
        |         THEN 1 ELSE 0 END AS new_island
        |  FROM o),
        |g AS (
        |  SELECT user_id, s, e,
        |    CAST(SUM(new_island) OVER (
        |      PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS island
        |  FROM f)
        |SELECT user_id, island,
        |  CAST(MIN(s) AS BIGINT) AS island_start_us,
        |  CAST(MAX(e) AS BIGINT) AS island_end_us,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("s", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("s"),
          (expr("unix_micros(ts)") + 300000000L).as("e"))
        .withColumn("prev_max",
          max("e").over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
            .otherwise(0L))
        .withColumn("island", sum("new_island").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg(min("s").cast("bigint").as("island_start_us"),
          max("e").cast("bigint").as("island_end_us"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "island")
    },

    // slowly-changing-dimension type 2 build: collapse each user's
    // event-type runs into validity intervals (valid_from, valid_to,
    // is_current) — change detection by LAG, interval close by LEAD,
    // both over the same (ts, event_id) total order; user-keyed windows
    // so per-user history never concentrates a partition. Timestamps
    // exported as epoch micros (exact integers in both engines).
    QueryDef("q42_scd2",
      """WITH s AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM s
        |  WHERE prev IS NULL OR prev <> event_type),
        |scd AS (
        |  SELECT user_id, event_type,
        |    epoch_us(ts) AS valid_from_us,
        |    LEAD(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
        |  FROM changes)
        |SELECT user_id, event_type, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM scd ORDER BY user_id, valid_from_us, event_type""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev", lag("event_type", 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_from_us", expr("unix_micros(ts)"))
        .withColumn("valid_to_us",
          lead(expr("unix_micros(ts)"), 1).over(byUser))
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("valid_to_us").isNull.as("is_current"))
        .orderBy("user_id", "valid_from_us", "event_type")
    },

    // remaining ranking-window surface in one sweep: ntile, percent_rank
    // (exact small-int division), cume_dist, first_value, nth_value —
    // all over the same customer-keyed total order (ties broken by key)
    QueryDef("q43_window_suite",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_totalprice, o_orderkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_totalprice", "o_orderkey")
      Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_totalprice", "o_orderkey")
    },

    // multiset set-ops (the ALL variants q24's INTERSECT left out):
    // bag difference and bag intersection of two customer-key streams,
    // tagged and re-sorted — per-key multiplicities must match exactly
    QueryDef("q44_multiset_ops",
      """SELECT 'except' AS op, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice < 100000
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0)
        |UNION ALL
        |SELECT 'intersect' AS op, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice < 100000
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0)
        |ORDER BY op, o_custkey""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val a = orders.filter(col("o_totalprice") < 100000)
        .select("o_custkey")
      val b = orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_custkey")
      a.exceptAll(b).withColumn("op", lit("except"))
        .unionByName(a.intersectAll(b).withColumn("op", lit("intersect")))
        .select("op", "o_custkey")
        .orderBy("op", "o_custkey")
    },

    // MERGE INTO semantics as a full-outer join (the lakehouse upsert,
    // engine-neutral): matched target rows take the source's update,
    // unmatched source rows insert, the rest keep — one key-partitioned
    // join, action tagged for audit
    QueryDef("q45_merge_upsert",
      """WITH target AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 0),
        |source AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS new_price FROM orders
        |  WHERE o_orderkey % 2 = 0)
        |SELECT
        |  COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
        |       ELSE t.o_totalprice END AS o_totalprice,
        |  CASE WHEN t.o_orderkey IS NULL THEN 'insert'
        |       WHEN s.o_orderkey IS NOT NULL THEN 'update'
        |       ELSE 'keep' END AS action
        |FROM target t FULL OUTER JOIN source s
        |  ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val target = orders.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey").as("t_key"),
          col("o_totalprice"))
      val source = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("s_key"),
          (col("o_totalprice") * 2).as("new_price"))
      target.join(source, col("t_key") === col("s_key"), "full_outer")
        .select(
          coalesce(col("t_key"), col("s_key")).as("o_orderkey"),
          when(col("s_key").isNotNull, col("new_price"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("t_key").isNull, lit("insert"))
            .when(col("s_key").isNotNull, lit("update"))
            .otherwise(lit("keep")).as("action"))
        .orderBy("o_orderkey")
    },

    // data-quality gate: six rules over orders in THREE jobs total —
    // all row rules share ONE scan (a single aggregate with one
    // violation counter per rule), uniqueness is one keyed hash-agg,
    // referential integrity one anti-join each (the decimated-dim rule
    // plants real orphans so the nonzero path is exercised)
    QueryDef("dq_constraint_report",
      """SELECT rule, n_violations, n_rows FROM (
        |  SELECT 'totalprice_positive' AS rule,
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |    COUNT(*) AS n_rows FROM orders
        |  UNION ALL
        |  SELECT 'totalprice_under_300k',
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice < 300000, FALSE)
        |             THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(*) FROM orders
        |  UNION ALL
        |  SELECT 'custkey_not_null',
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    COUNT(*) FROM orders
        |  UNION ALL
        |  SELECT 'orderkey_unique',
        |    (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM (
        |       SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)),
        |    (SELECT COUNT(*) FROM orders)
        |  UNION ALL
        |  SELECT 'custkey_in_customer',
        |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
        |       SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |    (SELECT COUNT(*) FROM orders)
        |  UNION ALL
        |  SELECT 'custkey_in_decimated_dim',
        |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
        |       SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
        |         AND c.c_custkey % 10 <> 0)),
        |    (SELECT COUNT(*) FROM orders))
        |ORDER BY rule""".stripMargin) { (s, d) =>
      import graft.ops.DataQuality
      import graft.ops.DataQuality.RowRule
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      DataQuality.checkRows(orders, Seq(
          RowRule("totalprice_positive", col("o_totalprice") > 0),
          RowRule("totalprice_under_300k", col("o_totalprice") < 300000),
          RowRule("custkey_not_null", col("o_custkey").isNotNull)))
        .unionByName(DataQuality.uniqueKey(orders, "orderkey_unique",
          Seq("o_orderkey")))
        .unionByName(DataQuality.referential(orders, "o_custkey",
          customer, "c_custkey", "custkey_in_customer"))
        .unionByName(DataQuality.referential(orders, "o_custkey",
          customer.filter(col("c_custkey") % 10 =!= 0), "c_custkey",
          "custkey_in_decimated_dim"))
        .orderBy("rule")
    },

    // Merkle-shard table reconciliation: two versions of orders (the
    // "migrated" side has planted value edits and dropped rows) fold to
    // per-bucket (count, order-independent mod-P hash sum); ONLY the
    // disagreeing buckets surface — neither table crosses the network
    // beyond its 1024-row summary. Row identity hashes integer cents
    // (doubles never stringified — engines disagree on rendering).
    QueryDef("dq_table_diff", {
      val rowH =
        """(('0x' || substring(md5(
          |    CAST(o_orderkey AS VARCHAR) || '|' ||
          |    CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
          |         AS VARCHAR)), 1, 15))::BIGINT % 2147483647)""".stripMargin
      s"""WITH b_side AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 997 = 0 THEN o_totalprice + 1
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 499 <> 0),
         |fa AS (
         |  SELECT o_orderkey % 1024 AS bucket, COUNT(*) AS n_a,
         |    CAST(SUM($rowH) AS BIGINT) % 1000000007 AS h_a
         |  FROM orders GROUP BY 1),
         |fb AS (
         |  SELECT o_orderkey % 1024 AS bucket, COUNT(*) AS n_b,
         |    CAST(SUM($rowH) AS BIGINT) % 1000000007 AS h_b
         |  FROM b_side GROUP BY 1)
         |SELECT COALESCE(fa.bucket, fb.bucket) AS bucket,
         |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |  COALESCE(h_a, -1) AS h_a, COALESCE(h_b, -1) AS h_b
         |FROM fa FULL OUTER JOIN fb ON fa.bucket = fb.bucket
         |WHERE COALESCE(n_a, 0) <> COALESCE(n_b, 0)
         |   OR COALESCE(h_a, -1) <> COALESCE(h_b, -1)
         |ORDER BY bucket""".stripMargin
    }) { (s, d) =>
      val orders = Tables.orders(s, d)
      val bSide = orders.filter(col("o_orderkey") % 499 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 997 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val rowH = graft.ext.TextAnalysis.tokenHash31(concat(
        col("o_orderkey").cast("string"), lit("|"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").cast("string")))
      graft.ops.DataQuality.tableDiff(orders.select("o_orderkey",
          "o_totalprice"), bSide, "o_orderkey", rowH, buckets = 1024)
        .orderBy("bucket")
    },

    // key-skew diagnostic ahead of a customer-keyed join: hottest
    // custkeys with corpus share and ratio vs uniform (1e6 ≈ flat) —
    // the report that decides whether the shuffle needs salting. One
    // keyed hash-agg + a 1-row scalar broadcast; integer-exact.
    QueryDef("dq_skew_report",
      """WITH pk AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS key, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1),
        |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |         COUNT(*) AS n_keys FROM pk),
        |top AS (SELECT key, cnt FROM pk
        |        ORDER BY cnt DESC, key LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key)
        |         AS BIGINT) AS rnk,
        |  key, cnt,
        |  CAST(floor(cnt * 1000000.0 / total) AS BIGINT) AS share_micro,
        |  CAST(floor(cnt * n_keys * 1000000.0 / total) AS BIGINT)
        |    AS skew_micro
        |FROM top, tt ORDER BY rnk""".stripMargin) { (s, d) =>
      graft.ops.DataQuality.skewReport(Tables.orders(s, d), "o_custkey",
          topN = 10)
        .orderBy("rnk")
    },

    // one-pass column profile of orders (null counts, string-identity
    // min/max, KMV distinct estimates — exact below k=64) with a
    // planted nullable column; only engine-stable renderings are
    // profiled (ints, strings, dates — never raw doubles)
    QueryDef("dq_profile",
      s"""WITH st AS (
        |  SELECT 'o_orderkey' AS col_name,
        |    CAST(o_orderkey AS VARCHAR) AS v FROM orders
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
        |    FROM orders
        |  UNION ALL SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR)
        |    FROM orders
        |  UNION ALL SELECT 'o_priority_planted',
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_orderpriority END FROM orders),
        |base AS (
        |  SELECT col_name, COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nulls,
        |    MIN(v) AS min_v, MAX(v) AS max_v
        |  FROM st GROUP BY col_name),
        |th AS (
        |  SELECT DISTINCT col_name,
        |    (('0x' || substring(md5(v), 1, 15))::BIGINT % 2147483647) AS h
        |  FROM st WHERE v IS NOT NULL),
        |r AS (
        |  SELECT col_name, h,
        |    ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY h) AS rn
        |  FROM th),
        |kk AS (
        |  SELECT col_name, COUNT(*) AS n_kept, MAX(h) AS kth_hash
        |  FROM r WHERE rn <= 64 GROUP BY col_name)
        |SELECT b.col_name, n_rows, n_nulls, min_v, max_v,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(kth_hash, -1) AS kth_hash,
        |  COALESCE(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
        |       ELSE 63.0 * 2147483647.0 / CAST(kth_hash AS DOUBLE) END,
        |    0.0) AS est_distinct
        |FROM base b LEFT JOIN kk USING (col_name)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val withPlanted = Tables.orders(s, d).withColumn(
        "o_priority_planted",
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))
      graft.ops.DataQuality.profile(withPlanted,
          Seq("o_orderkey", "o_custkey", "o_orderdate",
            "o_priority_planted"), k = 64)
        .orderBy("col_name")
    },

    // pre-join key-overlap estimation (Beyer et al. KMV set algebra):
    // bottom-64 sketches of each side's distinct keys predict the
    // Jaccard/union/intersection BEFORE any shuffle — the report that
    // sizes a join. Two pairs: orders⋈customer (ordering customers ⊂
    // customers) and orders⋈(customers/3)
    QueryDef("dq_join_estimate", {
      def side(cte: String, src: String): String =
        s"""h$cte AS (
           |  SELECT DISTINCT
           |    (('0x' || substring(md5($src), 1, 15))::BIGINT
           |     % 2147483647) AS h
           |  FROM ${if (cte.startsWith("a")) "orders" else "customer"}
           |  ${if (cte == "b2") "WHERE c_custkey % 3 = 0" else ""}),
           |k$cte AS (
           |  SELECT h
           |  FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
           |        FROM h$cte)
           |  WHERE rn <= 64)""".stripMargin
      def pair(t: Int, name: String): String =
        s"""m$t AS (
           |  SELECT h FROM (
           |    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM (
           |      SELECT DISTINCT h FROM (
           |        SELECT h FROM ka$t UNION ALL SELECT h FROM kb$t)))
           |  WHERE rn <= 64),
           |s$t AS (
           |  SELECT COUNT(*) AS nu, MAX(m$t.h) AS kth,
           |    CAST(SUM(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS nb
           |  FROM m$t
           |    LEFT JOIN ka$t ka ON ka.h = m$t.h
           |    LEFT JOIN kb$t kb ON kb.h = m$t.h),
           |r$t AS (
           |  SELECT '$name' AS pair, nu AS n_union_kept,
           |    kth AS kth_union, nb AS n_both,
           |    CASE WHEN nu = 0 THEN 0.0
           |         ELSE CAST(nb AS DOUBLE) / nu END AS est_jaccard,
           |    CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
           |         ELSE 63.0 * 2147483647.0 / CAST(kth AS DOUBLE)
           |    END AS est_union
           |  FROM s$t)""".stripMargin
      s"""WITH ${side("a1", "CAST(o_custkey AS VARCHAR)")},
         |${side("b1", "CAST(c_custkey AS VARCHAR)")},
         |${side("a2", "CAST(o_custkey AS VARCHAR)")},
         |${side("b2", "CAST(c_custkey AS VARCHAR)")},
         |${pair(1, "orders_customer")},
         |${pair(2, "orders_decimated")}
         |SELECT pair, n_union_kept, kth_union, n_both, est_jaccard,
         |  est_union, est_jaccard * est_union AS est_intersection
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |ORDER BY pair""".stripMargin
    }) { (s, d) =>
      import graft.ext.Sketches
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      Sketches.joinKeyOverlap(orders, "o_custkey", customer,
          "c_custkey", k = 64)
        .withColumn("pair", lit("orders_customer"))
        .unionByName(
          Sketches.joinKeyOverlap(orders, "o_custkey",
            customer.filter(col("c_custkey") % 3 === 0), "c_custkey",
            k = 64)
          .withColumn("pair", lit("orders_decimated")))
        .orderBy("pair")
    },

    // correlation + regression slope from EXACT integer moments —
    // never the built-in corr()/regr_slope() (their streaming update
    // order is engine- and partition-dependent on doubles): quantities
    // and whole-dollar prices are integers, the five moment sums stay
    // under 2^53 so int64 -> double casts are exact, and the closed
    // forms are then a fixed dag of IEEE ops — bit-identical anywhere.
    QueryDef("q46_corr_regression",
      """WITH m AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT)
        |      AS sy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) *
        |             CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT)
        |      AS sxy,
        |    CAST(SUM(CAST(l_quantity AS BIGINT) *
        |             CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT) *
        |             CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT)
        |      AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |    AS corr_xy,
        |  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |    AS slope_y_on_x
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val qx = col("l_quantity").cast("long")
      val py = floor(col("l_extendedprice")).cast("long")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(qx).as("sx"), sum(py).as("sy"),
          sum(qx * py).as("sxy"), sum(qx * qx).as("sxx"),
          sum(py * py).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy")) /
            sqrt((col("n").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx")) *
              (col("n").cast("double") * col("syy") -
                col("sy").cast("double") * col("sy"))))
            .as("corr_xy"),
          ((col("n").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy")) /
            (col("n").cast("double") * col("sxx") -
              col("sx").cast("double") * col("sx")))
            .as("slope_y_on_x"))
        .orderBy("l_returnflag")
    },

    // edit-distance fuzzy join (record linkage): part-name pairs within
    // levenshtein 3. The ORACLE stays the naive all-pairs SQL on the
    // bounded block; the Spark side runs the PassJoin segment-blocked
    // path (Dedup.fuzzyJoinBlocked) — hash-matching the naive answer IS
    // the completeness proof, replayed every round. No cross join
    // anywhere in the executed plan.
    QueryDef("q47_fuzzy_join",
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey < 400 AND b.p_partkey < 400
        |  AND levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d).filter(col("p_partkey") < 400)
        .select("p_partkey", "p_name")
      Dedup.fuzzyJoinBlocked(p, "p_partkey", "p_name", 3)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
        .orderBy("key_a", "key_b")
    },

    // UNBOUNDED fuzzy join — the whole part table, no key cap. The
    // quadratic-risk step runs on DISTINCT names (the 100 TB shape:
    // multiplicity is a fan-out join, never a blocking cost), so the
    // result is reported at name granularity with the id-pair count
    // carried as n_pairs (cross groups: na*nb; same-name groups:
    // n*(n-1)/2 at dist 0) — the full id-level pair multiset, encoded
    // without materializing it as output rows. Oracle: naive all-pairs
    // over the distinct-name aggregate.
    QueryDef("q51_fuzzy_blocked",
      """WITH g AS (
        |  SELECT p_name, CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.n * b.n AS n_pairs
        |FROM g a JOIN g b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |UNION ALL
        |SELECT p_name, p_name, CAST(0 AS BIGINT),
        |  (n * (n - 1)) // 2
        |FROM g WHERE n > 1
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      val part = Tables.part(s, d)
      val g = part.groupBy("p_name").agg(count(lit(1)).as("n"))
      val cross = Dedup.fuzzyPairsBlocked(part, "p_name", 3)
        .join(g.select(col("p_name").as("s_a"), col("n").as("na")), "s_a")
        .join(g.select(col("p_name").as("s_b"), col("n").as("nb")), "s_b")
        .select(col("s_a").as("name_a"), col("s_b").as("name_b"),
          col("dist"), (col("na") * col("nb")).as("n_pairs"))
      val same = g.filter(col("n") > 1)
        .select(col("p_name").as("name_a"), col("p_name").as("name_b"),
          lit(0L).as("dist"),
          expr("(n * (n - 1)) div 2").as("n_pairs"))
      cross.unionByName(same).orderBy("name_a", "name_b")
    },

    // Z-order layout audit: interleave (custkey, orderkey) low bits into
    // a Morton key and report per-4096-key tile extents. The z-curve
    // property under test: an ALIGNED run of 4^k consecutive keys is an
    // exact 2^k x 2^k tile, so every tile's (min, max) in BOTH dims
    // spans <= 63 — the file-statistics bound that makes multi-dim
    // skipping work after OPTIMIZE-ZORDER-style layout. Pure integer
    // bit algebra in both dialects.
    QueryDef("q52_zorder_tiles", {
      val zsql = graft.ops.ZOrder.zkeySql(
        "(o_custkey % 1024)", "(o_orderkey % 1024)", 10)
      s"""WITH z AS (
         |  SELECT $zsql AS zk,
         |    o_custkey % 1024 AS a, o_orderkey % 1024 AS b
         |  FROM orders)
         |SELECT zk // 4096 AS tile, COUNT(*) AS n,
         |  MIN(a) AS min_a, MAX(a) AS max_a,
         |  MIN(b) AS min_b, MAX(b) AS max_b
         |FROM z GROUP BY 1 ORDER BY tile""".stripMargin
    }) { (s, d) =>
      val o = Tables.orders(s, d)
      o.select(
          graft.ops.ZOrder.zkey(col("o_custkey") % 1024,
            col("o_orderkey") % 1024, 10).as("zk"),
          (col("o_custkey") % 1024).as("a"),
          (col("o_orderkey") % 1024).as("b"))
        .groupBy(expr("zk div 4096").as("tile"))
        .agg(count(lit(1)).as("n"),
          min("a").as("min_a"), max("a").as("max_a"),
          min("b").as("min_b"), max("b").as("max_b"))
        .orderBy("tile")
    },

    // bucketed co-located fact-fact join, graded end to end: BOTH join
    // sides are written as parquet tables bucketed+sorted on the order
    // key (ops.Bucketing — write-time layout, catalog-backed), re-read,
    // and sort-merge-joined WITHOUT an exchange on either side (the
    // `merge` hint keeps the planner off the broadcast path so the
    // bucket mechanism is what actually runs; exchange-freedom is
    // plan-asserted in BucketingSpec). At 100 TB this is the one-shot
    // write that every later orderkey join amortizes against — the
    // difference between shuffling both fact tables per join and never
    // shuffling them again. Bucketing is layout, not semantics, so the
    // oracle replays the logical join.
    QueryDef("q54_bucketed_join",
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      import graft.ops.Bucketing
      // FIXED names: writeBucketed overwrites in place (catalog drop +
      // stale-location cleanup), so repeated runs never accumulate a
      // fact-table copy per JVM in the shared warehouse
      val lt = "graft_bkt_lineitem"
      val ot = "graft_bkt_orders"
      Bucketing.writeBucketed(
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice",
          "l_discount"),
        lt, "l_orderkey", 8)
      Bucketing.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        ot, "o_orderkey", 8)
      s.table(lt).hint("merge")
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("o_orderpriority")
    },

    // null-semantics surface: NULLIF-derived nullable keys, null-safe
    // equality join (<=> ≡ IS NOT DISTINCT FROM — the null group MATCHES
    // itself, unlike plain =), null key as its own GROUP BY bucket,
    // COUNT(*) vs COUNT(col) divergence, NULLS FIRST ordering
    QueryDef("q48_null_semantics",
      """WITH a AS (
        |  SELECT NULLIF(o_custkey % 7, 0) AS k, o_orderkey FROM orders
        |  WHERE o_orderkey < 3000 AND o_orderkey % 2 = 0),
        |b AS (
        |  SELECT NULLIF(o_custkey % 7, 0) AS k, o_orderkey FROM orders
        |  WHERE o_orderkey < 3000 AND o_orderkey % 2 = 1)
        |SELECT a.k, COUNT(*) AS n_pairs, COUNT(a.k) AS n_nonnull_k
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |GROUP BY a.k
        |ORDER BY a.k NULLS FIRST""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d).filter(col("o_orderkey") < 3000)
      def side(par: Int) = orders.filter(col("o_orderkey") % 2 === par)
        .select(nullif(col("o_custkey") % 7, lit(0)).as("k"),
          col("o_orderkey"))
      side(0).as("a")
        .join(side(1).as("b"), col("a.k") <=> col("b.k"))
        .groupBy(col("a.k").as("k"))
        .agg(count(lit(1)).as("n_pairs"), count(col("a.k")).as("n_nonnull_k"))
        .orderBy(col("k").asc_nulls_first)
    },

    // event-transition matrix: per-user LAG over the time-ordered
    // stream (ties broken by event_id — total order, deterministic),
    // then a bigram count. The window is keyed on user_id, so
    // events-per-user skew is the only hotspot and the state per
    // partition is one row.
    QueryDef("q38_event_transitions",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, COUNT(*) AS n
        |FROM s WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, d)
        .withColumn("prev_type", lag("event_type", 1).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "event_type")
    },

    // trailing 7-day rolling activity via a RANGE frame over the
    // integer epoch-day — the value-based window shape (q25's running
    // total is ROWS-based): per event_type, each day sees the count
    // over days [d-6, d]. Partitioned by type, ordered by day — the
    // frame is bounded by value, so late/sparse days need no row
    // padding at any scale.
    QueryDef("q39_rolling_7d",
      """WITH daily AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_7d
        |FROM daily ORDER BY event_type, day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"))
        .withColumn("n_7d", sum("n").over(
          Window.partitionBy("event_type").orderBy("day")
            .rangeBetween(-6, Window.currentRow)).cast("bigint"))
        .orderBy("event_type", "day")
    },

    // Bloom-pruned star join: the BUILDING-segment predicate lives on
    // customer, but the shuffle cost lives on orders — BloomPrune
    // broadcasts a Bloom filter of qualifying custkeys and drops
    // non-joining orders rows BEFORE the exchange (~1/5 of the fact
    // shuffled instead of all of it). Pruning is result-transparent
    // (the real join removes false positives), so the oracle is the
    // PLAIN join: identical output proves the rewrite preserves
    // semantics.
    QueryDef("q34_bloom_join",
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        val dim = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        graft.ops.BloomPrune
          .prunedEquiJoin(Tables.orders(s, d), dim, "o_custkey", "c_custkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("rev"))
          .orderBy("o_orderpriority")
    },

    // skew-salted join in the graded inventory: lineitem (large, skewed
    // at 100 TB) joins the urgent-order dim through ops.Skew's salt
    // replication — one hot orderkey spreads over 16 reducers. Salting
    // is result-transparent, so the oracle is the PLAIN join: identical
    // output proves the rewrite is semantics-preserving.
    QueryDef("q33_salted_join",
      """SELECT l_returnflag,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      graft.ops.Skew
        .saltedEquiJoin(Tables.lineitem(s, d), urgent, "l_orderkey",
          buckets = 16)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("rev"))
        .orderBy("l_returnflag")
    },

    // null-semantics suite: NULLIF-derived nullable keys, a NULL-SAFE
    // equality join (Spark <=> / DuckDB IS NOT DISTINCT FROM — NULL
    // matches NULL, unlike =), null-aware aggregation (COUNT(col) skips
    // nulls, COUNT(*) doesn't), and explicit NULLS FIRST ordering.
    QueryDef("q32_null_semantics",
      """WITH o AS (
        |  SELECT o_orderkey, NULLIF(o_orderstatus, 'F') AS status,
        |         o_totalprice
        |  FROM orders),
        |s AS (SELECT DISTINCT NULLIF(o_orderstatus, 'F') AS status
        |      FROM orders)
        |SELECT o.status, COUNT(*) AS n_rows, COUNT(o.status) AS n_nonnull,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM o JOIN s ON o.status IS NOT DISTINCT FROM s.status
        |GROUP BY o.status
        |ORDER BY o.status NULLS FIRST""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("F")).as("status"),
        col("o_totalprice"))
      val dim = o.select(col("status").as("s_status")).distinct()
      o.join(dim, col("status") <=> col("s_status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_rows"),
          count(col("status")).as("n_nonnull"),
          dsum(col("o_totalprice")).as("rev"))
        .orderBy(col("status").asc_nulls_first)
    },

    // correlated SCALAR subquery (TPC-H Q2 shape): each customer's
    // max-price order, selected by comparing against a correlated MAX.
    // Catalyst decorrelates to an aggregate + join
    // (RewriteCorrelatedScalarSubquery) — a different rewrite than
    // q28's predicate subqueries. MAX of doubles picks an exact input
    // value (no arithmetic), so the equality is engine-stable.
    QueryDef("q31_correlated_scalar",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (
        |    SELECT MAX(o2.o_totalprice) FROM orders o2
        |    WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
              |FROM orders o
              |WHERE o_totalprice = (
              |    SELECT MAX(o2.o_totalprice) FROM orders o2
              |    WHERE o2.o_custkey = o.o_custkey)
              |ORDER BY o_custkey, o_orderkey""".stripMargin)
    },
  )
}
