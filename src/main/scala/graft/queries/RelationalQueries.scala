package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Relational, Scale}
import graft.silver.Transforms
import graft.streaming.StreamExec
import graft.streaming.StreamExec.{Callback, Sliced}
import Q.{cents, sqlCents, asLong, sqlLong}

/** General relational query surface over the testdata star schema —
  * aggregation, filter/project pushdown, join variants, windows, set ops,
  * rollup, pivot-style conditional aggregation, JSON extraction, top-k.
  * The reference exercises only a subset of these (SURVEY.md §2.6-§2.8
  * note the absences); a complete engine ships all of them.
  *
  * Scale notes: every aggregation here is partial-agg friendly (map-side
  * combine); the star joins broadcast their dimension sides; filters and
  * projections reach the parquet scan (verified via explain in the specs).
  */
object RelationalQueries {

  private val dateLit = java.sql.Date.valueOf("1998-09-02")

  val all: Seq[Q] = Seq(

    // r1: TPC-H Q1-style pricing summary — groupBy/agg with exact cents.
    Q("r1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") <= lit(dateLit))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(asLong(col("l_quantity"))).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge_cents"),
          count(lit(1)).as("count_order")),
      Some(s"""
        SELECT l_returnflag, l_linestatus,
          CAST(sum(${sqlLong("l_quantity")}) AS BIGINT) AS sum_qty,
          CAST(sum(${sqlCents("l_extendedprice")}) AS BIGINT) AS sum_base_cents,
          CAST(sum(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS sum_disc_cents,
          CAST(sum(${sqlCents("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}) AS BIGINT) AS sum_charge_cents,
          count(*) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // r2: filter + projection (pushdown surface).
    Q("r2_filter_project",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_quantity") > lit(45.0) && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), asLong(col("l_quantity")).as("qty"),
          cents(col("l_extendedprice")).as("price_cents")),
      Some(s"""
        SELECT l_orderkey, l_linenumber, ${sqlLong("l_quantity")} AS qty,
               ${sqlCents("l_extendedprice")} AS price_cents
        FROM lineitem WHERE l_quantity > 45.0 AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber""")),

    // r3: CASE decoding (the reference's code->label pattern, F3).
    Q("r3_case_decode",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("flag_label",
          when(upper(trim(col("l_returnflag"))) === "A", "Accepted")
            .when(upper(trim(col("l_returnflag"))) === "R", "Returned")
            .otherwise("n/a"))
        .groupBy("flag_label").agg(count(lit(1)).as("cnt")),
      Some("""
        SELECT CASE WHEN upper(trim(l_returnflag)) = 'A' THEN 'Accepted'
                    WHEN upper(trim(l_returnflag)) = 'R' THEN 'Returned'
                    ELSE 'n/a' END AS flag_label,
               count(*) AS cnt
        FROM lineitem GROUP BY 1 ORDER BY flag_label""")),

    // r4: string function battery (F1/F2/F5/F6/F7/F8).
    Q("r4_string_funcs",
      (s, d) => Tables.customer(s, d)
        .select(
          col("c_custkey"),
          upper(trim(col("c_name"))).as("name_upper"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          regexp_replace(col("c_name"), "#", "_").as("name_clean"),
          length(col("c_name")).as("name_len"),
          col("c_name").like("%1%").as("has_one"),
          col("c_mktsegment").isin("BUILDING", "MACHINERY").as("seg_flag")),
      Some("""
        SELECT c_custkey,
               upper(trim(c_name)) AS name_upper,
               substring(c_name, 1, 8) AS name_prefix,
               regexp_replace(c_name, '#', '_', 'g') AS name_clean,
               CAST(length(c_name) AS INT) AS name_len,
               c_name LIKE '%1%' AS has_one,
               c_mktsegment IN ('BUILDING', 'MACHINERY') AS seg_flag
        FROM customer ORDER BY c_custkey""")),

    // r5: int-yyyyMMdd date repair (the reference's F11/F12 pattern) on a
    // deterministically dirtied column.
    Q("r5_date_repair",
      (s, d) => {
        val li = Tables.lineitem(s, d).withColumn("dt_int",
          when(col("l_orderkey") % 97 === 0, 0)
            .when(col("l_orderkey") % 89 === 0, 1234567)
            .when(col("l_orderkey") % 83 === 0, lit(null).cast("int"))
            .otherwise(date_format(col("l_shipdate"), "yyyyMMdd").cast("int")))
        li.select(col("l_orderkey"), col("l_linenumber"), col("dt_int"),
            Transforms.repairIntDate(col("dt_int")).as("dt_fixed"))
      },
      Some("""
        WITH src AS (
          SELECT l_orderkey, l_linenumber,
            CASE WHEN l_orderkey % 97 = 0 THEN 0
                 WHEN l_orderkey % 89 = 0 THEN 1234567
                 WHEN l_orderkey % 83 = 0 THEN NULL
                 ELSE CAST(strftime(l_shipdate, '%Y%m%d') AS INT) END AS dt_int
          FROM lineitem)
        SELECT l_orderkey, l_linenumber, dt_int,
          CASE WHEN dt_int = 0 OR length(CAST(dt_int AS VARCHAR)) != 8 THEN NULL
               ELSE CAST(try_strptime(CAST(dt_int AS VARCHAR), '%Y%m%d') AS DATE) END AS dt_fixed
        FROM src ORDER BY l_orderkey, l_linenumber""")),

    // r6: cube — full cross-dimensional subtotal lattice over order
    // status x priority (rollup's sibling, r16). Partial-agg friendly:
    // Expand feeds one hash aggregate, exact BIGINT cents.
    Q("r6_cube",
      (s, d) => Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio")),
      Some(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS total_cents,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY g_status, g_prio,
                 o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // r7: dedup-by-recency (W1) — latest event per user. Epochs are µs:
    // DuckDB's TIMESTAMP truncates the parquet ns precision to micros.
    Q("r7_dedup_latest",
      (s, d) => Relational.dedupLatest(
          Tables.events(s, d).drop("ts_ts"),
          Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
        .select("user_id", "event_id", "ts_us", "event_type", "value"),
      Some("""
        WITH src AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_id, ts_us, event_type, value
        FROM src WHERE rn = 1 ORDER BY user_id""")),

    // r8: SCD-2 end-dating (W2) — a version ends the day before the next.
    Q("r8_scd2_enddate",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("start_dt", col("o_orderdate").cast("date"))
        Relational.scd2EndDate(o, Seq("o_custkey"), "start_dt", "end_dt",
            tiebreak = Seq(col("o_orderkey")))
          .select("o_custkey", "o_orderkey", "start_dt", "end_dt")
      },
      Some("""
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS start_dt,
               lead(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey) - 1 AS end_dt
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    // r9: surrogate key (W3) — global dense 1..N by sort key.
    Q("r9_surrogate_key",
      (s, d) => Relational.surrogateKey(Tables.customer(s, d), "customer_sk",
          Seq(col("c_custkey").asc))
        .select("customer_sk", "c_custkey", "c_name"),
      Some("""
        SELECT row_number() OVER (ORDER BY c_custkey) AS customer_sk,
               c_custkey, c_name
        FROM customer ORDER BY customer_sk""")),

    // r10: star join (J4/J5 shape) — fact left-joins broadcast dims.
    Q("r10_star_join",
      (s, d) => {
        val li = Tables.lineitem(s, d).alias("l")
        val p = broadcast(Tables.part(s, d)).alias("p")
        val sup = broadcast(Tables.supplier(s, d)).alias("s")
        li.join(p, col("l.l_partkey") === col("p.p_partkey"), "left")
          .join(sup, col("l.l_suppkey") === col("s.s_suppkey"), "left")
          .select(col("l.l_orderkey"), col("l.l_linenumber"),
            col("p.p_brand"), col("p.p_type"), col("s.s_name"),
            cents(col("l.l_extendedprice")).as("price_cents"))
      },
      Some(s"""
        SELECT l.l_orderkey, l.l_linenumber, p.p_brand, p.p_type, s.s_name,
               ${sqlCents("l.l_extendedprice")} AS price_cents
        FROM lineitem l
        LEFT JOIN part p ON l.l_partkey = p.p_partkey
        LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        ORDER BY l_orderkey, l_linenumber""")),

    // r11: semi join — customers that have at least one order.
    Q("r11_semi_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")),

    // r12: anti join — customers with no urgent order.
    Q("r12_anti_join",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    // r13: set ops — union/intersect/except as symmetric difference over
    // filtered nation-key sets (filters chosen so the result is non-empty).
    Q("r13_set_ops",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_custkey") % 20 === 3)
          .select(col("c_nationkey").as("nk"))
        val su = Tables.supplier(s, d).filter(col("s_suppkey") % 2 === 0)
          .select(col("s_nationkey").as("nk"))
        c.union(su).distinct()
          .except(c.intersect(su))
      },
      Some("""
        (SELECT c_nationkey AS nk FROM customer WHERE c_custkey % 20 = 3
         UNION SELECT s_nationkey FROM supplier WHERE s_suppkey % 2 = 0)
        EXCEPT
        (SELECT c_nationkey FROM customer WHERE c_custkey % 20 = 3
         INTERSECT SELECT s_nationkey FROM supplier WHERE s_suppkey % 2 = 0)
        ORDER BY nk""")),

    // r14: window analytics — running totals, rank, lag over partitions.
    Q("r14_window_analytics",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("price_cents", cents(col("o_totalprice")))
        val wOrd = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val wRank = Window.partitionBy("o_custkey")
          .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        o.select(col("o_custkey"), col("o_orderkey"),
            sum(col("price_cents")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)).as("running_cents"),
            rank().over(wRank).cast("long").as("price_rank"),
            lag(col("price_cents"), 1).over(wOrd).as("prev_cents"))
      },
      Some(s"""
        WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
                     ${sqlCents("o_totalprice")} AS price_cents FROM orders)
        SELECT o_custkey, o_orderkey,
          CAST(sum(price_cents) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
          rank() OVER (PARTITION BY o_custkey
            ORDER BY price_cents DESC, o_orderkey ASC) AS price_rank,
          lag(price_cents, 1) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_cents
        FROM o ORDER BY o_custkey, o_orderkey""")),

    // r15: top-k — highest-value customers, deterministic tiebreak, limit.
    Q("r15_topk",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("total_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_cents").desc, col("o_custkey").asc)
        .limit(10),
      Some(s"""
        SELECT o_custkey, CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS total_cents,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
        ORDER BY total_cents DESC, o_custkey ASC LIMIT 10""")),

    // r16: rollup — subtotal hierarchy nation x mktsegment.
    Q("r16_rollup",
      (s, d) => {
        val c = Tables.customer(s, d).alias("c")
        val n = broadcast(Tables.nation(s, d)).alias("n")
        c.join(n, col("c.c_nationkey") === col("n.n_nationkey"), "left")
          .rollup(col("n.n_name"), col("c.c_mktsegment"))
          .agg(count(lit(1)).as("cnt"),
            grouping(col("n.n_name")).cast("int").as("g_nation"),
            grouping(col("c.c_mktsegment")).cast("int").as("g_seg"))
      },
      Some("""
        SELECT n.n_name, c.c_mktsegment, count(*) AS cnt,
               CAST(grouping(n.n_name) AS INT) AS g_nation,
               CAST(grouping(c.c_mktsegment) AS INT) AS g_seg
        FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
        ORDER BY g_nation, g_seg, n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""")),

    // r17: pivot-style conditional aggregation over event types.
    Q("r17_pivot_events",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"),
          sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0)).as("purchase_cents")),
      Some(s"""
        SELECT user_id,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN ${sqlCents("value")} ELSE 0 END) AS BIGINT) AS purchase_cents
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // r18: JSON extraction from event props.
    Q("r18_json_extract",
      (s, d) => Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n")),
      Some("""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // r19: tumbling-window time aggregation (batch twin of the streaming
    // pipeline) — hour buckets as epoch seconds.
    Q("r19_time_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("value_cents"))
        .select(unix_timestamp(col("w.start")).as("bucket"), col("event_type"),
          col("cnt"), col("value_cents")),
      Some(s"""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
               count(*) AS cnt,
               CAST(sum(${sqlCents("value")}) AS BIGINT) AS value_cents
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    // r20: exact distinct counting (count_distinct shuffles on the value;
    // the oracle pins correctness, r21 is the sketch-based scale path).
    Q("r20_distinct_count",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows")),
      Some("""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // r21: HLL-sketch distinct (approx_count_distinct) — the map-side-
    // combinable form that replaces r20's value shuffle at 100 TB.
    // Engine sketches differ, so raw estimates can never hash-match;
    // instead each engine checks ITS OWN sketch against its own exact
    // count and emits the bound verdict (integer arithmetic, 10% bound
    // vs rsd 0.02 ≈ 5σ — QUALITY.json records observed err ≤1%). The
    // exact column is co-computed only to make the bound driver-visible;
    // the production 100 TB form is the sketch alone (r20 is the exact
    // twin).
    Q("r21_approx_distinct",
      (s, d) => {
        // the exact and sketch aggs run as SEPARATE plans joined on the
        // 3-row output: one combined agg would mix distinct and
        // non-distinct aggregates, and Spark's Expand-based rewrite then
        // keeps an HLL buffer (~4 KB at rsd 0.02) per (flag, partkey)
        // group instead of per flag — measured 7× superlinear at 5× data,
        // while the split form stays flat alongside r20
        val li = Tables.lineitem(s, d)
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("n_parts"))
        val sketch = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
        exact.join(sketch, "l_returnflag")
          .select(col("l_returnflag"), col("n_parts"),
            (abs(col("approx") - col("n_parts")) * lit(10L) <= col("n_parts")).as("approx_ok"))
      },
      Some("""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               abs(CAST(approx_count_distinct(l_partkey) AS BIGINT)
                   - CAST(count(DISTINCT l_partkey) AS BIGINT)) * 10
                 <= CAST(count(DISTINCT l_partkey) AS BIGINT) AS approx_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // r22: array explode — word frequencies from part names.
    Q("r22_explode_words",
      (s, d) => Tables.part(s, d)
        .select(explode(split(col("p_name"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt")),
      Some("""
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        WHERE word != '' GROUP BY word ORDER BY word""")),

    // r23: correlated scalar subquery — customers whose order total tops
    // twice the mean, compared in exact integer arithmetic (s*n > 2*total)
    // so no cross-engine float averaging is involved.
    Q("r23_subquery_above_avg",
      (s, d) => {
        val t = Tables.orders(s, d).groupBy("o_custkey")
          .agg(sum(cents(col("o_totalprice"))).as("s"))
        val stats = t.agg(count(lit(1)).as("n"), sum(col("s")).as("total"))
        t.crossJoin(broadcast(stats))
          .filter(col("s") * col("n") > lit(2) * col("total"))
          .select("o_custkey", "s")
      },
      Some(s"""
        WITH t AS (SELECT o_custkey, CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS s
                   FROM orders GROUP BY o_custkey)
        SELECT o_custkey, s FROM t
        WHERE s * (SELECT count(*) FROM t) > 2 * (SELECT CAST(sum(s) AS BIGINT) FROM t)
        ORDER BY o_custkey""")),

    // r24: date arithmetic battery (F15-adjacent).
    Q("r24_date_arithmetic",
      (s, d) => Tables.orders(s, d)
        .withColumn("od", col("o_orderdate").cast("date"))
        .select(
          col("o_orderkey"),
          date_add(col("od"), 30).as("plus30"),
          add_months(col("od"), 2).as("plus2mo"),
          last_day(col("od")).as("month_end"),
          date_trunc("month", col("od")).cast("date").as("month_start"),
          year(col("od")).cast("long").as("yr"),
          month(col("od")).cast("long").as("mo"),
          dayofmonth(col("od")).cast("long").as("dom"),
          datediff(lit(java.sql.Date.valueOf("2026-01-01")), col("od")).cast("long").as("age_days")),
      Some("""
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) + 30 AS plus30,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
               CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
               CAST(extract(month FROM o_orderdate) AS BIGINT) AS mo,
               CAST(extract(day FROM o_orderdate) AS BIGINT) AS dom,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS BIGINT) AS age_days
        FROM orders ORDER BY o_orderkey""")),

    // r25: null-handling battery (F9/F14) over derived nullable columns.
    Q("r25_null_funcs",
      (s, d) => Tables.customer(s, d)
        .withColumn("maybe", when(col("c_custkey") % 3 === 0, col("c_acctbal")))
        .select(
          col("c_custkey"),
          coalesce(col("maybe"), lit(0.0)).as("bal_or_zero"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"),
          col("maybe").isNull.as("is_missing"),
          when(col("maybe").isNotNull && col("maybe") > 0, "pos")
            .when(col("maybe").isNotNull, "nonpos").otherwise("missing").as("bucket3")),
      Some("""
        SELECT c_custkey,
               coalesce(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END, 0.0) AS bal_or_zero,
               nullif(c_mktsegment, 'BUILDING') AS seg_nb,
               (CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END) IS NULL AS is_missing,
               CASE WHEN c_custkey % 3 = 0 AND c_acctbal > 0 THEN 'pos'
                    WHEN c_custkey % 3 = 0 THEN 'nonpos' ELSE 'missing' END AS bucket3
        FROM customer ORDER BY c_custkey""")),

    // r27: the native pivot OPERATOR (r17 is the conditional-agg twin);
    // absent combinations yield NULL, which sum(CASE ...) mirrors.
    Q("r27_pivot_native",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "purchase", "error"))
        .agg(count(lit(1))),
      Some("""
        SELECT user_id,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // r28: as-of join — each click enriched with the user's latest
    // at-or-before purchase. Spark composes it (union + last_value
    // window); DuckDB has the operator natively (ASOF LEFT JOIN).
    Q("r28_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts_us")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_event"),
            col("ts_us").as("pts"), cents(col("value")).as("p_cents"))
        Relational.asofJoin(clicks, purchases, "user_id", "ts_us", "pts",
          payload = Seq("p_event", "p_cents"))
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        l AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
        r AS (SELECT user_id, event_id AS p_event, ts_us AS pts,
                     ${sqlCents("value")} AS p_cents
              FROM ev WHERE event_type = 'purchase')
        SELECT l.user_id, l.event_id, l.ts_us, r.p_event, r.p_cents
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.pts
        ORDER BY l.user_id, l.event_id""")),

    // r31: grouped top-N — each customer's 3 most recent orders.
    Q("r31_topn_per_key",
      (s, d) => Relational.topNPerKey(
          Tables.orders(s, d).withColumn("cents", cents(col("o_totalprice"))),
          Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc), 3)
        .select(col("o_custkey"), col("rnk").cast("long").as("rnk"), col("o_orderkey"), col("cents")),
      Some(s"""
        WITH r AS (
          SELECT o_custkey, o_orderkey, ${sqlCents("o_totalprice")} AS cents,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rnk
          FROM orders)
        SELECT o_custkey, rnk, o_orderkey, cents FROM r WHERE rnk <= 3
        ORDER BY o_custkey, rnk""")),

    // r32: batch upsert — a derived update stream (10% of orders with
    // bumped version + price) merged into the snapshot, newest wins.
    Q("r32_upsert",
      (s, d) => {
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), lit(1L).as("version"),
            cents(col("o_totalprice")).as("cents"), col("o_orderstatus"))
        val updates = Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), lit(2L).as("version"),
            (cents(col("o_totalprice")) + 999).as("cents"), lit("U").as("o_orderstatus"))
        Relational.upsert(base, updates, Seq("o_orderkey"),
          Seq(col("version").desc))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey, CAST(1 AS BIGINT) AS version,
                 ${sqlCents("o_totalprice")} AS cents, o_orderstatus
          FROM orders),
        updates AS (
          SELECT o_orderkey, CAST(2 AS BIGINT) AS version,
                 ${sqlCents("o_totalprice")} + 999 AS cents, 'U' AS o_orderstatus
          FROM orders WHERE o_orderkey % 10 = 0),
        merged AS (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
          FROM (SELECT * FROM base UNION ALL SELECT * FROM updates) u)
        SELECT o_orderkey, version, cents, o_orderstatus
        FROM merged WHERE rn = 1 ORDER BY o_orderkey""")),

    // r36: CDC merge with DELETE tombstones (r32's missing half — real
    // change streams carry deletes). A key whose newest version is a
    // tombstone disappears; a stale tombstone loses to a newer upsert.
    Q("r36_cdc_merge_delete",
      (s, d) => {
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), lit(1L).as("version"),
            cents(col("o_totalprice")).as("cents"), col("o_orderstatus"))
        val updates = Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), lit(2L).as("version"),
            (cents(col("o_totalprice")) + 999).as("cents"),
            lit("U").as("o_orderstatus"),
            (col("o_orderkey") % 20 === 0).as("deleted"))
        Relational.upsertCdc(base, updates, Seq("o_orderkey"),
          Seq(col("version").desc), "deleted")
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey, CAST(1 AS BIGINT) AS version,
                 ${sqlCents("o_totalprice")} AS cents, o_orderstatus,
                 FALSE AS deleted
          FROM orders),
        updates AS (
          SELECT o_orderkey, CAST(2 AS BIGINT) AS version,
                 ${sqlCents("o_totalprice")} + 999 AS cents, 'U' AS o_orderstatus,
                 o_orderkey % 20 = 0 AS deleted
          FROM orders WHERE o_orderkey % 10 = 0),
        merged AS (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
          FROM (SELECT * FROM base UNION ALL SELECT * FROM updates) u)
        SELECT o_orderkey, version, cents, o_orderstatus
        FROM merged WHERE rn = 1 AND NOT deleted ORDER BY o_orderkey""")),

    // s12: STREAMING CDC UPSERT SINK — r36's merge semantics driven by a
    // real StreamingQuery: a 3-version CDC log replays as one micro-batch
    // per version (foreachBatch), and each batch's frame is applied to a
    // keyed parquet TABLE via Scale.mergeParquet (newest-per-key,
    // tombstone delete, locked rename-swap) — the incremental form of
    // the reference's full-overwrite warehouse load. Cross-batch cases
    // exercised for real: batch 0 bootstraps the table, batch 1 updates
    // %10 keys and TOMBSTONES %20 keys, batch 2 RESURRECTS the %40 keys
    // batch 1 deleted (an upsert against a base that no longer holds the
    // key). The oracle replays the whole log in one newest-per-key
    // statement — streamed merge-by-merge must equal the one-shot merge.
    // Scale: each batch's merge cost is O(batch + touched base); the
    // replay machinery is the production foreachBatch topology.
    Q("s12_stream_cdc_upsert",
      (s, d) => {
        def v(n: Long, filt: org.apache.spark.sql.Column, dCents: Long,
              status: org.apache.spark.sql.Column,
              del: org.apache.spark.sql.Column) =
          Tables.orders(s, d).filter(filt)
            .select(col("o_orderkey"), lit(n).as("version"),
              (cents(col("o_totalprice")) + dCents).as("cents"),
              status.as("o_orderstatus"), del.as("deleted"))
        val log = v(1L, lit(true), 0L, col("o_orderstatus"), lit(false))
          .unionByName(v(2L, col("o_orderkey") % 10 === 0, 999L, lit("U"),
            col("o_orderkey") % 20 === 0))
          .unionByName(v(3L, col("o_orderkey") % 40 === 0, 500L, lit("R"),
            lit(false)))
        val table = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "cdc_tbl_").toString + "/t"
        // the version keys are synthesized constants 1..3 — static
        // bounds skip the harness's min/max scan of the change log
        StreamExec.replay(Seq(Sliced(log, "version", 3, bounds = Some((1L, 3L)))),
          Callback { (b, _) =>
            graft.operators.Scale.mergeParquet(s, table, b, Seq("o_orderkey"),
              Seq(col("version").desc), deleteCol = Some("deleted"))
          })()
        s.read.parquet(table).orderBy("o_orderkey")
      },
      Some(s"""
        WITH log AS (
          SELECT o_orderkey, CAST(1 AS BIGINT) AS version,
                 ${sqlCents("o_totalprice")} AS cents, o_orderstatus,
                 FALSE AS deleted
          FROM orders
          UNION ALL
          SELECT o_orderkey, 2, ${sqlCents("o_totalprice")} + 999, 'U',
                 o_orderkey % 20 = 0
          FROM orders WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, 3, ${sqlCents("o_totalprice")} + 500, 'R', FALSE
          FROM orders WHERE o_orderkey % 40 = 0),
        m AS (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey
                      ORDER BY version DESC) AS rn
          FROM log)
        SELECT o_orderkey, version, cents, o_orderstatus
        FROM m WHERE rn = 1 AND NOT deleted ORDER BY o_orderkey""")),

    // s21: EXACTLY-ONCE STREAMING INTO THE SNAPSHOT-VERSIONED TABLE —
    // s12 merges into a plain parquet table; the h-family commits
    // through the lock+pointer snapshot protocol; this composes them
    // under REAL execution with a mid-stream restart (s17's protocol):
    // 5 micro-batches stream into Scale.writeSnapshotIdempotent with a
    // batchId-keyed token, the query is STOPPED after batch 3 and a
    // fresh StreamingQuery resumes from the checkpoint (harness
    // verifies the batchId sequence continues), and EVERY batch is
    // applied TWICE — the second apply simulates the one redelivery
    // Structured Streaming's at-least-once foreachBatch contract
    // allows (sink committed, checkpoint lost) and must no-op on the
    // token. The gate output proves both exactly-once halves against
    // the one-shot oracle: n_rows == n_keys per group (no duplicate
    // rows) and n_versions == 5 (no duplicate version from the 10
    // applies). Scale: each commit is copy-on-write of the accumulated
    // table — the snapshot protocol's documented cost, chosen here for
    // its time-travel/isolation contract; the idempotence guard itself
    // is O(1) (one token read under the table lock).
    Q("s21_stream_exactly_once_snapshot",
      (s, d) => {
        val rows = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
            cents(col("o_totalprice")).as("cents"),
            (col("o_orderkey") % 5).as("slice"))
        val table = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "s21_tbl_").toString + "/t"
        // the slice key is o_orderkey % 5 — static bounds skip the
        // harness's min/max scan
        StreamExec.replay(Seq(Sliced(rows, "slice", 5, bounds = Some((0L, 4L)))),
          Callback { (b, id) =>
            def accumulated = {
              val prev =
                if (graft.operators.Scale.latestSnapshot(s, table).isEmpty) b.limit(0)
                else graft.operators.Scale.readSnapshot(s, table)
              prev.unionByName(b)
            }
            val first = graft.operators.Scale.writeSnapshotIdempotent(
              s, table, accumulated, s"b$id")
            require(first.nonEmpty, s"s21: batch $id first apply must commit")
            val second = graft.operators.Scale.writeSnapshotIdempotent(
              s, table, accumulated, s"b$id")
            require(second.isEmpty, s"s21: redelivered batch $id must no-op")
          }, splitAt = Some(3))()
        val versions = graft.operators.Scale.latestSnapshot(s, table)
          .map(_ + 1).getOrElse(0L)
        graft.operators.Scale.readSnapshot(s, table)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("o_orderkey")).as("n_keys"),
            sum(col("cents")).as("cents_sum"))
          .withColumn("n_versions", lit(versions))
          .orderBy("o_orderstatus")
      },
      Some(s"""
        SELECT o_orderstatus, count(*) AS n_rows,
               count(DISTINCT o_orderkey) AS n_keys,
               CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS cents_sum,
               CAST(5 AS BIGINT) AS n_versions
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // r33: exact quantiles — both engines interpolate linearly at
    // (n-1)*p over sorted values; inputs are exact ints so the midpoint
    // arithmetic is bit-identical.
    Q("r33_median",
      // one percentile(col, array(p25, p75)) buffers the cents column ONCE
      // per group instead of twice — exact-percentile cost is dominated by
      // that per-group buffer, so fusing halves the memory and the merge
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(CAST(floor(l_quantity + 0.5) AS BIGINT), 0.5)").as("median_qty"),
          expr("percentile(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT), array(0.25, 0.75))").as("pq"))
        .select(col("l_returnflag"), col("median_qty"),
          col("pq").getItem(0).as("p25_cents"), col("pq").getItem(1).as("p75_cents")),
      Some(s"""
        SELECT l_returnflag,
               quantile_cont(${sqlLong("l_quantity")}, 0.5) AS median_qty,
               quantile_cont(${sqlCents("l_extendedprice")}, 0.25) AS p25_cents,
               quantile_cont(${sqlCents("l_extendedprice")}, 0.75) AS p75_cents
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // r35: sketch quantiles (approx_percentile, bounded-memory digest with
    // map-side merge) — the 100 TB scale twin of r33's exact percentile,
    // mirroring the r20/r21 exact/sketch pairing. r33's exact form buffers
    // every group value in executor memory; this one is O(1/accuracy) per
    // group. Engine digests differ (Spark QuantileSummaries vs DuckDB
    // t-digest), so like r21 each engine verifies its own sketch against
    // its own exact quantile and emits the bound verdict (10% bound vs
    // observed err ≤0.2% in QUALITY.json). The exact side is co-computed
    // only for the oracle contract; at 100 TB you run the digest alone.
    Q("r35_approx_quantile",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(CAST(floor(l_quantity + 0.5) AS BIGINT), 0.5)").as("em"),
          expr("approx_percentile(CAST(floor(l_quantity + 0.5) AS BIGINT), 0.5, 1000)").as("am"),
          expr("percentile(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT), array(0.25, 0.75))").as("eq"),
          expr("approx_percentile(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT), array(0.25, 0.75), 1000)").as("aq"))
        .select(col("l_returnflag"),
          (abs(col("am") - col("em")) * lit(10) <= abs(col("em"))).as("median_ok"),
          (abs(col("aq").getItem(0) - col("eq").getItem(0)) * lit(10) <= abs(col("eq").getItem(0))).as("p25_ok"),
          (abs(col("aq").getItem(1) - col("eq").getItem(1)) * lit(10) <= abs(col("eq").getItem(1))).as("p75_ok")),
      Some(s"""
        SELECT l_returnflag,
               abs(approx_quantile(${sqlLong("l_quantity")}, 0.5)
                   - quantile_cont(${sqlLong("l_quantity")}, 0.5)) * 10
                 <= abs(quantile_cont(${sqlLong("l_quantity")}, 0.5)) AS median_ok,
               abs(approx_quantile(${sqlCents("l_extendedprice")}, 0.25)
                   - quantile_cont(${sqlCents("l_extendedprice")}, 0.25)) * 10
                 <= abs(quantile_cont(${sqlCents("l_extendedprice")}, 0.25)) AS p25_ok,
               abs(approx_quantile(${sqlCents("l_extendedprice")}, 0.75)
                   - quantile_cont(${sqlCents("l_extendedprice")}, 0.75)) * 10
                 <= abs(quantile_cont(${sqlCents("l_extendedprice")}, 0.75)) AS p75_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // r34: array function battery over tokenized part names.
    Q("r34_array_funcs",
      (s, d) => Tables.part(s, d)
        .withColumn("words", split(col("p_name"), " "))
        .select(
          col("p_partkey"),
          array_join(array_sort(col("words")), "|").as("sorted_words"),
          size(array_distinct(col("words"))).cast("long").as("n_distinct"),
          array_contains(col("words"), "green").as("has_green"),
          element_at(col("words"), 1).as("first_word"),
          element_at(col("words"), -1).as("last_word"),
          size(col("words")).cast("long").as("n_words")),
      Some("""
        WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
        SELECT p_partkey,
               array_to_string(list_sort(words), '|') AS sorted_words,
               CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
               list_contains(words, 'green') AS has_green,
               words[1] AS first_word,
               words[-1] AS last_word,
               CAST(len(words) AS BIGINT) AS n_words
        FROM w ORDER BY p_partkey""")),

    // r29: fixed-width histogram binning via integer arithmetic (no
    // engine-specific width_bucket semantics).
    Q("r29_histogram",
      (s, d) => Tables.orders(s, d)
        .withColumn("bin",
          least(floor(cents(col("o_totalprice")) / lit(5000000L)).cast("long"), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("cnt"),
          min(cents(col("o_totalprice"))).as("min_cents"),
          max(cents(col("o_totalprice"))).as("max_cents")),
      Some(s"""
        WITH b AS (
          SELECT least(CAST(floor(${sqlCents("o_totalprice")} / 5000000) AS BIGINT), 9) AS bin,
                 ${sqlCents("o_totalprice")} AS cents
          FROM orders)
        SELECT bin, count(*) AS cnt,
               CAST(min(cents) AS BIGINT) AS min_cents,
               CAST(max(cents) AS BIGINT) AS max_cents
        FROM b GROUP BY bin ORDER BY bin""")),

    // r30: regex group extraction (both engines return '' on no match).
    Q("r30_regex_extract",
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "#(0*)([1-9][0-9]*)", 2).as("id_digits"),
          regexp_extract(col("c_name"), "([A-Za-z]+)", 1).as("word"),
          regexp_count(col("c_name"), lit("0")).cast("long").as("n_zeros")),
      Some("""
        SELECT c_custkey,
               regexp_extract(c_name, '#(0*)([1-9][0-9]*)', 2) AS id_digits,
               regexp_extract(c_name, '([A-Za-z]+)', 1) AS word,
               CAST(len(regexp_extract_all(c_name, '0')) AS BIGINT) AS n_zeros
        FROM customer ORDER BY c_custkey""")),

    // r26: ordered string aggregation (collect_list + sort vs string_agg).
    Q("r26_string_agg",
      (s, d) => {
        val c = Tables.customer(s, d).alias("c")
        val n = broadcast(Tables.nation(s, d)).alias("n")
        c.join(n, col("c.c_nationkey") === col("n.n_nationkey"), "left")
          .filter(col("c.c_custkey") % 50 === 0)
          .groupBy(col("n.n_name"))
          .agg(array_join(array_sort(collect_list(col("c.c_name"))), ",").as("names"),
            count(lit(1)).as("cnt"))
      },
      Some("""
        SELECT n.n_name, string_agg(c.c_name, ',' ORDER BY c.c_name) AS names,
               count(*) AS cnt
        FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_custkey % 50 = 0
        GROUP BY n.n_name ORDER BY n.n_name""")),

    // r37: Bloom-pruned fact-to-dim join — the small side (top ~4% of
    // orders by price) builds a Bloom filter whose probe drops non-matching
    // lineitem rows in the scan stage, before any shuffle; the exact join
    // after keeps the result identical to a plain join (no false
    // negatives), which the oracle verifies.
    Q("r37_bloom_prune_join",
      (s, d) => {
        val small = Tables.orders(s, d)
          .filter(col("o_totalprice") > 480000.0)
          .select(col("o_orderkey"))
        val big = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_quantity"), col("l_extendedprice"))
        Scale.bloomPruneJoin(big, small, "o_orderkey")
          .groupBy("o_orderkey")
          .agg(sum(asLong(col("l_quantity"))).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""
        SELECT l_orderkey AS o_orderkey,
               CAST(sum(${sqlLong("l_quantity")}) AS BIGINT) AS sum_qty,
               CAST(sum(${sqlCents("l_extendedprice")}) AS BIGINT) AS sum_price_cents,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 480000.0
        GROUP BY l_orderkey ORDER BY o_orderkey""")),

    // r38: range (point-in-interval) join — every event inside the hour
    // after a sampled signup, via Scale.rangeJoin's binned equijoin
    // instead of the nested-loop plan Catalyst gives a pure inequality
    // join. Both engines work in epoch-MICROS (`ts_us` is the canonical
    // events time column — Tables.events), so window boundaries align
    // exactly.
    Q("r38_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val points = ev.select(col("ts_us").as("p_us"), col("value"))
        val intervals = ev
          .filter(col("event_type") === "signup" && col("user_id") % 50 === 0)
          .select(col("event_id").as("sg_id"), col("ts_us").as("lo"),
            (col("ts_us") + lit(3600000000L)).as("hi"))
        Scale.rangeJoin(points, "p_us", intervals, "lo", "hi",
            binSize = 600000000L) // 10-min bins over 1-hour windows: 7 rows/interval
          .groupBy("sg_id")
          .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
      },
      Some(s"""
        WITH sg AS (
          SELECT event_id AS sg_id, epoch_us(ts) AS lo,
                 epoch_us(ts) + 3600000000 AS hi
          FROM events WHERE event_type = 'signup' AND user_id % 50 = 0)
        SELECT sg_id, count(*) AS n_events,
               CAST(sum(${sqlCents("e.value")}) AS BIGINT) AS value_cents
        FROM events e JOIN sg ON epoch_us(e.ts) >= sg.lo AND epoch_us(e.ts) < sg.hi
        GROUP BY sg_id ORDER BY sg_id""")),

    // r39: the SCALABLE variant of W3's surrogate key, oracle-pinned —
    // r9 carries the reference's exact semantics (row_number over a
    // global Window: one single-partition exchange, fine for dims only);
    // r39 produces the identical dense 1..N keys via Relational's
    // bucketedRank core (value-bucketed local running counts + broadcast
    // prefix offsets — fully DataFrame-native, rows stay in Tungsten),
    // the shape that survives a fact-scale input. Run over
    // orders (10x customer) on a unique total order so both engines
    // agree key-for-key; same twin pattern as r33↔r35.
    Q("r39_surrogate_key_scalable",
      (s, d) => Relational.surrogateKeyScalable(
          Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
          "order_sk", col("o_orderkey"), Seq(col("o_orderkey").asc))
        .select(col("order_sk"), col("o_orderkey"), col("o_custkey")),
      Some("""
        SELECT row_number() OVER (ORDER BY o_orderkey) AS order_sk,
               o_orderkey, o_custkey
        FROM orders ORDER BY order_sk""")),

    // r40: explicit window FRAMES — trailing 4-row moving sum (ROWS
    // BETWEEN, total order so the frame content is deterministic) and a
    // peer-inclusive trailing-30-day sum (RANGE BETWEEN over an integer
    // day number — range frames need no tiebreak because peers are
    // always all-in). The reference's windows are rank-only (§2.7 "no
    // frame specs"); this is the analytic-frame surface beyond it. Sums
    // are exact BIGINT cents; one partition-keyed sort serves both
    // frames (same partition + compatible order), no extra exchange.
    Q("r40_window_frames",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), Q.cents(col("o_totalprice")).as("cents"),
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1992-01-01"))).cast("long").as("dayn"))
        val wRows = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(-3, 0)
        val wRange = Window.partitionBy("o_custkey").orderBy(col("dayn"))
          .rangeBetween(-30, 0)
        o.select(col("o_custkey"), col("o_orderkey"),
            sum("cents").over(wRows).as("sum4_cents"),
            count(lit(1)).over(wRows).as("n4"),
            sum("cents").over(wRange).as("sum30d_cents"),
            count(lit(1)).over(wRange).as("n30d"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some(s"""
        WITH o AS (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 ${Q.sqlCents("o_totalprice")} AS cents,
                 date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dayn
          FROM orders)
        SELECT o_custkey, o_orderkey,
               CAST(sum(cents) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum4_cents,
               count(*) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n4,
               CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY dayn
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum30d_cents,
               count(*) OVER (PARTITION BY o_custkey ORDER BY dayn
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n30d
        FROM o ORDER BY o_custkey, o_orderkey"""))
  ,

    // r41: GROUPING SETS — the third grouping-extension surface next to
    // CUBE (r6) and ROLLUP (r16), via the Dataset groupingSets API. One
    // Expand + one hash agg, same physical shape as cube; grouping()
    // flags disambiguate aggregate NULLs from data NULLs (the r6
    // convention — no engine-specific grouping_id bit order to match).
    Q("r41_grouping_sets",
      (s, d) => Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(Q.cents(col("o_totalprice"))).as("total_cents"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio")),
      Some(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               CAST(sum(${Q.sqlCents("o_totalprice")}) AS BIGINT) AS total_cents,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_prio,
                 o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // r42: UNPIVOT (wide→long melt) — the inverse of r17/r27's pivots,
    // via the Dataset unpivot API. The wide input is a 3-row aggregate,
    // so the melt itself is O(rows × measures) on already-reduced data —
    // at 100 TB the heavy lifting stays in the map-side-combined agg.
    Q("r42_unpivot",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(sum(cents(col("l_extendedprice"))).as("extendedprice_cents"),
          sum(cents(col("l_discount"))).as("discount_cents"),
          sum(cents(col("l_tax"))).as("tax_cents"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("extendedprice_cents"), col("discount_cents"), col("tax_cents")),
          "measure", "value_cents"),
      Some(s"""
        WITH w AS (
          SELECT l_returnflag,
                 CAST(sum(${sqlCents("l_extendedprice")}) AS BIGINT) AS extendedprice_cents,
                 CAST(sum(${sqlCents("l_discount")}) AS BIGINT) AS discount_cents,
                 CAST(sum(${sqlCents("l_tax")}) AS BIGINT) AS tax_cents
          FROM lineitem GROUP BY l_returnflag)
        SELECT * FROM w
        UNPIVOT (value_cents FOR measure IN (extendedprice_cents, discount_cents, tax_cents))
        ORDER BY l_returnflag, measure""")),

    // r43: the TPC-H Q5 shape — six-table join with the nation-alignment
    // trick (supplier must share the customer's nation), the canonical
    // join-composition benchmark. Plan shape at scale: customer⋈orders
    // and orders⋈lineitem are key-partitioned shuffles; supplier, nation,
    // region are dim-sized and broadcast, so the nation-alignment
    // predicate rides the broadcast join instead of forcing another
    // exchange. Revenue is one IEEE multiply per row floored to exact
    // cents, then an exact BIGINT sum.
    Q("r43_regional_volume",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        val l = Tables.lineitem(s, d)
        val sup = broadcast(Tables.supplier(s, d))
        val n = broadcast(Tables.nation(s, d))
        val r = broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_cents"),
            count(lit(1)).as("n_lineitems"))
      },
      Some(s"""
        SELECT n_name,
               CAST(sum(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_cents,
               count(*) AS n_lineitems
        FROM customer c
        JOIN orders o ON c_custkey = o_custkey
        JOIN lineitem l ON l_orderkey = o_orderkey
        JOIN supplier s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation n ON c_nationkey = n_nationkey
        JOIN region r ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name ORDER BY n_name""")),

    // r44: skew-salted join, oracle-pinned — Scale.saltedJoin fans the
    // small side out over `salt` replicas and scatters the big side's
    // hot keys across them, so one skewed key spreads over `salt` tasks
    // instead of straggling on one. The point of the gate row: the oracle
    // is a PLAIN join, proving salting is physical-only (same rows out,
    // any salt, any partitioning). ScaleSpec pins the fan-out mechanics.
    Q("r44_salted_join",
      (s, d) => graft.operators.Scale.saltedJoin(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
            col("l_suppkey").as("suppkey"),
            cents(col("l_extendedprice")).as("price_cents")),
          Tables.supplier(s, d).select(col("s_suppkey").as("suppkey"), col("s_name")),
          keys = Seq("suppkey"), salt = 8)
        .select("l_orderkey", "l_linenumber", "suppkey", "s_name", "price_cents"),
      Some(s"""
        SELECT l_orderkey, l_linenumber, l_suppkey AS suppkey, s_name,
               ${sqlCents("l_extendedprice")} AS price_cents
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        ORDER BY l_orderkey, l_linenumber""")),

    // r45: r38's interval join written as the NAIVE inequality join a
    // user would type — Catalyst's native plan is a nested loop — and
    // rewritten to the binned equijoin transparently by the conf-gated
    // [[graft.plans.BinnedRangeJoinRule]] (injected via
    // experimental.extraOptimizations here; GraftExtensions injects the
    // same rule at session build). The rewrite keeps the original
    // condition as a residual, so this hash-matches r38's oracle
    // verbatim; ExtensionsSpec pins plan shape, result equality, and the
    // max-bins loud-failure guard. localCheckpoint materializes while
    // the width conf is armed (plans are lazy; the conf is unset before
    // returning so no other gate query is affected).
    Q("r45_range_join_rule",
      (s, d) => {
        import graft.plans.BinnedRangeJoinRule
        if (!s.experimental.extraOptimizations.exists(_.isInstanceOf[BinnedRangeJoinRule]))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ BinnedRangeJoinRule(s)
        val ev = Tables.events(s, d)
        val points = ev.select(col("ts_us").as("p_us"), col("value"))
        val intervals = ev
          .filter(col("event_type") === "signup" && col("user_id") % 50 === 0)
          .select(col("event_id").as("sg_id"), col("ts_us").as("lo"),
            (col("ts_us") + lit(3600000000L)).as("hi"))
        s.conf.set(BinnedRangeJoinRule.WidthConf, "600000000")
        try {
          points.join(intervals, col("p_us") >= col("lo") && col("p_us") < col("hi"))
            .groupBy("sg_id")
            .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
            .localCheckpoint(true)
        } finally s.conf.unset(BinnedRangeJoinRule.WidthConf)
      },
      Some(s"""
        WITH sg AS (
          SELECT event_id AS sg_id, epoch_us(ts) AS lo,
                 epoch_us(ts) + 3600000000 AS hi
          FROM events WHERE event_type = 'signup' AND user_id % 50 = 0)
        SELECT sg_id, count(*) AS n_events,
               CAST(sum(${sqlCents("e.value")}) AS BIGINT) AS value_cents
        FROM events e JOIN sg ON epoch_us(e.ts) >= sg.lo AND epoch_us(e.ts) < sg.hi
        GROUP BY sg_id ORDER BY sg_id""")),

    // r46: TPC-H Q3-shape shipping priority — the classic three-way
    // customer ⨝ orders ⨝ lineitem revenue ranking with a date cut on
    // both fact sides. Segment/date predicates sit directly on the scans
    // (pushed + pruned); the orders⨝lineitem equijoin shuffles on the
    // order key at scale while AQE broadcasts the filtered customer side
    // when it fits — the canonical 100 TB plan for this shape. Top-10 is
    // TakeOrdered (no global sort), tiebreak on l_orderkey keeps the cut
    // deterministic cross-engine.
    Q("r46_shipping_priority",
      (s, d) => {
        val cutoff = java.sql.Date.valueOf("1998-06-01")
        val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val ord = Tables.orders(s, d).filter(col("o_orderdate").cast("date") < lit(cutoff))
        val li = Tables.lineitem(s, d).filter(col("l_shipdate").cast("date") > lit(cutoff))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"),
            col("o_orderpriority"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some(s"""
        SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
               CAST(sum(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
                 AS revenue_cents
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
          AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue_cents DESC, l_orderkey ASC
        LIMIT 10""")),

    // r47: FULL OUTER reconciliation — day-of-month order revenue vs
    // day-of-month event value, with presence flags and coalesced
    // totals. Both inputs collapse to ≤31 keys via map-side partial
    // aggregation BEFORE the outer join, so the join cost is constant
    // however large the fact tables are — the shape to reach for when
    // reconciling two 100 TB sources on a low-cardinality audit key.
    // February orders (28 days) vs January events (30 days) exercises
    // matched, left-only-null and right-only-null rows in one result.
    Q("r47_full_outer_recon",
      (s, d) => {
        val od = col("o_orderdate").cast("date")
        val ord = Tables.orders(s, d)
          .filter(year(od) === 1995 && month(od) === 2)
          .groupBy(dayofmonth(od).cast("long").as("dom"))
          .agg(sum(cents(col("o_totalprice"))).as("order_cents"))
        val ev = Tables.events(s, d)
          .groupBy(dayofmonth(col("ts_ts")).cast("long").as("dom"))
          .agg(sum(cents(col("value"))).as("event_cents"))
        ord.join(ev, Seq("dom"), "full_outer")
          .select(col("dom"),
            coalesce(col("order_cents"), lit(0L)).as("order_cents"),
            coalesce(col("event_cents"), lit(0L)).as("event_cents"),
            col("order_cents").isNotNull.as("has_orders"),
            col("event_cents").isNotNull.as("has_events"))
          .orderBy("dom")
      },
      Some(s"""
        WITH o AS (
          SELECT CAST(day(o_orderdate) AS BIGINT) AS dom,
                 CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS order_cents
          FROM orders
          WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = 2
          GROUP BY 1),
        e AS (
          SELECT CAST(day(ts) AS BIGINT) AS dom,
                 CAST(sum(${sqlCents("value")}) AS BIGINT) AS event_cents
          FROM events GROUP BY 1)
        SELECT COALESCE(o.dom, e.dom) AS dom,
               COALESCE(order_cents, 0) AS order_cents,
               COALESCE(event_cents, 0) AS event_cents,
               order_cents IS NOT NULL AS has_orders,
               event_cents IS NOT NULL AS has_events
        FROM o FULL OUTER JOIN e ON o.dom = e.dom
        ORDER BY dom""")),

    // r48: NOT IN null-awareness — the classic three-valued-logic trap,
    // pinned as one row of three counts: NOT IN against a clean subquery
    // (a plain anti join), NOT IN against a subquery containing a NULL
    // (ALWAYS empty — `x NOT IN (…, NULL)` is UNKNOWN for every
    // non-matching x, which is why Spark needs its dedicated
    // null-aware anti-join physical operator), and NOT EXISTS over the
    // same nullable key (null keys never equal, so rows survive — the
    // form a user almost always wants). Both engines evaluate all three
    // from the same tables, so the hash match certifies identical NULL
    // semantics, not just identical data.
    Q("r48_notin_nullaware",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("r48_ord")
        Tables.customer(s, d).createOrReplaceTempView("r48_cust")
        s.sql("""
          WITH probe AS (
            SELECT o_orderkey, o_custkey FROM r48_ord WHERE o_totalprice > 400000),
          nonull AS (
            SELECT c_custkey FROM r48_cust WHERE c_mktsegment = 'BUILDING'),
          withnull AS (
            SELECT CASE WHEN c_mktsegment = 'MACHINERY' THEN NULL
                        ELSE c_custkey END AS k
            FROM r48_cust)
          SELECT
            (SELECT count(*) FROM probe
              WHERE o_custkey NOT IN (SELECT c_custkey FROM nonull)) AS n_clean,
            (SELECT count(*) FROM probe
              WHERE o_custkey NOT IN (SELECT k FROM withnull)) AS n_nullaware,
            (SELECT count(*) FROM probe p
              WHERE NOT EXISTS (SELECT 1 FROM withnull w WHERE w.k = p.o_custkey))
              AS n_notexists""")
      },
      Some("""
        WITH probe AS (
          SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000),
        nonull AS (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        withnull AS (
          SELECT CASE WHEN c_mktsegment = 'MACHINERY' THEN NULL
                      ELSE c_custkey END AS k
          FROM customer)
        SELECT
          (SELECT count(*) FROM probe
            WHERE o_custkey NOT IN (SELECT c_custkey FROM nonull)) AS n_clean,
          (SELECT count(*) FROM probe
            WHERE o_custkey NOT IN (SELECT k FROM withnull)) AS n_nullaware,
          (SELECT count(*) FROM probe p
            WHERE NOT EXISTS (SELECT 1 FROM withnull w WHERE w.k = p.o_custkey))
            AS n_notexists""")),

    // r49: time-series gap filling + forward-fill interpolation — the
    // missing-bucket repair every metrics pipeline needs: aggregate to
    // hourly buckets, expand to the DENSE grid (distinct keys × one
    // broadcast global [min,max] sequence — the grid is generated, never
    // scanned), left-join the actuals back, then forward-fill the last
    // observed value per key with an ignoreNulls running window. Costs
    // one partial-agg shuffle + one join keyed on (type, bucket) + one
    // window exchange on type — grid size is keys × hours regardless of
    // event volume, so the repair is O(output), not O(input).
    Q("r49_gap_fill",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
            unix_timestamp(date_trunc("hour", col("ts_ts"))).as("bucket"))
          .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("value_cents"))
        val bounds = hourly.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        val grid = hourly.select("event_type").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"), lit(3600L))).as("bucket"))
        val w = Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("event_type", "bucket"), "left")
          .select(col("event_type"), col("bucket"),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            last(col("value_cents"), ignoreNulls = true).over(w).as("ffill_cents"),
            col("value_cents").isNull.as("is_gap"))
          .orderBy("event_type", "bucket")
      },
      Some(s"""
        WITH hourly AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
                 count(*) AS cnt,
                 CAST(sum(${sqlCents("value")}) AS BIGINT) AS value_cents
          FROM events GROUP BY 1, 2),
        bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM hourly),
        grid AS (
          SELECT t.event_type, g.bucket
          FROM (SELECT DISTINCT event_type FROM hourly) t,
               (SELECT unnest(range(lo, hi + 3600, 3600)) AS bucket FROM bounds) g),
        filled AS (
          SELECT g.event_type, g.bucket, h.cnt, h.value_cents
          FROM grid g LEFT JOIN hourly h USING (event_type, bucket))
        SELECT event_type, bucket, COALESCE(cnt, 0) AS cnt,
               last_value(value_cents IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_cents,
               value_cents IS NULL AS is_gap
        FROM filled ORDER BY event_type, bucket""")),

    // r50: TPC-H Q18-shape large-volume orders — join-against-aggregate
    // (the Spark-idiomatic form of `IN (SELECT … HAVING …)`): the
    // heavy-hitter order list is one partial-agg shuffle over lineitem
    // with the HAVING cut applied BEFORE any join, so the frame entering
    // the three-way join is heavy-hitters-sized (broadcast-eligible at
    // scale) — never the full fact table twice. Top-100 is TakeOrdered
    // with an orderkey tiebreak. The oracle states the same query in
    // the classic IN-subquery form, so the gate also certifies the two
    // formulations agree.
    Q("r50_large_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(asLong(col("l_quantity"))).as("sum_qty"))
          .filter(col("sum_qty") > 250)
        Tables.orders(s, d)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("order_date"),
            cents(col("o_totalprice")).as("total_cents"), col("sum_qty"))
          .orderBy(col("total_cents").desc, col("o_orderkey").asc)
          .limit(100)
      },
      Some(s"""
        WITH big AS (
          SELECT l_orderkey,
                 CAST(sum(${sqlLong("l_quantity")}) AS BIGINT) AS sum_qty
          FROM lineitem GROUP BY 1
          HAVING CAST(sum(${sqlLong("l_quantity")}) AS BIGINT) > 250)
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS order_date,
               ${sqlCents("o_totalprice")} AS total_cents, sum_qty
        FROM orders JOIN big ON o_orderkey = l_orderkey
                    JOIN customer ON o_custkey = c_custkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        ORDER BY total_cents DESC, o_orderkey ASC
        LIMIT 100""")),

    // r51: distribution window functions — ntile deciles, percent_rank,
    // cume_dist within each order-priority class, completing the window
    // battery r14 started (running sums / rank / lag). One hash exchange
    // on the partition key serves all three functions; the rank
    // arithmetic ((rank-1)/(n-1), rows≤current/n) is exact-integer
    // division in double, bit-identical across engines, and the ORDER BY
    // is total (price desc, orderkey asc) so bucket boundaries are
    // deterministic.
    Q("r51_window_percentiles",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("price_cents", cents(col("o_totalprice")))
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        o.select(col("o_orderpriority"), col("o_orderkey"), col("price_cents"),
            ntile(10).over(w).cast("long").as("decile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some(s"""
        WITH o AS (SELECT o_orderpriority, o_orderkey,
                     ${sqlCents("o_totalprice")} AS price_cents FROM orders)
        SELECT o_orderpriority, o_orderkey, price_cents,
               CAST(ntile(10) OVER w AS BIGINT) AS decile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM o
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY price_cents DESC, o_orderkey ASC)
        ORDER BY o_orderpriority, o_orderkey""")),

    // r52: funnel analysis — ordered-sequence completion counts
    // (signup → first view after it → first click after that) folded
    // into ONE map-side-combined aggregation per user and one global
    // roll-up: the first-touch timestamps are conditional MINs (no
    // window, no self-join — the naive N-way event self-join explodes
    // at scale), and stage completion is NULL-safe ordering on those
    // mins. Cost: one partial-agg shuffle on user_id, one single-row
    // reduce — however many events there are.
    Q("r52_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
        val stages = ev.groupBy("user_id").agg(
          min(when(col("event_type") === "signup", col("ts_us"))).as("t_signup"),
          min(when(col("event_type") === "view", col("ts_us"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts_us"))).as("t_click"))
        stages.agg(
          count(lit(1)).as("n_users"),
          sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("t_signup") < col("t_view"), 1L).otherwise(0L))
            .as("n_signup_then_view"),
          sum(when(col("t_signup") < col("t_view") && col("t_view") < col("t_click"),
            1L).otherwise(0L)).as("n_full_funnel"))
      },
      Some("""
        WITH st AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
                 min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
                 min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click
          FROM events GROUP BY user_id)
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN t_signup < t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_then_view,
               CAST(sum(CASE WHEN t_signup < t_view AND t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        FROM st""")),

    // r53: cohort retention — users cohorted by first-activity day,
    // counted per (cohort day, day offset) they return on. The matrix
    // every growth dashboard is built from, in three bounded steps:
    // distinct (user, day) activity (one partial-agg shuffle), per-user
    // cohort day (an agg over that reduced frame), and the join-back +
    // count — all keyed on user or on the tiny (cohort, offset) grid,
    // never on raw events.
    Q("r53_cohort_retention",
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts_ts")).as("day"))
          .distinct()
        val cohort = act.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        act.join(cohort, "user_id")
          .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day"))
            .cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some("""
        WITH act AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        cohort AS (
          SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
        SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        FROM act a JOIN cohort c USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort_day, day_offset""")),

    // r54: incremental aggregate maintenance — the 100 TB pattern where
    // yesterday's partition is already reduced to mergeable partial
    // states (count / sum / min / max per key) and only today's delta
    // touches raw rows; the nightly "refresh" is a merge of partials,
    // never a rescan of history. The oracle recomputes from scratch over
    // all rows, so the hash-match IS the mergeability proof. (countDistinct
    // is deliberately absent: it has no exact mergeable partial — that is
    // the r20-exact vs r21-HLL boundary.) avg is derived from the merged
    // state with a single division (identical IEEE both engines).
    Q("r54_incremental_agg",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_type"), to_date(col("ts_ts")).as("day"),
          cents(col("value")).as("v_c"))
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("event_type").agg(
            count(lit(1)).as("n"), sum("v_c").as("sum_c"),
            min("v_c").as("min_c"), max("v_c").as("max_c"))
        val base  = partials(ev.filter(col("day") <  lit("2024-01-21")))
        val delta = partials(ev.filter(col("day") >= lit("2024-01-21")))
        base.unionByName(delta)
          .groupBy("event_type")
          .agg(sum("n").as("n"), sum("sum_c").as("sum_c"),
            min("min_c").as("min_c"), max("max_c").as("max_c"))
          .select(col("event_type"), col("n"), col("sum_c"), col("min_c"),
            col("max_c"),
            floor(col("sum_c").cast("double") / col("n").cast("double"))
              .cast("long").as("avg_c_floor"))
          .orderBy("event_type")
      },
      Some(s"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${sqlCents("\"value\"")}) AS BIGINT) AS sum_c,
               min(${sqlCents("\"value\"")}) AS min_c,
               max(${sqlCents("\"value\"")}) AS max_c,
               CAST(floor(CAST(sum(${sqlCents("\"value\"")}) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_c_floor
        FROM events
        GROUP BY event_type ORDER BY event_type""")),

    // r55: one-pass column profiler — the stats-collection sweep every
    // 100 TB warehouse runs before planning (null fractions, NDVs): a
    // single aggregate over the table computing per-column null counts
    // and exact distinct counts, unpivoted to one row per column.
    // Multiple exact countDistincts cost one Expand (x#cols row
    // multiplier) — the oracle-checkable form; at 100 TB you swap each
    // for approx_count_distinct (single pass, no Expand) exactly as
    // r20→r21 demonstrates, trading +-2% NDV error for a plan with no
    // row multiplication.
    Q("r55_column_profile",
      (s, d) => {
        val o = Tables.orders(s, d)
        val profCols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
        val aggs =
          count(lit(1)).as("n_rows") +:
          profCols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"ndv_$c")))
        val stackExpr = profCols
          .map(c => s"'$c', nn_$c, ndv_$c").mkString(", ")
        o.agg(aggs.head, aggs.tail: _*)
          .selectExpr("n_rows",
            s"stack(${profCols.size}, $stackExpr) AS (col_name, n_nulls, ndv)")
          .select(col("col_name"), col("n_rows"), col("n_nulls"), col("ndv"))
          .orderBy("col_name")
      },
      Some("""
        WITH p AS (
          SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
                 CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv FROM orders
          UNION ALL
          SELECT 'o_orderstatus', count(*),
                 CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
          UNION ALL
          SELECT 'o_orderpriority', count(*),
                 CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders)
        SELECT col_name, n_rows, n_nulls, ndv FROM p ORDER BY col_name""")),

    // r56: A/B experiment analysis — deterministic traffic split via the
    // md5 law (same user lands in the same arm on any engine, any
    // cluster, any day — the property production experimentation systems
    // get from hashing, not RNG), then per-arm funnel metrics off a
    // per-user reduction. The raw event stream is touched once (one
    // partial-agg shuffle keyed on user); everything after is on the
    // user frame and then a 2-row arm frame. Conversion rate is integer
    // fixed-point (no float aggregation); significance testing needs
    // sqrt/erf so it stays out of the hash-matched contract — the
    // counts exported here are exactly its inputs.
    Q("r56_ab_metrics",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("variant",
          (conv(substring(md5(concat(lit("exp1"), col("user_id").cast("string"))), 1, 4), 16, 10)
            .cast("long") % 2))
        val perUser = ev.groupBy("user_id", "variant").agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
          sum(when(col("event_type") === "purchase", cents(col("value")))
            .otherwise(0L)).as("rev_c"))
        perUser.groupBy("variant").agg(
            count(lit(1)).as("n_users"),
            sum(when(col("purchases") > 0, 1L).otherwise(0L)).as("n_converted"),
            sum("purchases").as("n_purchases"),
            sum("rev_c").as("rev_c"))
          .select(col("variant"), col("n_users"), col("n_converted"),
            col("n_purchases"), col("rev_c"),
            floor(col("n_converted") * lit(1000000.0) / col("n_users"))
              .cast("long").as("conv_e6"))
          .orderBy("variant")
      },
      Some(s"""
        WITH a AS (
          SELECT user_id,
                 ('0x' || substr(md5('exp1' || CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2 AS variant,
                 event_type, "value"
          FROM events),
        u AS (
          SELECT user_id, variant,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN ${sqlCents("\"value\"")} ELSE 0 END) AS BIGINT) AS rev_c
          FROM a GROUP BY user_id, variant)
        SELECT variant, count(*) AS n_users,
               CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
               CAST(sum(purchases) AS BIGINT) AS n_purchases,
               CAST(sum(rev_c) AS BIGINT) AS rev_c,
               CAST(floor(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) * 1000000.0
                    / count(*)) AS BIGINT) AS conv_e6
        FROM u GROUP BY variant ORDER BY variant""")),

    // r57: period-over-period growth — daily purchase revenue with the
    // previous day's value (lag), absolute delta, and fixed-point
    // relative growth. The window runs over the 1-row-per-day frame
    // (30 rows here, 365 on a year — never raw events), so the
    // unpartitioned ORDER BY window is a non-issue at any sf: the
    // reduction happened in the partial-agg shuffle before it. Growth
    // is floor(1e6·delta/prev) — one integer subtraction, one double
    // division, one floor; NULL on the first day in both engines.
    Q("r57_dod_growth",
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts_ts")).as("day"))
          .agg(sum(cents(col("value"))).as("rev_c"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        daily.withColumn("prev_c", lag(col("rev_c"), 1).over(w))
          .select(col("day"), col("rev_c"), col("prev_c"),
            (col("rev_c") - col("prev_c")).as("delta_c"),
            floor((col("rev_c") - col("prev_c")) * lit(1000000.0) / col("prev_c"))
              .cast("long").as("growth_e6"))
          .orderBy("day")
      },
      Some(s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(${sqlCents("\"value\"")}) AS BIGINT) AS rev_c
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        lagged AS (
          SELECT day, rev_c, lag(rev_c) OVER (ORDER BY day) AS prev_c
          FROM daily)
        SELECT day, rev_c, prev_c, rev_c - prev_c AS delta_c,
               CAST(floor((rev_c - prev_c) * 1000000.0 / prev_c) AS BIGINT) AS growth_e6
        FROM lagged ORDER BY day""")),

    // r58: TPC-H Q7 shape — nation-to-nation trade volume: the SAME
    // dimension table joined twice under different aliases (supplier's
    // nation and customer's nation), the alias-disambiguation pattern P8
    // exercises at silver scale, here at fact scale. Plan contract: the
    // fact shuffles ONCE (the lineitem⋈orders equijoin on orderkey);
    // supplier/customer/nation×2 all broadcast, so adding the second
    // nation alias costs a map-side hash probe, not an exchange. Revenue
    // in exact BIGINT cents per the gate's money rule.
    Q("r58_nation_trade",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"),
          year(col("l_shipdate")).cast("long").as("yr"))
        val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
        li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("snk"))
          .join(broadcast(n2), col("c_nationkey") === col("cnk"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy("supp_nation", "cust_nation", "yr")
          .agg(sum(col("rev_c")).as("rev_cents"), count(lit(1)).as("n_items"))
          .orderBy("supp_nation", "cust_nation", "yr")
      },
      Some(s"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS yr,
               CAST(sum(${sqlCents("l.l_extendedprice * (1.0 - l.l_discount)")}) AS BIGINT) AS rev_cents,
               count(*) AS n_items
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE sn.n_name != cn.n_name
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // r59: EVENT-SEQUENCE Markov transition matrix — for each user's
    // time-ordered event stream, count (state → next-state) bigrams and
    // the fixed-point transition probability per from-state. The
    // sequential-pattern shape (what follows what) the relational surface
    // was missing next to r52's funnel (did A→B→C happen) and r53's
    // cohort grid (when did they return). Scale: ONE shuffle — the
    // lead() window partitions by user_id (each user's history fits a
    // task; there is no global sort), and the transition count is a
    // partial-agg groupBy whose result is at most |event-type vocab|²
    // rows, so the probability window runs over a broadcast-sized frame.
    // p_e6 = floor(1e6·cnt/total): both operands are exact integers
    // < 2^53, so the single double division rounds identically in both
    // engines (the Q money rule's pass-through-division clause).
    Q("r59_markov_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val tr = Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("cnt"))
        val wf = Window.partitionBy("from_type")
        tr.withColumn("p_e6",
            floor(col("cnt") * lit(1000000.0) / sum(col("cnt")).over(wf)).cast("long"))
          .orderBy("from_type", "to_type")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
        tr AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_us ASC, event_id ASC) AS to_type
          FROM ev),
        cnts AS (
          SELECT from_type, to_type, count(*) AS cnt
          FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, cnt,
               CAST(floor(cnt * 1000000.0 /
                 sum(cnt) OVER (PARTITION BY from_type)) AS BIGINT) AS p_e6
        FROM cnts ORDER BY from_type, to_type""")),

    // r61: TPC-H Q13 shape — the customer ORDER-COUNT DISTRIBUTION
    // (how many customers placed 0, 1, 2, … orders). The left outer
    // join is the point: customers with NO orders must survive into the
    // 0 bucket, which an inner-join rollup silently loses. Two
    // aggregations, each a reduction: per-customer counts shuffle on the
    // customer key once (count(o_orderkey) skips the null of orderless
    // customers), then the count-of-counts aggregates the already
    // 1-row-per-customer frame into at most max-orders-per-customer
    // rows. At 100 TB the first shuffle is the only data-sized exchange;
    // AQE's broadcast of the customer side is the standard Q13 plan.
    Q("r61_order_count_distribution",
      (s, d) => {
        val perCust = Tables.customer(s, d).select(col("c_custkey"))
          .join(Tables.orders(s, d)
            .select(col("o_custkey"), col("o_orderkey")),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"))
        perCust.groupBy("n_orders")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("n_orders").desc)
      },
      Some("""
        WITH pc AS (
          SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey)
        SELECT n_orders, count(*) AS n_customers
        FROM pc GROUP BY n_orders ORDER BY n_orders DESC""")),

    // r62: CO-PURCHASE PAIRS (market-basket affinity) — parts ordered
    // together in ≥ 3 distinct orders. The within-order self-join is the
    // textbook co-occurrence shape whose cost is Σ items-per-order², NOT
    // corpus²: the equijoin on the order key confines pair generation to
    // each order's line set (≤ 7 items in TPC-H geometry; a pathological
    // mega-basket is the salting/occupancy-cap case t39/v2 document).
    // distinct first so a part twice in one order counts once; the ≥ 3
    // support threshold keeps the output the interesting tail at any
    // scale (the full pair histogram is the shuffle, already reduced).
    Q("r62_copurchase_pairs",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        li.alias("a").join(li.alias("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 3)
          .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2)
        SELECT p1, p2, n_orders FROM pairs WHERE n_orders >= 3
        ORDER BY n_orders DESC, p1, p2""")),

    // r63: SHIPPING-DELAY SLA matrix (the TPC-H Q12 question asked of
    // this schema's columns): per order priority, how many line items
    // shipped more than 90 days after the order date, as an exact
    // basis-point rate plus the total delay mass. One fact-fact equijoin
    // on the order key (the only data-sized exchange), then a
    // priority-keyed partial agg into a handful of rows; the delay is
    // exact integer day arithmetic in both engines.
    Q("r63_shipping_delay",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .withColumn("delay_days",
            datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(when(col("delay_days") > 90, 1L).otherwise(0L)).as("n_late"),
            sum(col("delay_days")).as("sum_delay_days"))
          .withColumn("late_bp", expr("(n_late * 10000) div n_items"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o.o_orderpriority, count(*) AS n_items,
               CAST(sum(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 90
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST(sum(datediff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT)
                 AS sum_delay_days,
               CAST(sum(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 90
                 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS late_bp
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""")),

    // r64: TPC-H Q14 shape — PROMO revenue share per ship year: the
    // conditional-revenue-ratio pattern (what fraction of revenue came
    // from a product segment). The part dimension broadcasts with only
    // (key, is-promo flag) pre-projected; revenue stays in exact BIGINT
    // cents and the share is one integer division at the end — no double
    // aggregation anywhere.
    Q("r64_promo_share",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_partkey"),
          year(col("l_shipdate")).cast("long").as("yr"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
        val promo = Tables.part(s, d).select(col("p_partkey"),
          col("p_type").startsWith("PROMO").as("is_promo"))
        li.join(broadcast(promo), col("l_partkey") === col("p_partkey"))
          .groupBy("yr")
          .agg(sum(when(col("is_promo"), col("rev_c")).otherwise(0L)).as("promo_cents"),
            sum(col("rev_c")).as("total_cents"))
          .withColumn("promo_share_e6",
            expr("(promo_cents * 1000000) div total_cents"))
          .orderBy("yr")
      },
      Some(s"""
        SELECT CAST(year(l.l_shipdate) AS BIGINT) AS yr,
               CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN ${sqlCents("l.l_extendedprice * (1.0 - l.l_discount)")}
                 ELSE 0 END) AS BIGINT) AS promo_cents,
               CAST(sum(${sqlCents("l.l_extendedprice * (1.0 - l.l_discount)")})
                 AS BIGINT) AS total_cents,
               CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN ${sqlCents("l.l_extendedprice * (1.0 - l.l_discount)")}
                 ELSE 0 END) * 1000000
                 // sum(${sqlCents("l.l_extendedprice * (1.0 - l.l_discount)")})
                 AS BIGINT) AS promo_share_e6
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1 ORDER BY yr""")),

    // r65: CUMULATIVE DISTINCT USERS by day (the growth-accounting
    // curve) — the naive form re-counts distinct over an ever-growing
    // prefix per day (O(days × events)); the scalable identity is
    // first-seen reduction: each user contributes exactly once, on
    // min(day), so one user-keyed partial agg + a per-day count + a
    // running sum over the DAYS frame (calendar-sized, broadcast-safe)
    // computes the same curve in one linear pass at any event volume.
    Q("r65_cumulative_users",
      (s, d) => {
        val firstSeen = Tables.events(s, d)
          .groupBy("user_id")
          .agg(min(to_date(col("ts_ts"))).as("first_day"))
        val daily = firstSeen.groupBy(col("first_day").as("day"))
          .agg(count(lit(1)).as("new_users"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily.withColumn("cum_users", sum(col("new_users")).over(w))
          .orderBy("day")
      },
      Some("""
        WITH fs AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_day
          FROM events GROUP BY user_id),
        daily AS (
          SELECT first_day AS day, count(*) AS new_users
          FROM fs GROUP BY first_day)
        SELECT day, new_users,
               CAST(sum(new_users) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_users
        FROM daily ORDER BY day""")),

    // r66: EXACT bivariate statistics — the Pearson correlation of price
    // and quantity per return flag with the five moment sums (Σx, Σy,
    // Σxy, Σx², Σy²) in exact BIGINT, so the AGGREGATION is bit-stable
    // under any partitioning — a float corr() varies with summation
    // order and can never hash-match across engines. Correlation is
    // scale-invariant, so x uses WHOLE currency units, not cents: with
    // cents, Σx² overflows int64 at sf0.1 (1e14/row × 6e5 rows), and
    // the overflow is SILENT in Spark (wrapping long) while DuckDB
    // promotes to HUGEINT — the worst cross-engine failure mode; in
    // dollars the largest moment is ~6e15, inside int64 through a
    // further 100× of data (past that: shift x by its per-group mean in
    // a first pass, the standard two-pass guard). The final corr is ONE
    // double expression over the exact integer moments — identical
    // formula text both sides, identical bits — in e6 units. The moment
    // sums are also the MERGEABLE state an incremental/streaming
    // variant keeps (r54's partial-state law).
    Q("r66_exact_corr",
      (s, d) => {
        val x = asLong(col("l_extendedprice"))
        val y = asLong(col("l_quantity"))
        def dbl(c: String) = col(c).cast("double")
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), x.as("x"), y.as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .withColumn("corr_e6",
            floor((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
              * lit(1000000.0)
              / sqrt((dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
                * (dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))))
              .cast("long"))
          .orderBy("l_returnflag")
      },
      Some(s"""
        WITH m AS (
          SELECT l_returnflag,
                 count(*) AS n,
                 CAST(sum(${sqlLong("l_extendedprice")}) AS BIGINT) AS sx,
                 CAST(sum(${sqlLong("l_quantity")}) AS BIGINT) AS sy,
                 CAST(sum(${sqlLong("l_extendedprice")} * ${sqlLong("l_quantity")}) AS BIGINT) AS sxy,
                 CAST(sum(${sqlLong("l_extendedprice")} * ${sqlLong("l_extendedprice")}) AS BIGINT) AS sxx,
                 CAST(sum(${sqlLong("l_quantity")} * ${sqlLong("l_quantity")}) AS BIGINT) AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, sx, sy, sxy, sxx, syy,
               CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000000.0
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 AS BIGINT) AS corr_e6
        FROM m ORDER BY l_returnflag"""))
  ,

    // r67: SOLE-BLAME SUPPLIERS — the TPC-H Q21 shape (the hardest
    // classic composition: EXISTS another supplier in the order ∧ NOT
    // EXISTS another LATE supplier), adapted to this schema's dates
    // ("late" = shipped >30 days after the order date). Spark-first
    // reformulation: instead of Q21's textbook double self-join of
    // lineitem (l2 exists, l3 not-exists — two more fact-fact joins),
    // reduce once per (order, supplier) and once per order, then
    // blame = late ∧ n_supp ≥ 2 ∧ n_late_suppliers = 1. Semantically
    // identical, with strictly better shuffle geometry: at scale the
    // li⨝orders sort-merge join shuffles the fact ONCE on l_orderkey,
    // and hash(l_orderkey) satisfies every downstream clustering —
    // (l_orderkey, l_suppkey) by the subset rule, (l_orderkey) as-is —
    // so the per-supplier reduce, the per-order reduce, and the blame
    // join all reuse that one exchange. (At gate sf, AQE broadcasts
    // the orders side instead; the later exchanges then act on the
    // already order×supplier-REDUCED frame, never on raw lineitem.)
    // Supplier is broadcast. The textbook l2/l3 double self-join would
    // shuffle the fact three times. Oracle replays the same aggregate
    // derivation.
    Q("r67_sole_blame_suppliers",
      (s, d) => {
        val flagged = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            when(col("l_shipdate") > date_add(col("o_orderdate"), 30), 1L)
              .otherwise(0L).as("late"))
        val perSupp = flagged.groupBy("l_orderkey", "l_suppkey")
          .agg(max(col("late")).as("late"))
        val perOrder = perSupp.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
        perSupp.filter(col("late") === 1)
          .join(perOrder, "l_orderkey")
          .filter(col("n_supp") >= 2 && col("n_late") === 1)
          .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name")).limit(20)
      },
      Some("""
        WITH f AS (
          SELECT l_orderkey, l_suppkey,
                 CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                      THEN 1 ELSE 0 END AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        ps AS (
          SELECT l_orderkey, l_suppkey, max(late) AS late
          FROM f GROUP BY 1, 2),
        po AS (
          SELECT l_orderkey, count(*) AS n_supp,
                 CAST(sum(late) AS BIGINT) AS n_late
          FROM ps GROUP BY 1),
        b AS (
          SELECT ps.l_suppkey FROM ps JOIN po USING (l_orderkey)
          WHERE ps.late = 1 AND po.n_supp >= 2 AND po.n_late = 1)
        SELECT s_name, count(*) AS numwait
        FROM b JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""")),

    // r68: DOMINANT SUPPLIERS — the TPC-H Q20 shape (a semi-join
    // against an AGGREGATED threshold: Q20 keeps suppliers whose stock
    // exceeds half their shipments; without a partsupp table the
    // equivalent is suppliers who shipped MORE THAN HALF of some
    // contested part's total quantity). Two chained reductions on the
    // fact — per (part, supplier) quantity, then per part — a
    // broadcast-back of the part totals (part-count-sized), and the
    // share filter; quantities are exact integer cents (sum of raw
    // doubles is order-dependent and banned). `n_supp >= 2` keeps the
    // trivially-dominant sole-supplier parts out, so both the EXISTS
    // and the threshold semantics do real work. One fact shuffle on
    // (l_partkey, l_suppkey); the per-part frame is model-sized.
    Q("r68_dominant_suppliers",
      (s, d) => {
        val sp = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"), Q.cents(col("l_quantity")).as("q"))
          .groupBy("l_partkey", "l_suppkey").agg(sum(col("q")).as("q_sp"))
        val p = sp.groupBy("l_partkey")
          .agg(sum(col("q_sp")).as("q_p"), count(lit(1)).as("n_supp"))
        sp.join(p, "l_partkey")
          .filter(col("n_supp") >= 2 && col("q_sp") * 2 > col("q_p"))
          .withColumn("share_e4", expr("(q_sp * 10000) div q_p"))
          .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("n_dominant_parts"),
            max(col("share_e4")).as("max_share_e4"))
          .orderBy(col("n_dominant_parts").desc, col("s_name")).limit(20)
      },
      Some("""
        WITH sp AS (
          SELECT l_partkey, l_suppkey,
                 CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS q_sp
          FROM lineitem GROUP BY 1, 2),
        p AS (
          SELECT l_partkey, CAST(sum(q_sp) AS BIGINT) AS q_p,
                 count(*) AS n_supp
          FROM sp GROUP BY 1),
        dom AS (
          SELECT sp.l_suppkey, (sp.q_sp * 10000) // p.q_p AS share_e4
          FROM sp JOIN p USING (l_partkey)
          WHERE p.n_supp >= 2 AND sp.q_sp * 2 > p.q_p)
        SELECT s_name, count(*) AS n_dominant_parts,
               CAST(max(share_e4) AS BIGINT) AS max_share_e4
        FROM dom JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
        ORDER BY n_dominant_parts DESC, s_name LIMIT 20""")),

    // r69: IDLE RICH CUSTOMERS — the TPC-H Q22 shape (scalar-subquery
    // threshold + NOT EXISTS): customers whose balance exceeds the
    // average POSITIVE balance yet never placed an order, grouped by
    // nation (the schema's analogue of Q22's phone country code). The
    // threshold compare is EXACT integer cross-multiplication —
    // `bal_cents · n_pos > sum_pos_cents` instead of comparing against
    // a divided float average, so no engine's division rounding can
    // flip a boundary customer. The 1-row aggregate broadcasts; the
    // NOT EXISTS is a left-anti equijoin on the customer key against
    // the order keys projection (never a row-per-order blowup).
    Q("r69_idle_rich_customers",
      (s, d) => {
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"),
            Q.cents(col("c_acctbal")).as("bal_c"))
        val thr = cust.filter(col("bal_c") > 0)
          .agg(sum(col("bal_c")).as("sum_pos"), count(lit(1)).as("n_pos"))
        cust.crossJoin(broadcast(thr))
          .filter(col("bal_c") * col("n_pos") > col("sum_pos"))
          .join(Tables.orders(s, d).select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").cast("long").as("nation"))
          .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("total_bal_cents"))
          .orderBy("nation")
      },
      Some("""
        WITH c AS (
          SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
          FROM customer),
        t AS (
          SELECT CAST(sum(bal_c) AS BIGINT) AS sum_pos, count(*) AS n_pos
          FROM c WHERE bal_c > 0)
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
               count(*) AS n_cust,
               CAST(sum(bal_c) AS BIGINT) AS total_bal_cents
        FROM c, t
        WHERE bal_c * n_pos > sum_pos
          AND c_custkey NOT IN (SELECT o_custkey FROM orders)
        GROUP BY c_nationkey ORDER BY nation""")),

    // r70: TPC-H Q17 shape — the CORRELATED SCALAR-AGGREGATE threshold
    // ("small-quantity orders", revenue from lineitems whose quantity is
    // under 20% of their part's average). The naive plan recomputes the
    // per-part average once per lineitem row (a correlated subquery —
    // O(rows × group) or a rewrite the optimizer may fumble); the
    // aggregate-then-join-back rewrite (r50's discipline) still SCANS
    // THE FACT TWICE, once to reduce and once to re-join. The plan here
    // does it in ONE fact scan: the per-part Σqty/n are window
    // aggregates over `partition by l_partkey` — a single fact-wide
    // exchange keyed by partkey serves both statistics and the row-level
    // threshold test, with no self-join at all (at 100 TB the second
    // scan, not the shuffle, is the dominated cost). The 20%-of-average
    // test is exact integer cross-multiplication (qty·5·n < Σqty), no
    // division, so both engines decide each row with the same BIGINTs.
    // The part filter (p_size ≤ 5, ~10% of parts) broadcasts and prunes
    // the fact before the exchange.
    Q("r70_small_quantity_revenue",
      (s, d) => {
        val parts = Tables.part(s, d).filter(col("p_size") <= 5)
          .select(col("p_partkey"), col("p_brand"))
        val w = Window.partitionBy("l_partkey")
        Tables.lineitem(s, d)
          .select(col("l_partkey"), asLong(col("l_quantity")).as("qty"),
            cents(col("l_extendedprice")).as("price_c"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .withColumn("sum_qty", sum(col("qty")).over(w))
          .withColumn("n_li", count(lit(1)).over(w))
          .filter(col("qty") * lit(5L) * col("n_li") < col("sum_qty"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_small"), sum(col("price_c")).as("rev_cents"))
          .orderBy("p_brand")
      },
      Some(s"""
        WITH p AS (SELECT p_partkey, p_brand FROM part WHERE p_size <= 5),
        li AS (
          SELECT l_partkey, p_brand,
                 ${sqlLong("l_quantity")} AS qty,
                 ${sqlCents("l_extendedprice")} AS price_c
          FROM lineitem JOIN p ON l_partkey = p_partkey),
        pp AS (
          SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
                 count(*) AS n_li
          FROM li GROUP BY 1)
        SELECT p_brand, count(*) AS n_small,
               CAST(sum(price_c) AS BIGINT) AS rev_cents
        FROM li JOIN pp USING (l_partkey)
        WHERE qty * 5 * n_li < sum_qty
        GROUP BY p_brand ORDER BY p_brand""")),

    // r71: TPC-H Q2 shape — MIN-PER-KEY with the achieving rows joined
    // back ("cheapest supplier per part", restricted to one region).
    // Q2's correlated subquery (ps_supplycost = MIN over that part's
    // suppliers) is the other classic place naive plans recompute an
    // aggregate per row; the right plan is two reduced frames: offers
    // per (part, supplier) — one partial-agg shuffle over the
    // part-filtered fact — then the per-part minimum over THAT frame
    // (offers-sized, not fact-sized), equi-joined back on (partkey,
    // price) to select exactly the achieving pairs, ties included.
    // Supplier/nation/region are broadcast dims; the region filter
    // (EUROPE) prunes suppliers before the offer join. Prices compare
    // as exact cents, and the output order (balance desc, name,
    // partkey) is total.
    Q("r71_cheapest_supplier",
      (s, d) => {
        val parts = Tables.part(s, d).filter(col("p_size") <= 3)
          .select(col("p_partkey"), col("p_brand"))
        val eurSupp = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"),
            cents(col("s_acctbal")).as("bal_c"))
        val offers = Tables.lineitem(s, d)
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"), col("p_brand"),
            col("s_name"), col("n_name"), col("bal_c"))
          .agg(min(cents(col("l_extendedprice"))).as("offer_c"))
        val best = offers.groupBy(col("l_partkey").as("bp"))
          .agg(min(col("offer_c")).as("best_c"))
        offers.join(best,
            col("l_partkey") === col("bp") && col("offer_c") === col("best_c"))
          .select(col("l_partkey").as("partkey"), col("p_brand"),
            col("s_name"), col("n_name").as("nation"), col("bal_c"),
            col("best_c"))
          .orderBy(col("bal_c").desc, col("s_name").asc, col("partkey").asc)
      },
      Some(s"""
        WITH p AS (SELECT p_partkey, p_brand FROM part WHERE p_size <= 3),
        es AS (
          SELECT s_suppkey, s_name, n_name,
                 ${sqlCents("s_acctbal")} AS bal_c
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        offers AS (
          SELECT l_partkey, l_suppkey, p_brand, s_name, n_name, bal_c,
                 CAST(min(${sqlCents("l_extendedprice")}) AS BIGINT) AS offer_c
          FROM lineitem
          JOIN p ON l_partkey = p_partkey
          JOIN es ON l_suppkey = s_suppkey
          GROUP BY 1, 2, 3, 4, 5, 6),
        best AS (
          SELECT l_partkey AS bp, CAST(min(offer_c) AS BIGINT) AS best_c
          FROM offers GROUP BY 1)
        SELECT l_partkey AS partkey, p_brand, s_name, n_name AS nation,
               bal_c, best_c
        FROM offers JOIN best ON l_partkey = bp AND offer_c = best_c
        ORDER BY bal_c DESC, s_name ASC, partkey ASC""")),

    // r72: TPC-H Q15 shape — TOP-REVENUE SUPPLIER over a quarter: an
    // aggregate VIEW (revenue per supplier) consumed twice, once for
    // its global max and once to select the achieving rows. The trap is
    // materializing the view twice (Q15's original formulation is a
    // CREATE VIEW read by both the subquery and the outer query); here
    // the revenue frame is one partial-agg shuffle over the
    // quarter-pruned fact and Catalyst's ReuseExchange serves BOTH
    // consumers from that single exchange — the fact is scanned once
    // (plan fingerprint pins the exchange count). The max is a 1-row
    // frame broadcast into the filter, ties kept; the winners (a
    // handful of rows) broadcast into the supplier name join, so the
    // supplier table — which grows with scale — is never shuffled.
    Q("r72_top_revenue_supplier",
      (s, d) => {
        // the explicit isNotNull matches what the winners join would push
        // into ITS branch anyway — with it in `rev` both consumers (max
        // and join) canonicalize to the SAME subplan, so ReuseExchange
        // actually fires and the fact is scanned once (without it the
        // pushed join-key nullability forks the plans and doubles the scan)
        val rev = Tables.lineitem(s, d)
          .filter(col("l_suppkey").isNotNull &&
            col("l_shipdate").cast("date") >= lit("1996-01-01") &&
            col("l_shipdate").cast("date") < lit("1996-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("total_rev_cents"))
        val best = rev.agg(max(col("total_rev_cents")).as("best_c"))
        val winners = rev.join(broadcast(best),
          col("total_rev_cents") === col("best_c"))
        Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))
          .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey").as("suppkey"), col("s_name"),
            col("total_rev_cents"))
          .orderBy("suppkey")
      },
      Some(s"""
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(sum(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
                   AS total_rev_cents
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
          GROUP BY 1),
        best AS (SELECT max(total_rev_cents) AS best_c FROM rev)
        SELECT s_suppkey AS suppkey, s_name, total_rev_cents
        FROM rev, best, supplier
        WHERE total_rev_cents = best_c AND s_suppkey = l_suppkey
        ORDER BY suppkey""")),

    // r73: TPC-H Q19 shape — DISJUNCTIVE join predicate (OR of brand ×
    // size × quantity conjunctions). The scale hazard is the OR
    // defeating pushdown: evaluated only as a post-join residual, the
    // fact scan reads every row and the join carries them all. The
    // plan here pushes each side's CONVEX HULL explicitly — part is
    // pre-filtered to the three brands and the union size range
    // (broadcast after pruning: ~3 brands of a 6%-selectivity dim),
    // the fact to the union quantity range — so both pushed filters
    // reach the parquet scans (PushedFilters evidence in EXPLAINS.md)
    // and the exact disjunction evaluates as a residual on the
    // already-small joined frame. One fact scan, one broadcast join,
    // one partial-agg shuffle on p_brand.
    Q("r73_disjunctive_revenue",
      (s, d) => {
        val brands = Seq("Brand#12", "Brand#14", "Brand#17")
        val p = Tables.part(s, d)
          .filter(col("p_brand").isin(brands: _*) && col("p_size").between(1, 15))
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey"), asLong(col("l_quantity")).as("qty"),
            cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
          .filter(col("qty").between(1, 30))
        val disj =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("qty").between(1, 11)) ||
          (col("p_brand") === "Brand#14" && col("p_size").between(1, 10) &&
            col("qty").between(10, 20)) ||
          (col("p_brand") === "Brand#17" && col("p_size").between(1, 15) &&
            col("qty").between(20, 30))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(disj)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"), sum(col("rev_c")).as("rev_cents"))
          .orderBy("p_brand")
      },
      Some(s"""
        WITH p AS (
          SELECT p_partkey, p_brand, p_size FROM part
          WHERE p_brand IN ('Brand#12', 'Brand#14', 'Brand#17')
            AND p_size BETWEEN 1 AND 15),
        li AS (
          SELECT l_partkey, ${sqlLong("l_quantity")} AS qty,
                 ${sqlCents("l_extendedprice * (1.0 - l_discount)")} AS rev_c
          FROM lineitem
          WHERE ${sqlLong("l_quantity")} BETWEEN 1 AND 30)
        SELECT p_brand, count(*) AS n_items,
               CAST(sum(rev_c) AS BIGINT) AS rev_cents
        FROM li JOIN p ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND qty BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10 AND qty BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 15 AND qty BETWEEN 20 AND 30)
        GROUP BY p_brand ORDER BY p_brand""")),

    // r74: TPC-H Q8 shape — MARKET SHARE: of all lineitem volume sold
    // into one region's market (the CUSTOMER's region) for one part
    // type, what fraction per order-year came from one target supplier
    // nation? The shape is a conditional-aggregate RATIO over a
    // multi-join: the numerator is a CASE inside the same aggregation
    // as the denominator, so share costs zero extra passes. Geometry
    // at 100 TB: lineitem⋈orders and orders⋈customer are the two
    // key-partitioned fact shuffles (same as r43/Q5); part (pre-filtered
    // to the type), supplier (2 columns), nation (×2 roles: customer
    // region membership, supplier name) and region are broadcast. The
    // share is an exact-integer basis-point division of two BIGINT
    // cents sums — no float summation anywhere.
    Q("r74_market_share",
      (s, d) => {
        val nat = Tables.nation(s, d)
        val custRegion = broadcast(nat
          .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("c_natkey")))
        val supNation = broadcast(nat
          .select(col("n_nationkey").as("s_natkey"), col("n_name").as("sup_nation")))
        val p = broadcast(Tables.part(s, d)
          .filter(col("p_type") === "PROMO").select("p_partkey"))
        val sup = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"))
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
          .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("vol_c"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(custRegion, col("c_nationkey") === col("c_natkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(supNation, col("s_nationkey") === col("s_natkey"))
          .groupBy("o_year")
          .agg(sum(when(col("sup_nation") === "NATION_7", col("vol_c"))
              .otherwise(lit(0L))).as("target_cents"),
            sum(col("vol_c")).as("total_cents"))
          // share_bp via explicit floor: `/` is double division in BOTH
          // engines (numerator ≤ 1e15 stays double-exact), but a bare
          // CAST(double AS BIGINT) truncates in Spark and ROUNDS in
          // DuckDB — floor first makes them agree
          .select(col("o_year"), col("target_cents"), col("total_cents"),
            floor(lit(10000L) * col("target_cents") / col("total_cents"))
              .cast("long").as("share_bp"))
          .orderBy("o_year")
      },
      Some(s"""
        WITH m AS (
          SELECT year(o_orderdate) AS o_year,
                 CASE WHEN ns.n_name = 'NATION_7'
                      THEN ${sqlCents("l_extendedprice * (1.0 - l_discount)")}
                      ELSE 0 END AS tgt_c,
                 ${sqlCents("l_extendedprice * (1.0 - l_discount)")} AS vol_c
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation nc ON c_nationkey = nc.n_nationkey
          JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ns ON s_nationkey = ns.n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT o_year, CAST(sum(tgt_c) AS BIGINT) AS target_cents,
               CAST(sum(vol_c) AS BIGINT) AS total_cents,
               CAST(floor(10000 * CAST(sum(tgt_c) AS BIGINT)
                    / CAST(sum(vol_c) AS BIGINT)) AS BIGINT) AS share_bp
        FROM m GROUP BY o_year ORDER BY o_year""")),

    // r75: TPC-H Q9 shape — PROFIT by supplier nation × order year for
    // a part-name family. Q9's cost term uses partsupp.ps_supplycost,
    // which this schema doesn't ship; p_retailprice stands in (the
    // geometry — a per-row cost joined from the part dim — is
    // identical). Profit stays exact: revenue floored to cents minus
    // integer-quantity × retail-price-cents, all BIGINT. The LIKE on
    // p_name prunes part BEFORE its broadcast; lineitem⋈orders is the
    // one fact-fact shuffle; supplier/nation ride broadcasts. The
    // aggregate key space is nations × years (bounded), so the final
    // exchange is model-sized.
    Q("r75_nation_profit",
      (s, d) => {
        val p = broadcast(Tables.part(s, d)
          .filter(col("p_name").like("%widget%"))
          .select(col("p_partkey"), cents(col("p_retailprice")).as("retail_c")))
        val sup = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"))
        val nat = broadcast(Tables.nation(s, d).select("n_nationkey", "n_name"))
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            asLong(col("l_quantity")).as("qty"),
            cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"), col("o_year"))
          .agg(sum(col("rev_c") - col("qty") * col("retail_c")).as("profit_cents"),
            count(lit(1)).as("n_items"))
          .orderBy("nation", "o_year")
      },
      Some(s"""
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               CAST(sum(${sqlCents("l_extendedprice * (1.0 - l_discount)")}
                 - ${sqlLong("l_quantity")} * ${sqlCents("p_retailprice")}) AS BIGINT)
                 AS profit_cents,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2 ORDER BY nation, o_year""")),

    // r76: TPC-H Q10 shape — TOP RETURNING CUSTOMERS: revenue lost to
    // returns in one quarter, top 20 customers. The scale discipline is
    // the GLOBAL top-k: orderBy(...).limit(20) plans as
    // TakeOrderedAndProject — each task keeps its local top-20 and the
    // driver merges task-level heads, so no global sort and no single
    // reduce task ever sees more than tasks×20 rows. The tie order is
    // total (revenue DESC, custkey ASC) so the kept SET is deterministic
    // in both engines. Customer is joined AFTER the per-customer
    // reduction — the join input is the reduced frame, not the fact.
    Q("r76_top_return_customers",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
          .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1996-04-01")))
              .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("rev_c")).as("return_rev_cents"))
        rev.join(Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_mktsegment"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey").as("custkey"), col("c_name"),
            col("c_mktsegment"), col("return_rev_cents"))
          .orderBy(col("return_rev_cents").desc, col("custkey").asc)
          .limit(20)
      },
      Some(s"""
        SELECT c_custkey AS custkey, c_name, c_mktsegment,
               CAST(sum(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
                 AS return_rev_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY 1, 2, 3
        ORDER BY return_rev_cents DESC, custkey ASC LIMIT 20""")),

    // r77: TPC-H Q4 shape — ORDER PRIORITY via EXISTS: count orders per
    // priority in one quarter that have at least one returned line
    // (this schema has no commit/receipt dates; the EXISTS-on-lineitem
    // geometry is the point). The EXISTS is a LEFT SEMI join — the
    // probe side is pre-reduced to the bare orderkey column and
    // duplicate matches never multiply rows, so the join output is
    // bounded by the orders side. One keyed shuffle pair + a
    // priority-keyed (5-row) partial aggregate.
    Q("r77_priority_exists",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
        .select("o_orderkey", "o_orderpriority")
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
            .select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority"),
      Some("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // r78: TPC-H Q16 shape — SUPPLIER-COUNT-PER-PART-CLASS with an
    // exclusion list: distinct suppliers able to supply each
    // (brand, size) class, excluding one brand and any supplier with a
    // negative account balance (Q16's NOT IN complaint-suppliers list).
    // The NOT IN is a LEFT ANTI join against the (tiny, pre-filtered)
    // exclusion frame; COUNT(DISTINCT) compiles to the standard
    // two-phase expand — dedup on (brand, size, suppkey) partial-aggs
    // map-side, then counts — so no single task ever holds a class's
    // full supplier set.
    Q("r78_supplier_part_classes",
      (s, d) => {
        val badSup = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0.0).select(col("s_suppkey").as("bad_key"))
        val p = broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#13" && col("p_size").isin(1, 5, 9, 14, 23))
          .select("p_partkey", "p_brand", "p_size"))
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(broadcast(badSup), col("l_suppkey") === col("bad_key"), "left_anti")
          .groupBy("p_brand", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_size").asc)
      },
      Some("""
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13' AND p_size IN (1, 5, 9, 14, 23)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        GROUP BY p_brand, p_size
        ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC""")),

    // r79: TPC-H Q11 shape — GROUP SHARE vs a GLOBAL threshold: keep
    // customers whose order spend exceeds 1/1000 of ALL spend (Q11's
    // HAVING sum > fraction × global sum, asked of orders since this
    // schema has no partsupp). Both sides reduce from the SAME
    // per-customer frame: the global total re-aggregates the reduced
    // frame (customer-count-sized, not fact-sized) into a 1-row
    // broadcast, and the threshold compare is an exact integer
    // cross-multiply (spend × 1000 > total) — no division, no float,
    // no second fact scan.
    Q("r79_big_spenders",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as("spend_cents"))
        val total = spend.agg(sum(col("spend_cents")).as("total_cents"))
        spend.join(broadcast(total),
            col("spend_cents") * lit(1000L) > col("total_cents"))
          .select(col("o_custkey").as("custkey"), col("spend_cents"),
            col("total_cents"))
          .orderBy(col("spend_cents").desc, col("custkey").asc)
      },
      Some(s"""
        WITH spend AS (
          SELECT o_custkey AS custkey,
                 CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS spend_cents
          FROM orders GROUP BY 1),
        tot AS (SELECT CAST(sum(spend_cents) AS BIGINT) AS total_cents FROM spend)
        SELECT custkey, spend_cents, total_cents
        FROM spend, tot
        WHERE spend_cents * 1000 > total_cents
        ORDER BY spend_cents DESC, custkey ASC""")),

    // r80: TPC-H Q6 shape — the pure scan-aggregate forecast: one
    // filter, one global sum, zero joins. The entire query is a single
    // whole-stage-codegen span over the parquet scan with every
    // predicate pushed (quantity/discount/date all reach PushedFilters)
    // and a 2-column ReadSchema; the aggregate is a map-side partial
    // into a 1-row exchange. The simplest query in the inventory — and
    // the one where anything BUT a full-pushdown plan would be wrong.
    Q("r80_forecast_revenue",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
          count(lit(1)).as("n_items")),
      Some(s"""
        SELECT CAST(sum(${sqlCents("l_extendedprice * l_discount")}) AS BIGINT)
                 AS revenue_cents,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24.0""")),

    // r81: INCREMENTAL AGGREGATE MAINTENANCE — the materialized pre-agg
    // refresh pattern (Scale.refreshAggregate). A monthly revenue
    // summary table (partitioned by order month, keyed by priority) is
    // bootstrapped from history, then a late-month DELTA is folded in:
    // the refresh pre-aggregates only the delta, reads only the summary
    // partitions the delta touches, and swaps just those leaf dirs —
    // untouched months keep their files byte-for-byte (pinned by
    // ScaleSpec). The gate reads the table AFTER both refreshes; the
    // oracle is the one-shot GROUP BY over all orders, so any double
    // count, lost partial, or partition misroute hash-mismatches. This
    // is the 100 TB dashboard-refresh shape: cost O(delta + touched
    // partitions), where the reference recomputes gold aggregates from
    // the full silver scan on every run.
    Q("r81_incremental_agg_refresh",
      (s, d) => {
        val o = Tables.orders(s, d).select(
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_orderpriority"), cents(col("o_totalprice")).as("cents_v"))
        // delta = the trailing ~2 months (lexicographic compare is exact
        // for yyyy-MM); base = everything before
        val cut = Tables.orders(s, d)
          .agg(date_format(add_months(max(col("o_orderdate")), -1), "yyyy-MM").as("c"))
          .head().getString(0)
        val table = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamExec.scratchParent, "aggsum_").toString + "/t"
        graft.operators.Scale.refreshAggregate(s, table,
          o.filter(col("month") < cut), "month", Seq("o_orderpriority"), Seq("cents_v"))
        graft.operators.Scale.refreshAggregate(s, table,
          o.filter(col("month") >= cut), "month", Seq("o_orderpriority"), Seq("cents_v"))
        s.read.parquet(table)
          .select(col("month"), col("o_orderpriority"), col("cnt"), col("cents_v"))
          .orderBy("month", "o_orderpriority")
      },
      Some(s"""
        SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority,
               count(*) AS cnt,
               CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS cents_v
        FROM orders GROUP BY 1, 2 ORDER BY month, o_orderpriority""")),

    // r82: PIVOT — long-to-wide reshaping, the reporting surface every
    // BI consumer of the gold layer asks for (days down, event types
    // across). The VALUES ARE ENUMERATED (`pivot(col, Seq(...))`), which
    // is the 100 TB contract: without them Spark runs a whole extra
    // distinct-scan job just to discover the column set, and the output
    // schema becomes data-dependent (a new type silently widens every
    // downstream consumer). Enumerated, the pivot compiles two-phase
    // (fingerprinted: 3 exchanges): the DATA-sized shuffle happens once
    // — a partial agg down to the (day, type) frame — and the second
    // exchange reshapes that already-output-sized frame with
    // PivotFirst; the third is the final sort. The oracle's CASE form
    // proves the wide result cell-for-cell.
    Q("r82_pivot_daily",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables.events(s, d)
          .select(to_date(col("ts_ts")).as("day"),
            col("event_type"))
          .groupBy("day")
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .na.fill(0L, types)
          .orderBy("day")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events GROUP BY 1 ORDER BY day""")),

    // r83: UNPIVOT (melt) — the inverse reshape: r82's wide frame back
    // to (day, event_type, cnt) long form via Dataset.unpivot, the
    // Spark-native melt (a Generate/Expand node — ZERO shuffles; the
    // only exchanges are r82's upstream aggregate and the final sort).
    // Round-tripping through BOTH reshapes under one oracle pins that
    // neither direction drops, duplicates, or mislabels a cell — the
    // oracle is just the long-form GROUP BY the round trip must land
    // back on. Zero-count cells (a type silent that day) survive the
    // trip as explicit zeros, so the long form is gap-free — unlike a
    // naive re-aggregation of the raw events.
    Q("r83_unpivot_daily",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = Tables.events(s, d)
          .select(to_date(col("ts_ts")).as("day"),
            col("event_type"))
          .groupBy("day").pivot("event_type", types)
          .agg(count(lit(1))).na.fill(0L, types)
        wide.unpivot(Array(col("day")), types.map(col).toArray,
            "event_type", "cnt")
          .orderBy("day", "event_type")
      },
      Some("""
        WITH base AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT m.day, t.event_type
          FROM (SELECT DISTINCT day FROM base) m
          CROSS JOIN (SELECT unnest(['click','error','purchase','signup','view']) AS event_type) t)
        SELECT g.day, g.event_type, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
        FROM grid g LEFT JOIN base b
          ON g.day = b.day AND g.event_type = b.event_type
        ORDER BY g.day, g.event_type""")),

    // r84: ROLLING 7-DAY DISTINCT USERS — the query exact distinct
    // cannot survive at scale (a naive rolling countDistinct re-scans
    // every event 7×), solved the production way: ONE corpus pass
    // builds a DataSketches HLL sketch PER DAY (hll_sketch_agg), and
    // the rolling union is a window over the ~30-row daily frame
    // (hll_union_agg, RANGE -6..0 on the day index — calendar-correct
    // even with gap days) — sketches merge, exact sets don't. The gate
    // carries the exact rolling count (computed via a broadcast
    // day-grid range join, affordable at gate scale, impossible at
    // 100 TB) plus the r21 contract: the sketch estimate must land
    // within 10% of exact on BOTH engines (lgK=12 HLL is ~2%). Scale:
    // the corpus-sized work is one partial-agg shuffle to (day,
    // sketch); everything after runs on the days-sized frame.
    Q("r84_rolling_distinct_users",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(to_date(col("ts_ts")).as("day"), col("user_id"))
        val daily = ev.groupBy("day")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .withColumn("day_i", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("day_i").rangeBetween(-6, 0)
        val est = daily
          .withColumn("est", hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
          .select("day", "est")
        val grid = daily.select(col("day").as("gday"))
        val exact = ev.join(broadcast(grid),
            col("day").between(date_sub(col("gday"), 6), col("gday")))
          .groupBy("gday")
          .agg(countDistinct(col("user_id")).as("n_users_7d"))
        exact.join(est, col("gday") === col("day"))
          .select(col("gday").as("day"), col("n_users_7d"),
            (abs(col("est") - col("n_users_7d")) * lit(10L)
              <= col("n_users_7d")).as("approx_ok"))
          .orderBy("day")
      },
      Some("""
        WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day FROM ev),
        exact AS (
          SELECT g.day, count(DISTINCT e.user_id) AS n_users_7d
          FROM days g JOIN ev e
            ON e.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
          GROUP BY g.day),
        approx AS (
          SELECT day, approx_count_distinct(user_id) OVER (
                   ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                   AND CURRENT ROW) AS est
          FROM (SELECT DISTINCT day, user_id FROM ev)),
        ap AS (SELECT day, max(est) AS est FROM approx GROUP BY day)
        SELECT x.day, CAST(x.n_users_7d AS BIGINT) AS n_users_7d,
               abs(a.est - x.n_users_7d) * 10 <= x.n_users_7d AS approx_ok
        FROM exact x JOIN ap a ON a.day = x.day
        ORDER BY x.day""")),

    // r85: the RANK-FUNCTION FAMILY (rank, dense_rank, percent_rank,
    // cume_dist) in one gate entry — partitioned BY CUSTOMER, the
    // scale-correct key choice: millions of small frames instead of
    // r51's few-big-percentile shape (a window keyed by a 5-value
    // column is a skew bomb at 100 TB; keyed by customer it's
    // embarrassingly parallel). Metrics are for each customer's
    // HIGHEST-priced order among their 2+ orders: rank/dense_rank over
    // (cents desc, orderkey asc) — a total order, so ties are
    // deterministic — and percent_rank/cume_dist floored to basis
    // points (exact rationals in IEEE doubles; same operands, same
    // floor on both engines). One shuffle keyed by custkey; everything
    // else rides it.
    Q("r85_rank_family",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, d).select(col("o_custkey"),
          col("o_orderkey"), cents(col("o_totalprice")).as("cents_v"))
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("cents_v").desc, col("o_orderkey").asc)
        val wAll = Window.partitionBy("o_custkey")
        o.withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .withColumn("prank_bp", floor(percent_rank().over(w) * 10000).cast("long"))
          .withColumn("cume_bp", floor(cume_dist().over(w) * 10000).cast("long"))
          .withColumn("n_orders", count(lit(1)).over(wAll))
          .filter(col("rnk") === 1 && col("n_orders") >= 2)
          .select(col("o_custkey"), col("n_orders"),
            col("o_orderkey").as("top_order"), col("cents_v").as("top_cents"),
            col("drnk").cast("long").as("drnk"), col("prank_bp"), col("cume_bp"))
          .orderBy("o_custkey")
      },
      Some(s"""
        WITH r AS (
          SELECT o_custkey, o_orderkey,
                 CAST(${sqlCents("o_totalprice")} AS BIGINT) AS cents_v,
                 rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
                 CAST(floor(percent_rank() OVER w * 10000) AS BIGINT) AS prank_bp,
                 CAST(floor(cume_dist() OVER w * 10000) AS BIGINT) AS cume_bp,
                 count(*) OVER (PARTITION BY o_custkey) AS n_orders
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY ${sqlCents("o_totalprice")} DESC, o_orderkey ASC))
        SELECT o_custkey, CAST(n_orders AS BIGINT) AS n_orders,
               o_orderkey AS top_order, cents_v AS top_cents,
               CAST(drnk AS BIGINT) AS drnk, prank_bp, cume_bp
        FROM r WHERE rnk = 1 AND n_orders >= 2
        ORDER BY o_custkey""")),

    // r86: JSON COLUMN ROUND TRIP — the semi-structured F-surface
    // (to_json / from_json / get_json_object) under one oracle: each
    // order serializes to a JSON string, parses back with an EXPLICIT
    // schema (no schema-inference job — the 100 TB rule), and BOTH
    // extraction paths (the struct field and the JSONPath string) must
    // agree row-by-row: n_path_mismatch is part of the hashed output
    // and the oracle pins it to zero. The aggregate re-derives the
    // priority rollup from the parsed fields, so any escaping or
    // numeric-width loss in the round trip breaks the sum. All three
    // JSON expressions are row-local (codegen'd, no shuffle beyond the
    // final rollup).
    Q("r86_json_roundtrip",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority"), cents(col("o_totalprice")).as("cents_v"))
        val js = o.select(to_json(struct(col("o_orderkey"),
          col("o_orderpriority"), col("cents_v"))).as("j"))
        val sch = org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_orderpriority STRING, cents_v BIGINT")
        val parsed = js.select(from_json(col("j"), sch).as("p"), col("j"))
        parsed.select(
            col("p.o_orderkey").as("k"), col("p.o_orderpriority").as("prio"),
            col("p.cents_v").as("cents_v"),
            (get_json_object(col("j"), "$.o_orderpriority") =!= col("p.o_orderpriority"))
              .cast("long").as("mism"))
          .groupBy("prio")
          .agg(count(lit(1)).as("n"), sum(col("cents_v")).as("sum_cents"),
            sum(col("mism")).as("n_path_mismatch"))
          .orderBy("prio")
      },
      Some(s"""
        SELECT o_orderpriority AS prio, count(*) AS n,
               CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS sum_cents,
               CAST(0 AS BIGINT) AS n_path_mismatch
        FROM orders GROUP BY 1 ORDER BY prio""")),

    // r87: the DATE/INTERVAL function family (date_trunc, last_day,
    // add_months, quarter, datediff) in one calendar-audited rollup —
    // month boundaries, month lengths (leap-aware), quarter labels and
    // the next-refresh date per order month. Every derived value is a
    // pure calendar function of the month key, so the oracle catches
    // any engine disagreement on calendar arithmetic (the classic
    // silent-corruption source in date-partitioned pipelines). All
    // expressions are row-local; the only shuffle is the month rollup.
    Q("r87_date_functions",
      (s, d) => {
        Tables.orders(s, d)
          .select(date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
          .groupBy("month_start")
          .agg(count(lit(1)).as("n_orders"))
          .withColumn("month_end", last_day(col("month_start")))
          .withColumn("days_in_month",
            (datediff(col("month_end"), col("month_start")) + 1).cast("long"))
          .withColumn("qtr", quarter(col("month_start")).cast("long"))
          .withColumn("next_refresh", add_months(col("month_start"), 1))
          .select("month_start", "n_orders", "month_end", "days_in_month",
            "qtr", "next_refresh")
          .orderBy("month_start")
      },
      Some("""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               count(*) AS n_orders,
               last_day(CAST(date_trunc('month', o_orderdate) AS DATE)) AS month_end,
               CAST(last_day(CAST(date_trunc('month', o_orderdate) AS DATE))
                 - CAST(date_trunc('month', o_orderdate) AS DATE) + 1 AS BIGINT) AS days_in_month,
               CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
               CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS DATE) AS next_refresh
        FROM orders GROUP BY 1, 3, 4, 5, 6 ORDER BY month_start"""))
  )
}
