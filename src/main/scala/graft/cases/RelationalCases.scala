package graft.cases

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Case
import graft.Case._
import graft.streaming.EventStream

/** Relational/dataflow plane over the driver's parquet tables: the GIE
  * operator algebra mapped to Spark (SURVEY.md §2.C), each query with an
  * ANSI-SQL twin.
  */
object RelationalCases {
  val cases: Seq[Case] = Seq(
    // Scan + Select + Project (+ pushdown: filter & pruning reach parquet)
    query("q_scan_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin)((s, dir) =>
      table(s, dir, "lineitem")
        .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
    // CSV loader surface (`loader.py:44-88`: delimiter/header/column
    // selection): round-trip customer through pipe-delimited CSV with an
    // explicit schema (no inference scan), select a column subset, and
    // aggregate — the oracle aggregates the parquet source directly, so
    // any loader-option mishandling breaks the hash. The CSV goes to a
    // per-invocation scratch dir: a fixed path raced concurrent drivers
    // on overwrite-vs-read.
    scratch("q_csv_load",
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS acctbal_sum
        |FROM customer GROUP BY c_mktsegment""".stripMargin, "graft-csv") { (s, dir, csvDir) =>
      val src = table(s, dir, "customer")
      src.write.mode("overwrite")
        .option("header", "true").option("delimiter", "|").csv(csvDir)
      s.read
        .option("header", "true").option("delimiter", "|")
        .schema(src.schema)
        .csv(csvDir)
        .select(col("c_mktsegment"), col("c_acctbal"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          dec(sum(dec(col("c_acctbal")))).cast("double").as("acctbal_sum"))
    },
    // GroupBy aggregates: sum/min/max/count/countDistinct/avg
    query("q_group_agg",
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
        |  min(l_discount) AS min_disc,
        |  max(l_tax) AS max_tax,
        |  count(*) AS n,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dec(sum(dec(col("l_extendedprice")))).cast("double").as("sum_price"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_tax")).as("max_tax"),
          count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"))),
    // OrderBy + limit ⇒ TopK (TakeOrderedAndProject)
    query("q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)((s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)),
    // multi-way join + broadcast dims + grouped money agg
    query("q_join_agg",
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dec(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))))
          .cast("double").as("revenue"))
    },
    // Join kinds: SEMI (exists) / ANTI (not exists)
    query("q_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)((s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),
    // ANTI against a restricted order set (customers with no order above
    // the threshold) — non-vacuous: every customer has *some* order in
    // this data, so the unfiltered anti-join would pass trivially on 0
    // rows.
    query("q_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin)((s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders").where(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),
    // Join FULL OUTER: per-nation customer vs supplier counts over
    // deliberately misaligned nation ranges (nulls on both sides)
    query("q_outer",
      """SELECT coalesce(c.nk, s.nk) AS nk, c.nc, s.ns FROM
        |  (SELECT c_nationkey AS nk, count(*) AS nc FROM customer WHERE c_nationkey < 13 GROUP BY 1) c
        |FULL JOIN
        |  (SELECT s_nationkey AS nk, count(*) AS ns FROM supplier WHERE s_nationkey > 10 GROUP BY 1) s
        |ON c.nk = s.nk""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer").where(col("c_nationkey") < 13)
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("nc"))
      val p = table(s, dir, "supplier").where(col("s_nationkey") > 10)
        .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("ns"))
      c.join(p, Seq("nk"), "full_outer").select(col("nk"), col("nc"), col("ns"))
    },
    // Join TIMES (GIE JoinKind TIMES = cartesian product)
    query("q_cross", "SELECT r_name, n_name FROM region CROSS JOIN nation")((s, dir) =>
      table(s, dir, "region").select(col("r_name"))
        .crossJoin(table(s, dir, "nation").select(col("n_name")))),
    // Dedup (distinct on keys)
    query("q_dedup", "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer")((s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment")).distinct()),
    // Window: top order per customer (row_number over partition)
    query("q_window",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) z WHERE rn = 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    },
    // Unfold / explode
    query("q_explode",
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part) z
        |GROUP BY word""".stripMargin)((s, dir) =>
      table(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))),
    // Union + dedup across sources
    query("q_union",
      """SELECT nk, count(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION ALL SELECT s_nationkey AS nk FROM supplier) z GROUP BY nk""".stripMargin)((s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .unionAll(table(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .groupBy(col("nk")).agg(count(lit(1)).as("n"))),
    // Apply/correlated subquery shape: orders above their customer's avg
    query("q_apply",
      """SELECT o_orderkey, o_custkey FROM orders o
        |JOIN (SELECT o_custkey AS ck, avg(o_totalprice) AS avg_price FROM orders GROUP BY o_custkey) a
        |  ON o.o_custkey = a.ck
        |WHERE o.o_totalprice > a.avg_price * 2""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val avgPerCust = o.groupBy(col("o_custkey"))
        .agg(avg(col("o_totalprice")).as("avg_price"))
      o.join(avgPerCust, Seq("o_custkey"))
        .where(col("o_totalprice") > col("avg_price") * 2)
        .select(col("o_orderkey"), col("o_custkey"))
    },
    // events: gap-based session windows (session_window aggregate — the
    // batch form of the streaming sessionization; value pre-cast to
    // DECIMAL so per-session sums are order-exact cross-engine). The twin
    // is gaps-and-islands: a session breaks where the inter-event gap
    // reaches 30 min (micro-precision, matching Spark's end-exclusive
    // session windows)
    query("q_event_sessions",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, CAST(value AS DECIMAL(18,4)) AS v FROM events),
        |m AS (
        |  SELECT user_id, tus, v,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |           OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (
        |  SELECT user_id, tus, v,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(min(tus) // 1000000 AS BIGINT) AS sess_start,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(v) AS DECIMAL(18,4)) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin)((s, dir) =>
      EventStream.sessionWindows(
        table(s, dir, "events").withColumn("value", dec(col("value"))), gap = "30 minutes")
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("sess_start"),
          col("n_events"),
          dec(col("total_value")).cast("double").as("total_value"))),
    // events: tumbling-window aggregation (batch form of the streaming op)
    query("q_event_window",
      """SELECT ((epoch_ms(ts) // 1000) - ((epoch_ms(ts) // 1000) % 3600)) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin)((s, dir) =>
      table(s, dir, "events")
        .groupBy(
          (unix_timestamp(col("ts")) - pmod(unix_timestamp(col("ts")), lit(3600))).as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          dec(sum(dec(col("value")))).cast("double").as("total"))),
    // hopping (sliding) windows — Catalyst window() with slide < length,
    // each event lands in length/slide = 2 overlapping windows; in the
    // twin, slide 1800s ⇒ event t belongs to starts
    // {floor(t/1800)·1800, that − 1800} (Spark window() epoch alignment)
    query("q_event_hopping",
      """WITH e AS (SELECT (epoch_ms(ts) // 1000) AS t, event_type FROM events),
        |w AS (
        |  SELECT ((t // 1800) * 1800) AS win_start, event_type FROM e
        |  UNION ALL
        |  SELECT ((t // 1800) * 1800 - 1800) AS win_start, event_type FROM e)
        |SELECT win_start, event_type, count(*) AS n FROM w GROUP BY 1, 2""".stripMargin)((s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("win_start"), col("event_type"), col("n")))
  )
}
