package graft

import graft.rel.Relational
import graft.search.Sorting
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num
import graft.EntryShared._

/** SparkEntry registrations: Relational / enrich + search-body sort + their oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesRel {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- D. Relational / enrich ----
    "q_tpch_q6" -> ((s, d) => t(s, d, "lineitem")
      .where(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01" &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(Num.round(
        sum((col("l_extendedprice") * col("l_discount")).cast("decimal(28,8)")).cast("double"), 4)
        .as("revenue"))),
    "q_tpch_q1" -> ((s, d) => t(s, d, "lineitem")
      .where(col("l_shipdate") <= "1998-09-02")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Num.round(sum(col("l_quantity").cast("decimal(28,8)")).cast("double"), 4).as("sum_qty"),
        Num.round(sum(col("l_extendedprice").cast("decimal(28,8)")).cast("double"), 4).as("sum_base_price"),
        Num.round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(28,8)")).cast("double"), 4).as("sum_disc_price"),
        Num.round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).cast("decimal(28,8)")).cast("double"), 4).as("sum_charge"),
        Num.round(avg(col("l_quantity")), 4).as("avg_qty"),
        Num.round(avg(col("l_extendedprice")), 4).as("avg_price"),
        Num.round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))),
    // TPC-H Q5: the 6-table join showcase — dims broadcast, the two
    // fact-fact joins shuffle on their keys, AQE handles skew.
    "q_tpch_q5" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
        .where(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      val l = t(s, d, "lineitem")
      val su = t(s, d, "supplier")
      val n = t(s, d, "nation")
      val r = t(s, d, "region").where(col("r_name") === "ASIA")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Num.round(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(28,8)"))
            .cast("double"), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    // TPC-H Q10: returned-item reporting — quarter-windowed fact join,
    // nation dim broadcast, customer-grain agg, top-20 by revenue. The
    // orders window prunes at the scan; the two fact joins shuffle on
    // their keys and AQE sizes the exchanges.
    "q_tpch_q10" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders")
          .where(col("o_orderdate") >= "1997-10-01" && col("o_orderdate") < "1998-01-01"),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem").where(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(Num.round(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(28,8)"))
            .cast("double"), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),
    // TPC-H Q18: large-volume customers — the agg-driven semi-join
    // shape (orders qualified by a HAVING over their OWN lineitems).
    // The qualifying-order frame is one partial-agg pass and tiny
    // (>300 qty), so it broadcasts into the left-semi prune.
    "q_tpch_q18" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("_qty"))
        .where(col("_qty") > 300).select(col("l_orderkey"))
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(l.join(big, Seq("l_orderkey"), "left_semi"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(Num.round(sum(col("l_quantity").cast("decimal(28,8)")).cast("double"), 4)
          .as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),
    "q_join_enrich" -> ((s, d) =>
      Relational.enrich(
        Relational.enrich(
          t(s, d, "customer").withColumnRenamed("c_nationkey", "n_nationkey"),
          t(s, d, "nation"), Seq("n_nationkey")),
        t(s, d, "region").withColumnRenamed("r_regionkey", "n_regionkey"), Seq("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), Num.round(avg(col("c_acctbal")), 4).as("avg_bal"))
        .orderBy(col("r_name"))),
    "q_join_revenue" -> ((s, d) => {
      val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").where(col("o_orderdate") < "1998-01-01")
      val l = t(s, d, "lineitem").where(col("l_shipdate") > "1998-01-01")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(Num.round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q_semi_join" -> ((s, d) => t(s, d, "customer")
      .join(t(s, d, "orders").where(col("o_totalprice") > 10000)
        .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))),
    "q_anti_join" -> ((s, d) => t(s, d, "customer")
      .join(t(s, d, "orders").where(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))),
    "q_nested" -> ((s, d) => {
      // ES nested docs: orders with lineitems as an array-of-structs
      // child field; the nested query = "a child matches the predicate"
      val nested = Relational.nest(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
        "l_orderkey", "lines")
      Relational.nestedExists(
        t(s, d, "orders"), nested, "o_orderkey", "l_orderkey", "lines",
        ln => ln.getField("l_quantity") > 48 && ln.getField("l_returnflag") === "A")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),
    // nested query with inner_hits: the matching INNER docs come
    // back per parent (filter over the struct array — no unnest join)
    "q_nested_inner" -> ((s, d) => {
      val nested = Relational.nest(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
        "l_orderkey", "lines")
      Relational.nestedExists(
        t(s, d, "orders"), nested, "o_orderkey", "l_orderkey", "lines",
        ln => ln.getField("l_quantity") > 48 && ln.getField("l_returnflag") === "A")
        .select(col("o_orderkey"),
          size(filter(col("lines"), ln =>
            ln.getField("l_quantity") > 48 && ln.getField("l_returnflag") === "A"))
            .as("n_inner"),
          Num.round(aggregate(
            filter(col("lines"), ln =>
              ln.getField("l_quantity") > 48 && ln.getField("l_returnflag") === "A"),
            lit(0.0), (a, ln) => a + ln.getField("l_quantity")), 4).as("inner_qty"))
        .orderBy(col("o_orderkey"))
    }),
    // ES join-field parent/child: has_child with min_children, has_parent
    "q_has_child" -> ((s, d) =>
      Relational.hasChild(t(s, d, "orders"), t(s, d, "lineitem"),
        "o_orderkey", "l_orderkey", col("l_quantity") > 45, minChildren = 3)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),
    // parent_id query: all children of one parent — FK equality
    // pushed to the scan, no join
    "q_parent_id" -> ((s, d) =>
      Relational.parentId(t(s, d, "lineitem"), "l_orderkey", 7L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_linenumber"))),
    "q_has_parent" -> ((s, d) =>
      Relational.hasParent(t(s, d, "lineitem"), t(s, d, "orders"),
        "o_orderkey", "l_orderkey", col("o_orderpriority") === "1-URGENT")
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),
    // ES range fields: one agg over all three relation semantics
    "q_range_field" -> ((s, d) => {
      val lo = col("o_orderdate")
      val hi = col("o_orderdate") + expr("interval 90 days")
      val qlo = lit("1997-06-01").cast("timestamp")
      val qhi = lit("1997-08-01").cast("timestamp")
      t(s, d, "orders").agg(
        count(when(Relational.rangeRelation(lo, hi, qlo, qhi, "intersects"), 1)).as("n_intersects"),
        count(when(Relational.rangeRelation(lo, hi, qlo, qhi, "within"), 1)).as("n_within"),
        count(when(Relational.rangeRelation(lo, hi, qlo, qhi, "contains"), 1)).as("n_contains"))
    }),
    // interval overlap join via grid bucketing (range join)
    "q_interval_join" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def iv(src: String) = docs.where(col("source") === src).select(
        col("doc_id"),
        (col("doc_id") * 7 % 500).cast("double").as("lo"),
        (col("doc_id") * 7 % 500 + 9).cast("double").as("hi"))
      Relational.intervalOverlapJoin(
        iv("src0"), iv("src1"), "doc_id", "lo", "hi", "doc_id", "lo", "hi", cellWidth = 8.0)
        // the presentation sort lives HERE: the operator no longer
        // embeds a global orderBy (wasted exchange for library callers)
        .orderBy(col("a_id").asc, col("b_id").asc)
    }),
    // as-of join: each click picks up the latest prior view's value
    "q_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_ns")).agg(max(col("value")).as("view_value"))
      Relational.asofLookup(
        ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_ns"), col("value")),
        views, "user_id", "ts_ns", "ts_ns", "view_value", "asof_view_value")
        .select(col("event_id"), col("user_id"), col("value"), col("asof_view_value"))
        .orderBy(col("event_id"))
    }),
    "q_window_topn" -> ((s, d) =>
      Relational.topNPerGroup(t(s, d, "orders"), Seq("o_custkey"),
        col("o_totalprice").desc, col("o_orderkey").asc, 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))),

    // ---- search-body sort surface (graft.search.Sorting) ----
    // multivalued-field sort mode (ES MultiValueMode): each order's
    // lineitem quantities fold to ONE sort key (median) — the
    // array_sort + middle-pick is per-row narrow math, and the ordered
    // limit still plans as TakeOrderedAndProject
    "q_sort_mode" -> ((s, d) => {
      val qty = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(collect_list(col("l_quantity")).as("qtys"))
      t(s, d, "orders").join(qty, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
          Num.round(Sorting.key("""{"qtys": {"mode": "median"}}"""), 4).as("qty_median"))
        .orderBy(col("qty_median").desc, col("o_orderkey"))
        .limit(100)
    }),
    // nested sort: mode fold over inner docs RESTRICTED by a filter —
    // orders ranked by their min returned-item quantity; orders with
    // no matching inner doc sort as missing (last)
    "q_sort_nested" -> ((s, d) => {
      val items = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(collect_list(struct(col("l_quantity"), col("l_returnflag"))).as("items"))
      t(s, d, "orders").join(items, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
          Num.round(Sorting.key(
            """{"items.l_quantity": {"order": "asc", "mode": "min",
              |  "nested": {"path": "items",
              |             "filter": {"term": {"l_returnflag": "R"}}}}}"""
              .stripMargin), 4).as("min_r_qty"))
        .orderBy(col("min_r_qty").asc_nulls_last, col("o_orderkey"))
        .limit(100)
    }),
    // _geo_distance sort: haversine km from the query point as the
    // key; sorted on the ROUNDED value so the limit boundary is
    // engine-deterministic
    "q_sort_geo" -> ((s, d) => {
      val g = withGeo(t(s, d, "customer"))
        .withColumnRenamed("lat", "loc_lat").withColumnRenamed("lon", "loc_lon")
      g.select(col("c_custkey"),
          Num.round(Sorting.key(
            """{"_geo_distance": {"loc": {"lat": 0.0, "lon": 0.0}, "order": "asc", "unit": "km"}}"""), 4)
            .as("dist_km"))
        .orderBy(col("dist_km"), col("c_custkey"))
        .limit(50)
    }),
    // _script sort: a Painless sort key compiles to codegen'd column
    // math — non-monotonic in any mapped field, so it exercises the
    // script path rather than a field alias
    "q_sort_script" -> ((s, d) => t(s, d, "orders")
      .select(col("o_orderkey"),
        Num.round(Sorting.key(
          """{"_script": {"script": {"source":
            |"Math.abs(doc['o_totalprice'].value - params.pivot)",
            |"params": {"pivot": 150000.0}}, "order": "asc"}}""".stripMargin), 4)
          .as("sort_key"))
      .orderBy(col("sort_key"), col("o_orderkey"))
      .limit(20)),
    // missing-value placement: ES puts missing keys _last by default
    // regardless of direction; _first inverts that
    "q_sort_missing" -> ((s, d) => t(s, d, "orders")
      .withColumn("pri", when(col("o_orderpriority") === "1-URGENT",
        lit(null).cast("string")).otherwise(col("o_orderpriority")))
      .select(col("o_orderkey"), col("pri"))
      .orderBy(Sorting.compile(
        """[{"pri": {"order": "asc", "missing": "_first"}}]""") :+ col("o_orderkey"): _*)
      .limit(100)),
  )

  val oracleSql: Map[String, String] = Map(
    // ---- D ----
    "q_join_enrich" -> ("SELECT r_name, count(*)::BIGINT AS n_customers, round(avg(c_acctbal), 4) AS avg_bal " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
      "GROUP BY r_name ORDER BY r_name"),
    "q_join_revenue" -> ("SELECT l_orderkey, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01' " +
      "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "q_tpch_q5" -> ("SELECT n_name, round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
      "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY n_name ORDER BY revenue DESC, n_name"),
    "q_tpch_q10" -> ("SELECT c_custkey, c_name, c_acctbal, n_name, " +
      "round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "WHERE o_orderdate >= TIMESTAMP '1997-10-01' AND o_orderdate < TIMESTAMP '1998-01-01' " +
      "AND l_returnflag = 'R' " +
      "GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey LIMIT 20"),
    "q_tpch_q18" -> ("SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
      "round(CAST(sum(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_qty " +
      "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) " +
      "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice " +
      "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"),
    "q_semi_join" -> ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
      "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 10000) ORDER BY c_custkey"),
    "q_anti_join" -> ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
      "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) ORDER BY c_custkey"),
    "q_range_field" -> ("SELECT " +
      "count_if(o_orderdate <= TIMESTAMP '1997-08-01' AND o_orderdate + INTERVAL 90 DAY >= TIMESTAMP '1997-06-01')::BIGINT AS n_intersects, " +
      "count_if(o_orderdate >= TIMESTAMP '1997-06-01' AND o_orderdate + INTERVAL 90 DAY <= TIMESTAMP '1997-08-01')::BIGINT AS n_within, " +
      "count_if(o_orderdate <= TIMESTAMP '1997-06-01' AND o_orderdate + INTERVAL 90 DAY >= TIMESTAMP '1997-08-01')::BIGINT AS n_contains " +
      "FROM orders"),
    "q_interval_join" -> ("WITH a AS (SELECT doc_id, (doc_id * 7 % 500)::DOUBLE AS lo, (doc_id * 7 % 500 + 9)::DOUBLE AS hi FROM documents WHERE source = 'src0'), " +
      "b AS (SELECT doc_id, (doc_id * 7 % 500)::DOUBLE AS lo, (doc_id * 7 % 500 + 9)::DOUBLE AS hi FROM documents WHERE source = 'src1') " +
      "SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM a JOIN b ON a.lo <= b.hi AND a.hi >= b.lo " +
      "ORDER BY a_id, b_id"),
    "q_asof" -> ("WITH v AS (SELECT user_id, epoch_ns(ts) AS tn, max(value) AS view_value FROM events " +
      "WHERE event_type = 'view' GROUP BY user_id, epoch_ns(ts)), " +
      "c AS (SELECT event_id, user_id, epoch_ns(ts) AS tn, value FROM events WHERE event_type = 'click') " +
      "SELECT c.event_id, c.user_id, c.value, v.view_value AS asof_view_value " +
      "FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.tn >= v.tn ORDER BY c.event_id"),
    "q_window_topn" -> ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM " +
      "(SELECT o_custkey, o_orderkey, o_totalprice, " +
      "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
      "WHERE rn <= 2 ORDER BY o_custkey, rn"),

    "q_sort_mode" -> ("WITH q AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS ql " +
      "FROM lineitem GROUP BY 1), " +
      "m AS (SELECT o_orderkey, (ql[(len(ql)+1)//2] + ql[len(ql)//2+1]) / 2.0 AS med " +
      "FROM orders JOIN q ON o_orderkey = l_orderkey) " +
      "SELECT o_orderkey, round(med, 4) AS qty_median FROM m " +
      "ORDER BY round(med, 4) DESC, o_orderkey LIMIT 100"),
    "q_sort_nested" -> ("WITH m AS (SELECT l_orderkey, " +
      "min(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS k FROM lineitem GROUP BY 1) " +
      "SELECT o_orderkey, round(k, 4) AS min_r_qty FROM orders JOIN m ON o_orderkey = l_orderkey " +
      "ORDER BY min_r_qty ASC NULLS LAST, o_orderkey LIMIT 100"),
    "q_sort_geo" -> (GeoCte + " SELECT c_custkey, dist_km FROM (SELECT c_custkey, " +
      "round(2 * 6371 * asin(sqrt(pow(sin(radians(0.0 - lat) / 2), 2) + " +
      "cos(radians(lat)) * cos(radians(0.0)) * pow(sin(radians(0.0 - lon) / 2), 2))), 4) AS dist_km " +
      "FROM g) ORDER BY dist_km, c_custkey LIMIT 50"),
    "q_sort_script" -> ("SELECT o_orderkey, round(abs(o_totalprice - 150000.0), 4) AS sort_key " +
      "FROM orders ORDER BY round(abs(o_totalprice - 150000.0), 4), o_orderkey LIMIT 20"),
    "q_sort_missing" -> ("SELECT o_orderkey, CASE WHEN o_orderpriority = '1-URGENT' " +
      "THEN NULL ELSE o_orderpriority END AS pri FROM orders " +
      "ORDER BY pri ASC NULLS FIRST, o_orderkey LIMIT 100"),

    "q_parent_id" -> ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
      "WHERE l_orderkey = 7 ORDER BY l_linenumber"),
    "q_has_child" -> ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey IN " +
      "(SELECT l_orderkey FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey HAVING count(*) >= 3) " +
      "ORDER BY o_orderkey"),
    "q_has_parent" -> ("SELECT l_orderkey, l_linenumber FROM lineitem WHERE EXISTS " +
      "(SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT') " +
      "ORDER BY l_orderkey, l_linenumber"),
    "q_nested" -> ("SELECT o_orderkey, o_totalprice FROM orders WHERE EXISTS " +
      "(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 48 " +
      "AND l_returnflag = 'A') ORDER BY o_orderkey"),
    "q_nested_inner" -> ("SELECT o_orderkey, count(*)::INT AS n_inner, " +
      "round(sum(l_quantity), 4) AS inner_qty FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE l_quantity > 48 AND l_returnflag = 'A' GROUP BY 1 ORDER BY o_orderkey"),
  )
}
