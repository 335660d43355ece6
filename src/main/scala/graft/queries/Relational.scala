package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.SpatialFunctions.haversineMeters

/** SURVEY §2 relational operator inventory, each expressed as an idiomatic
  * Spark pipeline over the TPC-H-ish testdata with a DuckDB oracle.
  *
  * Conventions for hash-stable oracle comparison:
  *   - deterministic total ORDER BY on every output;
  *   - money sums as BIGINT cents (per-row round, then long sum — exact,
  *     order-independent, and serialized identically by every engine; the
  *     driver's hash normalizes DECIMAL differently than DuckDB, so no
  *     DecimalType in driver-facing outputs);
  *   - identical column aliases on both sides.
  */
object Relational {
  import Catalog.t

  def all: Seq[Q] = Seq(

    // S1/P1/P2 — header scan + projection + temporal range predicate
    // (ref: LOAD CSV new_dbSetup.py:33-63; filter main.py:83)
    Q("s1_scan_filter_project", "S1,P1,P2",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        // all three output columns in the sort: the synthetic lineitem has
        // DUPLICATE (l_orderkey, l_linenumber) keys, so the two-column sort
        // was never total — single-task scans masked the tie order until
        // the r20 scan spread surfaced it (oracle parity rule: total ORDER
        // BY; result SET unchanged)
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1996-01-01'
             |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin)),

    // P6/F7 — name-list membership (ref: main.py:132,141 stop-name isin)
    Q("p6_isin_membership", "P6,F7",
      (s, dir) => t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') ORDER BY c_custkey""".stripMargin)),

    // P9 — null guard (ref: prova.py:212 WHERE end IS NOT NULL)
    Q("p9_null_guard", "P9",
      (s, dir) => t(s, dir, "events")
        .filter(col("props").isNotNull && col("value") > 150.0)
        .select("event_id", "event_type", "value")
        .orderBy("event_id"),
      Some("""SELECT event_id, event_type, value FROM events
             |WHERE props IS NOT NULL AND value > 150.0 ORDER BY event_id""".stripMargin)),

    // S5 — import-merge-on-key semantics (ref: PDF p.5-6 §2.2-2.3
    // `MERGE … ON CREATE SET` during the whole-graph CSV re-import):
    // EXISTING rows win on a shared key (ON CREATE SET fires only for
    // unseen keys); fresh incoming keys are appended. Pins the actual
    // library function (GraphCsv.mergeOnKeys): the '-v2' rewrites of
    // existing keys must NOT surface, the '-new' fresh keys must.
    // Fresh keys are offset by 10^12: customer keys grow ~150k per unit
    // SF, so a 10^6 offset collides with real keys at sf≈7 and the
    // engine's existing-wins would silently diverge from the oracle's
    // unconditional append; 10^12 needs sf≈7,000,000 to collide.
    Q("s5_merge_on_key", "S5",
      (s, dir) => {
        val base = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        val incoming = base.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), concat(col("c_name"), lit("-v2")).as("c_name"))
          .unionByName(base.filter(col("c_custkey") % 25 === 0)
            .select((col("c_custkey") + lit(1000000000000L)).as("c_custkey"),
              concat(col("c_name"), lit("-new")).as("c_name")))
        graft.etl.GraphCsv.mergeOnKeys(base, incoming, Seq("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |UNION ALL
             |SELECT c_custkey + 1000000000000 AS c_custkey, c_name || '-new' AS c_name
             |FROM customer WHERE c_custkey % 25 = 0
             |ORDER BY c_custkey""".stripMargin)),

    // F10 — the stable synthetic id contract: xxhash64 over the natural key
    // must be injective on the data (the id() replacement, SURVEY §7.3 —
    // stability across runs is GtfsEngineSpec's coverage; DuckDB cannot
    // compute xxhash64, but it CAN check the distinct-count the hash must
    // reproduce if collision-free).
    Q("f10_stable_id", "F10",
      (s, dir) => t(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(xxhash64(col("l_orderkey"), col("l_linenumber")))
            .as("n_ids")),
      Some("""SELECT count(*) AS n_rows,
             |       count(DISTINCT (l_orderkey, l_linenumber)) AS n_ids
             |FROM lineitem""".stripMargin)),

    // P7 — anti-self inequality predicates in a self-join (ref: main.py:17
    // `t.id <> trip_source AND r.id <> line`: a transfer must change BOTH
    // trip and route). Same shape: same-order lineitem pairs that differ in
    // line number AND supplier.
    Q("p7_anti_self_join", "P7,J6",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
        val a = l.select(col("l_orderkey"),
          col("l_linenumber").as("a_line"), col("l_suppkey").as("a_supp"))
        val b = l.select(col("l_orderkey"),
          col("l_linenumber").as("b_line"), col("l_suppkey").as("b_supp"))
        a.join(b, Seq("l_orderkey"))
          .filter(col("a_line") < col("b_line") && col("a_supp") =!= col("b_supp"))
          .groupBy("l_orderkey").agg(count(lit(1)).as("n_cross_supplier_pairs"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT a.l_orderkey AS l_orderkey, count(*) AS n_cross_supplier_pairs
             |FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
             |WHERE a.l_linenumber < b.l_linenumber AND a.l_suppkey <> b.l_suppkey
             |GROUP BY a.l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // P10 — optional-parameter predicate built driver-side (ref:
    // routing.ipynb:cell1:L185 `WHERE $footway_id IS NULL OR
    // footnode.footway_id = $footway_id`): the filter exists only when the
    // parameter is set. Both branches demonstrated in one result, labeled.
    Q("p10_optional_param", "P10",
      (s, dir) => {
        def branch(param: Option[String]) = {
          val base = t(s, dir, "orders")
          param.fold(base)(p => base.filter(col("o_orderpriority") === p))
            .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
            .select(lit(param.getOrElse("<unset>")).as("param"),
              col("o_orderpriority"), col("n"))
        }
        branch(Some("1-URGENT")).unionByName(branch(None))
          .orderBy("param", "o_orderpriority")
      },
      Some("""SELECT * FROM (
             |  SELECT '1-URGENT' AS param, o_orderpriority, count(*) AS n
             |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderpriority
             |  UNION ALL
             |  SELECT '<unset>' AS param, o_orderpriority, count(*) AS n
             |  FROM orders GROUP BY o_orderpriority)
             |ORDER BY param, o_orderpriority""".stripMargin)),

    // J1 — the calendar-chain 4-way equi-join (ref: main.py:16 Day–Service–
    // Trip–Stoptime–Stop chain) as region–nation–customer–orders–lineitem;
    // small dimensions broadcast exactly like Day/Service/Route.
    Q("j1_star_join_chain", "J1,A2",
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name, count(*) AS n_items,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // J2 — broadcast dimension lookup (ref: main.py:84 Route←Trip)
    Q("j2_dim_lookup", "J2",
      (s, dir) => t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_name, o_totalprice FROM orders
             |JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin)),

    // J4/W1 — sequence self-join as a window lead (ref: new_dbSetup.py:66-70
    // PRECEDES; SURVEY maps it to lead() over (trip, stop_sequence))
    Q("w1_sequence_lead", "J4,W1",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, dir, "orders")
          .withColumn("next_orderkey", lead("o_orderkey", 1).over(w))
          .withColumn("gap_days",
            datediff(to_date(lead("o_orderdate", 1).over(w)), to_date(col("o_orderdate"))))
          .filter(col("next_orderkey").isNotNull)
          .select("o_custkey", "o_orderkey", "next_orderkey", "gap_days")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, next_orderkey, gap_days FROM (
             |  SELECT o_custkey, o_orderkey,
             |         lead(o_orderkey) OVER w AS next_orderkey,
             |         date_diff('day', CAST(o_orderdate AS DATE),
             |                   CAST(lead(o_orderdate) OVER w AS DATE)) AS gap_days
             |  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |) WHERE next_orderkey IS NOT NULL ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // J5/P8 — band (range) self-join, the WALK_TO < 300 m analog
    // (ref: new_dbSetup.py:94-100), in its SCALE shape: bucket each row by
    // floor(bal/1000) (= the band width), probe the three neighboring
    // buckets via a 3-way explode on one side, equi-join on bucket, exact
    // band filter last. |bal_a − bal_b| < 1000 forces the buckets to differ
    // by at most 1, so the candidate set is provably complete, and each
    // qualifying pair matches on exactly ONE probe bucket (b's own) — no
    // dedup needed. Same plan family as GraphBuilder.walkTo's grid-bucketed
    // spatial join; at 100× this is a shuffled equi-join, not a cartesian.
    Q("j5_band_selfjoin", "J5,P8",
      (s, dir) => {
        val a = t(s, dir, "supplier")
          .select(col("s_suppkey").as("src"), col("s_acctbal").as("bal_a"))
          .withColumn("bkt", explode(array(
            floor(col("bal_a") / 1000.0) - 1,
            floor(col("bal_a") / 1000.0),
            floor(col("bal_a") / 1000.0) + 1)))
        val b = t(s, dir, "supplier")
          .select(col("s_suppkey").as("dst"), col("s_acctbal").as("bal_b"),
            floor(col("s_acctbal") / 1000.0).as("bkt"))
        a.join(b, Seq("bkt"))
          .filter(col("src") < col("dst") && abs(col("bal_a") - col("bal_b")) < 1000.0)
          .select(col("src"), col("dst"), abs(col("bal_a") - col("bal_b")).as("bal_gap"))
          .orderBy("src", "dst")
      },
      Some("""SELECT a.s_suppkey AS src, b.s_suppkey AS dst,
             |       abs(a.s_acctbal - b.s_acctbal) AS bal_gap
             |FROM supplier a JOIN supplier b
             |  ON a.s_suppkey < b.s_suppkey AND abs(a.s_acctbal - b.s_acctbal) < 1000.0
             |ORDER BY src, dst""".stripMargin)),

    // J6/P5 — equi+theta join, the transfer-candidate shape
    // (ref: main.py:17 — CHANGE edges: equi on stop, theta on time ordering)
    Q("j6_theta_join", "J6,P5",
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n_late
             |FROM lineitem JOIN orders
             |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // J7 — nearest-neighbor top-1 per group (ref: prova.py:189-190 ORDER BY
    // distance LIMIT 1, batched as a window per entity)
    Q("j7_nn_top1_per_group", "J7,W2",
      (s, dir) => {
        // One-pass argmin (r21, guide §2.3 "aggregate before you shuffle",
        // r20 verdict #4): min(struct(l_shipdate, l_linenumber)) is the
        // same lexicographic pick as row_number() OVER (ORDER BY
        // l_shipdate, l_linenumber) = 1 — and every selected column IS a
        // sort key, so tied rows are indistinguishable in the output and
        // the result set is bit-identical (oracle unchanged, re-verified).
        // The window form paid two full sorts (partial + final
        // WindowGroupLimit) around the Exchange; the aggregate form is a
        // partial hash-agg that shuffles ~one row per group and never
        // sorts the data — the shape that scales at 100 TB.
        t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(min(struct(col("l_shipdate"), col("l_linenumber"))).as("m"))
          .select(col("l_orderkey"), col("m.l_linenumber").as("l_linenumber"),
            col("m.l_shipdate").as("l_shipdate"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate FROM (
             |  SELECT l_orderkey, l_linenumber, l_shipdate,
             |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS rn
             |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    // J9 — semi-join (ref: main.py:89-92 collect(id)+unwind membership)
    Q("j9_semi_join", "J9",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // anti-join — complement of J9 (customers with no orders)
    Q("j9_anti_join", "J9",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
             |ORDER BY c_custkey""".stripMargin)),

    // Skew-mitigated equi-join (beyond the reference): deterministic
    // hash-salting spreads hot keys across reducers; the oracle is the
    // PLAIN join — salting must be invisible in the result.
    Q("jx_salted_join", "J-skew",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_quantity"))
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
        graft.operators.SkewJoin.saltedJoin(li, sup, "l_suppkey", "l_orderkey")
          .groupBy("s_name")
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
          .orderBy("s_name")
      },
      Some("""SELECT s_name, count(*) AS n,
             |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_name ORDER BY s_name""".stripMargin)),

    // left outer join — the OPTIONAL MATCH analog (ref: prova.py:211)
    Q("jx_left_outer", "J-opt",
      (s, dir) => {
        val oagg = t(s, dir, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("spend"))
        t(s, dir, "customer")
          .join(oagg, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("n_orders"),
            coalesce(col("spend"), lit(0L)).as("total_spend_cents"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, COALESCE(cnt, 0) AS n_orders,
             |       CAST(COALESCE(spend, 0) AS BIGINT) AS total_spend_cents
             |FROM customer LEFT JOIN (
             |  SELECT o_custkey, count(*) AS cnt,
             |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend
             |  FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // INTERSECT — set semantics (SURVEY §2.7: free from Spark; this row
    // proves the claim under the hash gate). Customers ordering in BOTH
    // the early and the late era (testdata orders span 1995–2001); both
    // engines dedup per set semantics.
    Q("ux_intersect", "U-intersect",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.filter(col("o_orderdate") < lit(java.sql.Date.valueOf("1996-01-01")))
          .select("o_custkey")
          .intersect(
            o.filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("2000-01-01")))
              .select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderdate < DATE '1996-01-01'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '2000-01-01'
             |ORDER BY o_custkey""".stripMargin)),

    // EXCEPT — set-difference twin of ux_intersect: customers none of
    // whose orders crossed 300k (the j9_anti_join predicate re-expressed
    // as set difference; the left side's column name survives in both
    // engines).
    Q("ux_except", "U-except",
      (s, dir) => t(s, dir, "customer").select("c_custkey")
        .except(t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |EXCEPT
             |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0
             |ORDER BY c_custkey""".stripMargin)),

    // A1 — count distinct (ref: main.py:186-191 stops active on a day)
    Q("a1_count_distinct", "A1",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A2 — avg (ref: main.py:193-205 mean service hours per line)
    Q("a2_grouped_avg", "A2",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          avg("l_quantity").as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |       avg(l_quantity) AS avg_qty, count(*) AS n
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A3 — distinct (ref: main.py:64-67)
    Q("a3_distinct", "A3",
      (s, dir) => t(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority").distinct()
        .orderBy("o_orderstatus", "o_orderpriority"),
      Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // A4 — tied arg-min, apoc.agg.minItems semantics: keep ALL rows sharing
    // the group minimum (ref: main.py:17,85,133)
    Q("a4_argmin_ties", "A4,W2",
      (s, dir) => {
        val w = Window.partitionBy("l_orderkey").orderBy("l_shipdate")
        t(s, dir, "lineitem")
          .withColumn("rk", rank().over(w))
          .filter(col("rk") === 1)
          .select("l_orderkey", "l_linenumber", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate FROM (
             |  SELECT l_orderkey, l_linenumber, l_shipdate,
             |         rank() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate) AS rk
             |  FROM lineitem) WHERE rk = 1 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A4 again as the ONE-PASS typed Aggregator (apoc.agg.minItems analog,
    // SURVEY §2.11): same rows as the window form, same oracle — but an
    // O(n) map-side-combinable fold instead of a per-partition sort.
    Q("a4_argmin_onepass", "A4,UDAF",
      (s, dir) => {
        val minItems = udaf(new graft.functions.MinItemsAggregator,
          org.apache.spark.sql.Encoders.product[(Long, Long)])
        t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          // parquet dates are TIMESTAMP_NTZ; session TZ is UTC so the
          // NTZ→TZ→micros round-trip is the identity
          .agg(minItems(unix_micros(col("l_shipdate").cast("timestamp")),
            col("l_linenumber").cast("long")).as("m"))
          .select(col("l_orderkey"), explode(col("m.items")).as("ln"),
            timestamp_micros(col("m.minKey")).cast("timestamp_ntz").as("l_shipdate"))
          .select(col("l_orderkey"), col("ln").cast("int").as("l_linenumber"),
            col("l_shipdate"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate FROM (
             |  SELECT l_orderkey, l_linenumber, l_shipdate,
             |         rank() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate) AS rk
             |  FROM lineitem) WHERE rk = 1 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A5 — tied arg-max (ref: main.py:197 maxItems latest arrival per line)
    Q("a5_argmax_ties", "A5,W2",
      (s, dir) => {
        val w = Window.partitionBy("l_suppkey").orderBy(col("l_shipdate").desc)
        t(s, dir, "lineitem")
          .withColumn("rk", rank().over(w))
          .filter(col("rk") === 1)
          .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate")
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate FROM (
             |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             |         rank() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate DESC) AS rk
             |  FROM lineitem) WHERE rk = 1 ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    // A6/F8 — collect to sorted list (ref: main.py:86-89 collect(...))
    Q("a6_collect_sorted_list", "A6,F8",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("o_orderkey"))), x => x.cast("string")))
          .as("order_ids"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_ids
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // A8 — graph metrics: degree distribution (ref: main.py:29-44
    // gds.graph.list degreeDistribution)
    Q("a8_degree_distribution", "A8",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree"),
      Some("""SELECT degree, count(*) AS n_nodes FROM (
             |  SELECT o_custkey, count(*) AS degree FROM orders GROUP BY o_custkey)
             |GROUP BY degree ORDER BY degree""".stripMargin)),

    // O2/W3 — global top-k (ref: main.py:102,158-159 ORDER BY … LIMIT 1);
    // Spark plans TakeOrderedAndProject — no full sort at scale.
    Q("o2_global_topk", "O2,W3",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // U1 — UNION ALL of two typed subqueries (ref: main.py:17 CHANGE ∪ PRECEDES)
    Q("u1_union_all", "U1",
      (s, dir) => {
        val e = t(s, dir, "events")
        val a = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), lit("purchase").as("kind"), col("value"))
        val b = e.filter(col("event_type") === "signup")
          .select(col("event_id"), lit("signup").as("kind"), col("value"))
        a.unionByName(b).orderBy("event_id", "kind")
      },
      Some("""SELECT event_id, 'purchase' AS kind, value FROM events WHERE event_type = 'purchase'
             |UNION ALL
             |SELECT event_id, 'signup' AS kind, value FROM events WHERE event_type = 'signup'
             |ORDER BY event_id, kind""".stripMargin)),

    // F1/P8 — haversine radius predicate on synthetic coordinates derived
    // from keys (ref: point.distance < radius, new_dbSetup.py:98). Distances
    // rounded to whole km: Neo4j-vs-haversine tolerance is documented in
    // SpatialFunctions; rounding also absorbs libm ULP differences vs DuckDB.
    Q("f1_haversine_radius", "F1,P8,J5",
      (s, dir) => {
        val pts = t(s, dir, "nation").select(col("n_nationkey").as("k"),
          (col("n_nationkey") * 1.7 - 20.0).as("lat"),
          (col("n_regionkey") * 13.0 - 60.0).as("lon"))
        val a = pts.select(col("k").as("k1"), col("lat").as("lat1"), col("lon").as("lon1"))
        val b = pts.select(col("k").as("k2"), col("lat").as("lat2"), col("lon").as("lon2"))
        a.crossJoin(b)
          .filter(col("k1") < col("k2"))
          .withColumn("dist_km",
            round(haversineMeters(col("lat1"), col("lon1"), col("lat2"), col("lon2")) / 1000.0, 0)
              .cast("long"))
          .filter(col("dist_km") < 2000)
          .select("k1", "k2", "dist_km")
          .orderBy("k1", "k2")
      },
      Some("""WITH pts AS (
             |  SELECT n_nationkey AS k, n_nationkey * 1.7 - 20.0 AS lat,
             |         n_regionkey * 13.0 - 60.0 AS lon FROM nation)
             |SELECT a.k AS k1, b.k AS k2,
             |       CAST(round(2 * 6371000.0 * asin(sqrt(
             |         sin(radians(b.lat - a.lat) / 2) ^ 2 +
             |         cos(radians(a.lat)) * cos(radians(b.lat)) * sin(radians(b.lon - a.lon) / 2) ^ 2
             |       )) / 1000.0, 0) AS BIGINT) AS dist_km
             |FROM pts a JOIN pts b ON a.k < b.k
             |WHERE CAST(round(2 * 6371000.0 * asin(sqrt(
             |         sin(radians(b.lat - a.lat) / 2) ^ 2 +
             |         cos(radians(a.lat)) * cos(radians(b.lat)) * sin(radians(b.lon - a.lon) / 2) ^ 2
             |       )) / 1000.0, 0) AS BIGINT) < 2000
             |ORDER BY k1, k2""".stripMargin)),

    // P8 — the scan-prunable radius predicate: withinRadius emits plain
    // lat/lon BETWEEN conjuncts (parquet row-group pruning at scale;
    // FunctionsSpec asserts the PushedFilters) alongside the exact
    // haversine. The ORACLE filters with the exact haversine ONLY — if the
    // derived box ever clipped a true result, this row would hash-mismatch.
    // Thresholds on whole km both sides (ULP-safe); the bbox uses 510 km,
    // a strict superset of every rounded-in point (< 500.5 km).
    Q("p8_bbox_radius", "P8,F1",
      (s, dir) => {
        val pts = t(s, dir, "customer").select(col("c_custkey").as("k"),
          ((col("c_custkey") % 179) - 89.0).as("lat"),
          (((col("c_custkey") * 7) % 359) - 179.5).as("lon"))
        pts.filter(
            graft.functions.SpatialFunctions.withinRadius(
              col("lat"), col("lon"), 40.0, 10.0, 1510000.0) &&
            round(haversineMeters(col("lat"), col("lon"), lit(40.0), lit(10.0)) / 1000.0, 0) < 1500)
          .select("k").orderBy("k")
      },
      Some("""WITH pts AS (
             |  SELECT c_custkey AS k, (c_custkey % 179) - 89.0 AS lat,
             |         ((c_custkey * 7) % 359) - 179.5 AS lon FROM customer)
             |SELECT k FROM pts
             |WHERE round(2 * 6371000.0 * asin(sqrt(
             |        sin(radians(40.0 - lat) / 2) ^ 2 +
             |        cos(radians(lat)) * cos(radians(40.0)) * sin(radians(10.0 - lon) / 2) ^ 2
             |      )) / 1000.0, 0) < 1500
             |ORDER BY k""".stripMargin)),

    // F5/F3 — time-of-day as seconds-since-midnight (ref: SURVEY §7.4 codec).
    // `ts` arrives as long nanos (see Catalog.t); exact integer math, UTC.
    Q("f5_seconds_since_midnight", "F5,F3,P2",
      (s, dir) => t(s, dir, "events")
        .withColumn("secs", expr("(ts div 1000000000) % 86400"))
        .filter(col("secs") >= 43200)
        .select("event_id", "secs")
        .orderBy("event_id"),
      Some("""SELECT event_id, date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
             |       + date_part('second', ts) AS secs
             |FROM events
             |WHERE date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
             |      + date_part('second', ts) >= 43200
             |ORDER BY event_id""".stripMargin)),

    // F8 — explode / sequence (ref: UNWIND range(...), routing.ipynb cell1)
    Q("f8_explode_sequence", "F8,G6",
      (s, dir) => t(s, dir, "supplier")
        .select(col("s_suppkey"),
          explode(sequence(lit(1L), col("s_suppkey") % 3 + 1)).as("n"))
        .orderBy("s_suppkey", "n"),
      Some("""SELECT s_suppkey, unnest(generate_series(1, s_suppkey % 3 + 1)) AS n
             |FROM supplier ORDER BY s_suppkey, n""".stripMargin)),

    // F13 — classification via when/otherwise (ref: main.py:216-237 segment
    // classifier)
    Q("f13_case_classify", "F13",
      (s, dir) => t(s, dir, "events")
        .withColumn("bucket",
          when(col("value") < 50.0, "low")
            .when(col("value") < 150.0, "mid")
            .otherwise("high"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket"),
      Some("""SELECT event_type,
             |  CASE WHEN value < 50.0 THEN 'low' WHEN value < 150.0 THEN 'mid' ELSE 'high' END AS bucket,
             |  count(*) AS n
             |FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin)),

    // ROLLUP grouping sets (beyond the reference — SURVEY §2.4 notes it has
    // none; Spark/DuckDB both provide them natively). NULLS FIRST pinned
    // explicitly: Spark defaults nulls-first ASC, DuckDB nulls-last.
    Q("ax_rollup", "A-rollup",
      (s, dir) => t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // JSON extraction over the events props column (beyond the reference's
    // surface — SURVEY notes it has no JSON functions; the events table
    // carries one, so the engine covers it).
    Q("fx_json_extract", "F-json",
      // tSpread (r21 batch 3): the single-row-group events file scans as
      // ONE partition and the get_json_object parse runs in the scan
      // stage (pre-sort-exchange), i.e. single-core. One hash Exchange
      // of ~2 MB parallelizes the parse; the r20 "spread hurt this row"
      // datum measured the round-robin+sort spread.
      (s, dir) => Catalog.tSpread(s, dir, "events", "event_id")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k").isNotNull && col("k") % 7 === 0)
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
             |FROM events
             |WHERE json_extract_string(props, '$.k') IS NOT NULL
             |  AND CAST(json_extract_string(props, '$.k') AS INTEGER) % 7 = 0
             |ORDER BY event_id""".stripMargin)),

    // F12 — date arithmetic / truncation rollup (ref: main.py:80-81,207-213)
    Q("f12_month_rollup", "F12,A2",
      (s, dir) => t(s, dir, "orders")
        .withColumn("month", to_date(date_trunc("month", col("o_orderdate"))))
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy("month"),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, count(*) AS n_orders,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM orders GROUP BY month ORDER BY month""".stripMargin)),
  )
}
