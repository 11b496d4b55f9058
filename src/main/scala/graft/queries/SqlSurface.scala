package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Cols.{Dec, dsum, dsumSql, djoinSql, ijoinSql}

/** Extended scalar / window / SQL surface (SURVEY.md §2.10 function
  * classes beyond the reference's minimal set, plus subquery shapes) —
  * each suite bundles one function family into a single oracle-checked
  * projection.
  */
object SqlSurface {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // String function family.
    "t11_string_suite" -> { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("u"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_type"), 2, 5).as("sub"),
          length(col("p_name")).as("len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cw"),
          regexp_replace(col("p_type"), "a", "_").as("re"),
          lpad(col("p_brand"), 12, ".").as("lp"),
          reverse(col("p_brand")).as("rv"),
          instr(col("p_type"), "a").as("ins"),
          col("p_type").like("%BRASS%").as("lk"))
        .orderBy("p_partkey")
    },
    // Math function family (floor/ceil cast to double: Spark returns
    // LONG, DuckDB DOUBLE).
    "t12_math_suite" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(-col("l_quantity")).as("ab"),
          floor(col("l_extendedprice")).cast("double").as("fl"),
          ceil(col("l_extendedprice")).cast("double").as("ce"),
          round(col("l_extendedprice"), 1).as("ro"),
          sqrt(col("l_quantity")).as("sq"),
          pow(col("l_quantity"), 2.0).as("pw"),
          pmod(col("l_orderkey"), lit(7)).as("md"),
          sign(col("l_discount") - 0.05).as("sg"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    // Conditionals: CASE/coalesce/nullif/greatest/least.
    "t13_conditional_suite" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") > 25, "big")
            .when(col("l_quantity") > 10, "mid")
            .otherwise("small").as("bucket"),
          coalesce(lit(null).cast("string"), col("l_returnflag")).as("co"),
          nullif(col("l_linestatus"), lit("O")).as("nf"),
          greatest(col("l_tax"), col("l_discount")).as("gr"),
          least(col("l_tax"), col("l_discount")).as("le"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    // Array function family over constructed arrays. Array-typed outputs
    // are serialized via Cols.djoin — the driver's comparator cannot hash
    // raw array cells (round-2 gate errors on t14/t18/t19/n3). COVERAGE
    // NOTE: the hash gate therefore verifies the string rendering, not
    // array-typed delivery itself; ArraySurfaceSpec closes that gap by
    // asserting the pre-join values and element types of every array
    // column these suites produce.
    "t14_array_suite" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .withColumn("arr", array(col("l_quantity"), col("l_tax"), col("l_discount")))
        .select(col("l_orderkey"), col("l_linenumber"),
          array_contains(col("arr"), col("l_tax")).as("ac"),
          size(col("arr")).as("sz"),
          graft.Cols.djoin(slice(col("arr"), 1, 2)).as("sl"),
          graft.Cols.djoin(sort_array(col("arr"))).as("so"),
          array_max(col("arr")).as("am"),
          array_min(col("arr")).as("amin"),
          array_position(col("arr"), col("l_discount")).as("ap"),
          graft.Cols.djoin(flatten(array(col("arr"), array(col("l_quantity"))))).as("fl"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    // Ranking window family.
    "w6_ranking_suite" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("nt"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    },
    // GROUPING SETS + grouping() marker.
    "a8_grouping_sets" -> { (s, d) =>
      val o = Tables.orders(s, d)
      o.createOrReplaceTempView("orders_gs")
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority,
           |  grouping(o_orderstatus) AS g_status, count(*) AS n,
           |  ${dsumSql("o_totalprice")} AS sum_price
           |FROM orders_gs
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    },
    // LIMIT + OFFSET pagination.
    "o3_offset" -> { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(10)
        .limit(5)
    },
    // Explode of an array of structs (inline-shaped generator).
    "f3_inline_structs" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(array(
          struct(lit("hdr").as("w"), lit(1).as("n")),
          struct(col("source").as("w"), lit(2).as("n")))).as("u"))
        .select(col("doc_id"), col("u.w").as("w"), col("u.n").as("n"))
        .orderBy("doc_id", "n")
    },
    // Correlated EXISTS + scalar subquery through the SQL entry point.
    "q3_subqueries" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_sq")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_sq")
      s.sql(
        """SELECT o_orderkey, o_totalprice,
          |  (SELECT CAST(max(l_linenumber) AS BIGINT) FROM lineitem_sq
          |   WHERE l_orderkey = o_orderkey) AS max_line
          |FROM orders_sq o
          |WHERE EXISTS (SELECT 1 FROM lineitem_sq
          |  WHERE l_orderkey = o.o_orderkey AND l_quantity > 45)
          |ORDER BY o_orderkey""".stripMargin)
    },
    // Exact interpolated percentiles (multi-quantile in one pass).
    // Cross-engine safety: l_quantity is integer-valued (verified) and
    // the quantile fractions are exact binary (k/4), so the linear
    // interpolation a + (b−a)·f is exact regardless of which algebraic
    // form each engine uses — no rounding guard needed.
    "a12_percentiles" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_pc")
      s.sql(
        """SELECT l_returnflag,
          |  percentile(l_quantity, 0.25) AS q1,
          |  percentile(l_quantity, 0.5)  AS med,
          |  percentile(l_quantity, 0.75) AS q3
          |FROM lineitem_pc
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },
    // SQL-standard FILTER clause on aggregates — per-group conditional
    // aggregation without CASE scaffolding; plans as a single
    // partial-aggregable pass.
    "a11_filter_clause" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_fc")
      s.sql(
        s"""SELECT l_returnflag,
           |  COUNT(*) AS n_all,
           |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
           |    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS discounted_revenue,
           |  COUNT(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04) AS taxed_suppliers
           |FROM lineitem_fc
           |GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin)
    },
    // Recursive CTE (Spark 4's WITH RECURSIVE): enumerate the archive's
    // 128 checkpoint sequences from FIRST_FILE at the reference's
    // stride-64 cadence (the S1 planning recursion, Archive.nextSeq
    // applied 127 times), render each as the 8-hex name + nibble-pair
    // directory fan-out (the t8 machinery), and bucket-count orders per
    // checkpoint span. The recursion itself is bounded planning state
    // (128 one-row steps); the corpus-shaped work is one equi-join on
    // the derived bucket + a combinable count — at any scale the tiny
    // recursive dim broadcasts.
    "q6_recursive_cte" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_rc")
      s.sql(
        """WITH RECURSIVE ck(seq) MAX RECURSION LEVEL 200 AS (
          |  SELECT 63
          |  UNION ALL
          |  SELECT seq + 64 FROM ck WHERE seq + 64 <= 63 + 64 * 127
          |)
          |SELECT CAST(seq AS BIGINT) AS seq,
          |  lower(lpad(hex(seq), 8, '0')) AS ckpt,
          |  concat_ws('/',
          |    substring(lower(lpad(hex(seq), 8, '0')), 1, 2),
          |    substring(lower(lpad(hex(seq), 8, '0')), 3, 2),
          |    substring(lower(lpad(hex(seq), 8, '0')), 5, 2)) AS dir,
          |  CAST(count(o_orderkey) AS BIGINT) AS n_orders
          |FROM ck LEFT JOIN orders_rc
          |  ON (o_orderkey % 8192) DIV 64 * 64 + 63 = ck.seq
          |GROUP BY seq
          |ORDER BY seq""".stripMargin)
    },
    // Correlated LATERAL subquery with per-row LIMIT — top-2 lineitems
    // per order, the "top-N per group via lateral" idiom. Catalyst
    // decorrelates the limit into a per-key window under a regular join,
    // so it plans as the w1/o2 shapes at scale, not per-row probes.
    "q5_lateral" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_lt")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_lt")
      s.sql(
        """SELECT o_orderkey, l.l_linenumber, l.l_quantity
          |FROM orders_lt o,
          |LATERAL (SELECT l_linenumber, l_quantity FROM lineitem_lt
          |  WHERE l_orderkey = o.o_orderkey
          |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
          |WHERE o_orderkey < 500
          |ORDER BY o_orderkey, l_linenumber""".stripMargin)
    },
    // Unpivot/melt — the inverse of a9's pivot: wide measure columns to
    // long (metric, val) rows. Narrow per-row transform (Spark plans an
    // Expand), no shuffle.
    "f5_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_tax"), col("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },
    // Bitwise expression + aggregate family over the integer keys.
    "t20_bitwise_suite" -> { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(col("o_custkey"))).as("band"),
          (col("o_orderkey").bitwiseOR(col("o_custkey"))).as("bor"),
          (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("bxor"),
          shiftleft(col("o_orderkey"), 3).as("shl"),
          shiftright(col("o_orderkey"), 2).as("shr"))
        .orderBy("o_orderkey")
    },
    // VARIANT (Spark 4's semi-structured type): parse the JSON props
    // payload once, extract a typed path, and re-render canonical JSON.
    // variant_get is a codegen'd path access over the binary variant
    // encoding — at scale this replaces per-query string re-parsing
    // (get_json_object) with parse-once-read-many. Spark's VARIANT
    // render orders object keys lexicographically (pinned on a
    // multi-key literal in FunctionsSpec), so the oracle rebuilds its
    // render from key-sorted json_keys rather than DuckDB's
    // insertion-ordered json() — the compare no longer leans on the
    // testdata's single-key props contract.
    "t21_variant_suite" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events_vr")
      s.sql(
        """SELECT event_id,
          |  CAST(variant_get(parse_json(props), '$.k', 'int') AS BIGINT) AS k,
          |  to_json(parse_json(props)) AS canon,
          |  CAST(variant_get(parse_json(props), '$.missing', 'int') AS BIGINT) AS absent
          |FROM events_vr WHERE event_id % 41 = 0 ORDER BY event_id""".stripMargin)
    },
    // SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... RETURN):
    // the reference's quark→KIN conversion (RAW / 1e5, python/main.py's
    // amount handling) as a declared catalog function instead of an
    // inlined expression — Catalyst inlines the body at plan time, so
    // the UDF costs nothing at scale (no serialization boundary, unlike
    // JVM/Python UDFs). CREATE OR REPLACE keeps repeated runs in one
    // session idempotent; the DuckDB oracle inlines the same bodies.
    "t22_sql_udf" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_uf")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION kin_amount(q BIGINT) " +
        "RETURNS DOUBLE RETURN q / 100000.0")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION clamp01(x DOUBLE) " +
        "RETURNS DOUBLE RETURN least(greatest(x, 0.0D), 1.0D)")
      s.sql(
        """SELECT o_orderkey,
          |  kin_amount(CAST(o_orderkey AS BIGINT) * 12345) AS kin,
          |  clamp01(CAST(o_orderkey % 200 AS DOUBLE) / 100.0) AS ratio
          |FROM orders_uf WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""".stripMargin)
    },
    // SQL pipe syntax (Spark 4 |> operators): the a1 pricing-summary
    // shape written as a linear pipeline — same Catalyst plan as the
    // nested spelling (one partial+final aggregate, pushed filter), so
    // the surface is free; the oracle is the standard-SQL equivalent.
    "q7_pipe_syntax" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_pp")
      s.sql(
        """FROM lineitem_pp
          ||> WHERE l_quantity > 45.0D
          ||> AGGREGATE COUNT(*) AS n,
          |     CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
          |   GROUP BY l_returnflag
          ||> ORDER BY l_returnflag""".stripMargin)
    },
    // Correlated-subquery family beyond q3: NOT EXISTS (anti), IN
    // (semi), and a correlated scalar aggregate — Catalyst decorrelates
    // all three into joins (anti/semi/aggregated-left), so at 100 TB
    // they plan as the j5/j6 shapes, not per-row probes.
    "q4_correlated" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer_cq")
      Tables.orders(s, d).createOrReplaceTempView("orders_cq")
      Tables.nation(s, d).createOrReplaceTempView("nation_cq")
      s.sql(
        """SELECT c_custkey, c_acctbal, c_nationkey
          |FROM customer_cq c
          |WHERE NOT EXISTS (SELECT 1 FROM orders_cq
          |    WHERE o_custkey = c.c_custkey AND o_orderpriority = '1-URGENT')
          |  AND c_nationkey IN (SELECT n_nationkey FROM nation_cq WHERE n_regionkey <= 2)
          |  AND c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
          |      / CAST(COUNT(c2.c_acctbal) AS DOUBLE)
          |    FROM customer_cq c2 WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },
    // Event-time RANGE window frame: per-user rolling 1-hour sums — the
    // frame is defined by the ORDER BY value (timestamp interval), not
    // row counts, so ties and gaps behave identically in both engines.
    "w8_range_interval" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events_rw")
      s.sql(
        """SELECT event_id, user_id, ts,
          |  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS rolling_sum,
          |  COUNT(*) OVER w AS rolling_n
          |FROM events_rw
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)
    },
    // Funnel conversion — ordered-sequence analytics over the event
    // stream: per signed-up user, the first purchase within one hour of
    // the FIRST signup. The purchase leg joins user-keyed (shuffle on
    // the natural key) and the time predicate evaluates post-join — a
    // funnel is a keyed range join, never a corpus self-product.
    "w9_funnel" -> { (s, d) =>
      val e = Tables.events(s, d)
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("first_signup"))
      val pu = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
      su.join(pu, Seq("user_id"), "left")
        .withColumn("conv_ts",
          when(col("pts") >= col("first_signup") &&
            col("pts") <= col("first_signup") + expr("INTERVAL 1 HOUR"), col("pts")))
        .groupBy("user_id", "first_signup")
        .agg(min(col("conv_ts")).as("first_purchase"))
        .withColumn("converted", col("first_purchase").isNotNull)
        .orderBy("user_id")
    },
    // Retention cohorts — the standard event-telemetry rollup: users
    // cohorted by first-touch day, activity counted per (cohort, day
    // offset), retention as the active fraction of the cohort. Two
    // corpus-shaped aggs (first-touch per user; distinct user-day —
    // both map-side-combinable two-level aggregates), then everything
    // is cohort×offset-sized: the cohort-size table broadcasts back.
    // At 100 TB this is the shape that works: no window over the full
    // event stream, no self-join of events against events — the only
    // user-keyed join carries one row per user-day.
    "w10_retention_cohorts" -> { (s, d) =>
      val e = Tables.events(s, d)
      val firstDay = e.groupBy("user_id")
        .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
      val activeDay = e.select(col("user_id"),
        date_trunc("day", col("ts")).as("active_day")).distinct()
      val cohortN = firstDay.groupBy("cohort_day").agg(count(lit(1)).as("cohort_n"))
      firstDay.join(activeDay, "user_id")
        .withColumn("day_offset", datediff(col("active_day"), col("cohort_day")).cast("long"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(cohortN), "cohort_day")
        .withColumn("retention",
          col("n_active").cast("double") / col("cohort_n").cast("double"))
        .select("cohort_day", "day_offset", "n_active", "cohort_n", "retention")
        .orderBy("cohort_day", "day_offset")
    },
    // SCD2 interval build — reconstruct slowly-changing-dimension
    // validity windows from the raw event log: collapse each user's
    // stream to its state CHANGE points (lag over the user partition),
    // then close every version with the next change's start (lead) —
    // the open version has valid_to NULL. The warehouse op that turns
    // an append-only log into an as-of-joinable dimension (j8's asof
    // join is the consumer side of exactly this table). Both windows
    // partition by user_id — no global window, no self-join; at 100 TB
    // this is one shuffle on the natural key and two linear passes.
    "w11_scd2_intervals" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val chg = Tables.events(s, d)
        .withColumn("prev_state", lag(col("event_type"), 1).over(w))
        .filter(!(col("prev_state") <=> col("event_type")))
      chg.select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("event_id"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))))
        .withColumn("version", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))).cast("long"))
        .withColumn("is_current", col("valid_to").isNull)
        .select("user_id", "version", "state", "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "version")
    },
    // Hash function family (S4's sha-256 + the md5 the dedup keys use).
    "t15_hash_suite" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          md5(col("text")).as("h_md5"),
          sha2(col("text"), 256).as("h_sha256"),
          sha2(concat(col("source"), lit("|"), col("lang")), 256).as("h_keyed"))
        .orderBy("doc_id")
    },
    // Datetime function family.
    "t16_datetime_suite" -> { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofyear(col("o_orderdate")).as("doy"),
          weekday(col("o_orderdate")).as("wd"),
          date_trunc("month", col("o_orderdate")).as("trunc_m"),
          last_day(col("o_orderdate")).as("ld"),
          datediff(to_timestamp(lit("2002-01-01")), col("o_orderdate")).as("days_to"))
        .orderBy("o_orderkey")
    },
    // JSON family: parse (from_json), extract, serialize (to_json).
    "t17_json_suite" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") % 101 === 0)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"),
          to_json(struct(col("event_id").as("id"), col("event_type").as("t"))).as("j"))
        .orderBy("event_id")
    },
    // Pivot (wide conditional aggregation).
    "a9_pivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")))
        .orderBy("l_returnflag")
    },
    // Higher-order array function family (lambdas stay declarative).
    "t18_higher_order_suite" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 50)
        .withColumn("n", col("l_linenumber").cast("int"))
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.Cols.ijoin(transform(sequence(lit(1), col("n")), x => x * 2)).as("t"),
          graft.Cols.ijoin(filter(sequence(lit(1), lit(6)), x => x % 2 === 0)).as("f"),
          exists(sequence(lit(1), lit(6)), x => x === col("n")).as("e"),
          forall(sequence(lit(1), lit(6)), x => x > 0).as("fa"),
          aggregate(sequence(lit(1), col("n")), lit(0), (a, x) => a + x).as("red"),
          graft.Cols.ijoin(zip_with(sequence(lit(1), lit(3)), sequence(lit(4), lit(6)), (a, b) => a * b)).as("zw"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    // Map type construction/inspection (scalars + arrays out, so the
    // parquet/oracle compare stays engine-neutral).
    "t19_map_suite" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 50)
        .withColumn("m", map(lit("q"), col("l_quantity"), lit("d"), col("l_discount")))
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.Cols.sjoin(map_keys(col("m"))).as("mk"),
          graft.Cols.djoin(map_values(col("m"))).as("mv"),
          col("m")(lit("q")).as("mq"),
          size(col("m")).as("ms"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    // TPC-H Q3-shaped composite: selective dims, fact join, grouped
    // revenue, top-10 by (revenue desc, date) — join + agg + top-k in one.
    "j10_shipping_priority" -> { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
    // TPC-H Q5-shaped composite: local supplier volume — the fact table
    // flows through FOUR chained broadcast dims (customer, supplier with
    // the local-supplier same-nation predicate, nation, region) plus one
    // fact-fact join, then a single grouped decimal-exact revenue agg.
    // At 100 TB every dim still broadcasts (region/nation are tiny;
    // customer/supplier are filter-reduced) — the only shuffles are the
    // lineitem-orders join and the final 5-row aggregate.
    "j11_local_supplier_volume" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup),
          li("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    // TPC-H Q10-shaped composite: returned-item revenue by customer —
    // date-windowed orders join the returned lineitem slice (the one big
    // fact-fact shuffle), then the grouped revenue re-keys by customer
    // (second shuffle, already order-granular) with the nation dim
    // broadcast; top-20 via TakeOrderedAndProject. The returnflag and
    // date predicates push into the parquet scans.
    "j12_returned_items" -> { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    // TPC-H Q8-shaped composite: one nation's market share of the ECONOMY
    // part volume sold to AMERICA-region customers, by order year — the
    // widest join tree in the inventory (lineitem × 6 dims + orders).
    // part (1/6 selective) and all dims broadcast; the only shuffles are
    // the two fact-side joins (orders, customer) and the year rollup.
    // The share is a conditional decimal-exact sum over the same rows as
    // the denominator — one pass, no self-join.
    "j13_market_share" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val c = Tables.customer(s, d)
      val cn = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_rkey"))
      val r = Tables.region(s, d).filter(col("r_name") === "AMERICA")
      val sup = Tables.supplier(s, d)
      val sn = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .join(broadcast(r), col("cn_rkey") === col("r_regionkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          (dsum(when(col("supp_nation") === "NATION_7", vol).otherwise(lit(0.0))) /
            dsum(vol)).as("mkt_share"),
          dsum(vol).as("volume"))
        .orderBy("o_year")
    },
    // Cartesian product of two tiny dims.
    "j9_cross_join" -> { (s, d) =>
      val r = Tables.region(s, d)
      val st = Tables.orders(s, d).select(col("o_orderstatus")).distinct()
      r.crossJoin(st)
        .select(col("r_name"), col("o_orderstatus"))
        .orderBy("r_name", "o_orderstatus")
    },
    // TPC-H Q7-shaped composite: bilateral shipping volume between two
    // nations by ship year — the same-table-twice join pattern (nation
    // as supplier side AND customer side). Both nation dims + supplier
    // broadcast; the shuffles are the two fact-side joins. The
    // directional pair filter ((A→B) ∨ (B→A)) runs AFTER the broadcast
    // joins resolve names, so it prunes before the rollup.
    "j14_volume_shipping" -> { (s, d) =>
      val (na, nb) = ("NATION_3", "NATION_7")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val sn = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val cn = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
          (col("supp_nation") === nb && col("cust_nation") === na))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    // TPC-H Q18 shape (large-volume customers): HAVING over a fact
    // aggregate, then the surviving key set drives the join back to the
    // dimensions. The scale point: the filtered key set is tiny (the
    // whole reason for HAVING), so it BROADCASTS into orders — the
    // pattern where a naive plan shuffle-joins the full fact twice. The
    // lineitem agg itself is map-side combinable (partial sums per
    // orderkey before the one fact shuffle).
    "j15_big_orders" -> { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      Tables.orders(s, d)
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_name")), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
    // Calendar gap fill + LOCF — the time-series densification every
    // warehouse needs before daily reporting: each user's day-grid from
    // their first to last active day (sequence + narrow explode, bounded
    // by the span), left-joined to the per-day closing state, nulls
    // forward-filled with last_value(ignoreNulls) over the user
    // partition. One shuffle on user_id; no self-join, no global
    // window; the fill state is a single running value per user.
    "w12_gap_fill" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val wDay = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val daily = ev.withColumn("rn", row_number().over(wDay))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day"), col("event_type").as("state"))
      val span = ev.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val grid = span.select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val wFill = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("filled_state", last(col("state"), ignoreNulls = true).over(wFill))
        .withColumn("is_filled", col("state").isNull)
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("filled_state"), col("is_filled"))
        .orderBy("user_id", "day")
    },
    // Markov transition matrix over the event stream — the sequence-
    // mining primitive behind session-flow and next-action analysis:
    // adjacent (type → next type) pairs per user via ONE lead window on
    // the user key, then a combinable count agg whose output is only
    // |types|² rows, so the normalizing window (probability per source
    // type) runs over a handful of rows, never the stream.
    "w13_event_transitions" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("cnt"))
      val wf = Window.partitionBy("from_type")
      pairs
        .withColumn("p", col("cnt").cast("double") / sum(col("cnt")).over(wf).cast("double"))
        .orderBy("from_type", "to_type")
    },
    // Rolling z-score anomaly detection — the monitoring primitive over
    // an event stream: each event scored against ITS OWN user's trailing
    // 8-event window (mean/variance from exact decimal frame sums —
    // order-independent, so the score is reproducible), |z| > 2.5
    // flagged. One shuffle on the user key, no self-join; the frame
    // carries 8 rows of state per event regardless of corpus size. The
    // a10 moment ladder applied to a window frame: decimal sums
    // recombined in double with the identical expression tree on both
    // engines, sqrt-derived z rounded to 9 (libm-vs-IEEE 1-ulp class).
    "w14_anomaly_zscore" -> { (s, d) =>
      graft.operators.EventAnalytics.anomalyZscores(
        Tables.events(s, d), "user_id", "value",
        Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("user_id"), col("value"),
          round(col("mu"), 9).as("mu"), round(col("z"), 9).as("z"))
        .orderBy("event_id")
    },
    // Rolling MEDIAN + MAD robust outlier detection — w14's z-score
    // breaks exactly when it matters (a single spike inflates the
    // trailing mean AND variance, masking itself); the median/MAD pair
    // is the standard robust alternative. Each event carries its user's
    // trailing 7-value frame as a sorted array (collect_list over a
    // rows-frame window — 7 doubles of state per row at any corpus
    // size), median and MAD read by explicit index arithmetic (integer
    // div, 1-based element_at — the even case averages the two middles
    // with one add + one div, IEEE-identical cross-engine; no libm, so
    // no rounding guard needed anywhere). One shuffle on the user key,
    // no self-join; the 3·1.4826·MAD cut is the textbook ~3σ-equivalent
    // consistency threshold, spelled with identical literal order in
    // both engines, and a zero-MAD frame (constant values) never flags.
    "w15_rolling_median" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      Tables.events(s, d)
        .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
        .withColumn("n_window", size(col("arr")))
        .withColumn("roll_med", expr(
          """CASE WHEN n_window % 2 = 1
            |  THEN element_at(arr, CAST((n_window + 1) div 2 AS INT))
            |ELSE (element_at(arr, CAST(n_window div 2 AS INT)) +
            |      element_at(arr, CAST(n_window div 2 + 1 AS INT))) / 2.0 END""".stripMargin))
        .withColumn("devs", expr("sort_array(transform(arr, x -> abs(x - roll_med)))"))
        .withColumn("roll_mad", expr(
          """CASE WHEN n_window % 2 = 1
            |  THEN element_at(devs, CAST((n_window + 1) div 2 AS INT))
            |ELSE (element_at(devs, CAST(n_window div 2 AS INT)) +
            |      element_at(devs, CAST(n_window div 2 + 1 AS INT))) / 2.0 END""".stripMargin))
        .withColumn("is_outlier",
          col("roll_mad") > 0.0 &&
            abs(col("value") - col("roll_med")) > lit(3.0) * lit(1.4826) * col("roll_mad"))
        .select("event_id", "user_id", "value", "n_window",
          "roll_med", "roll_mad", "is_outlier")
        .orderBy("event_id")
    },
    // Keyset (seek) pagination — the serving-scale alternative to o3's
    // OFFSET: the predicate pushes to the scan and the page costs
    // O(page), where OFFSET n scans-and-discards O(n) rows and gets
    // linearly slower page by page. The pagination pattern a serving
    // tier should ship at any scale.
    "o5_keyset_pagination" -> { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") > 500)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(10)
    }
  )

  def oracles: Map[String, String] = Map(
    "t11_string_suite" ->
      """SELECT p_partkey, upper(p_name) AS u, lower(p_brand) AS lo,
        |  substr(p_type, 2, 5) AS sub, length(p_name) AS len,
        |  concat_ws('|', p_brand, p_type) AS cw,
        |  regexp_replace(p_type, 'a', '_', 'g') AS re,
        |  lpad(p_brand, 12, '.') AS lp, reverse(p_brand) AS rv,
        |  instr(p_type, 'a') AS ins, (p_type LIKE '%BRASS%') AS lk
        |FROM part ORDER BY p_partkey""".stripMargin,
    "t12_math_suite" ->
      """SELECT l_orderkey, l_linenumber, abs(-l_quantity) AS ab,
        |  floor(l_extendedprice) AS fl, ceil(l_extendedprice) AS ce,
        |  round(l_extendedprice, 1) AS ro, sqrt(l_quantity) AS sq,
        |  power(l_quantity, 2.0) AS pw, l_orderkey % 7 AS md,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg
        |FROM lineitem WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t13_conditional_suite" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity > 25 THEN 'big'
        |       WHEN l_quantity > 10 THEN 'mid' ELSE 'small' END AS bucket,
        |  coalesce(CAST(NULL AS VARCHAR), l_returnflag) AS co,
        |  nullif(l_linestatus, 'O') AS nf,
        |  greatest(l_tax, l_discount) AS gr, least(l_tax, l_discount) AS le
        |FROM lineitem WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t14_array_suite" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  list_contains([l_quantity, l_tax, l_discount], l_tax) AS ac,
         |  CAST(len([l_quantity, l_tax, l_discount]) AS INT) AS sz,
         |  ${djoinSql("([l_quantity, l_tax, l_discount])[1:2]")} AS sl,
         |  ${djoinSql("list_sort([l_quantity, l_tax, l_discount])")} AS so,
         |  list_max([l_quantity, l_tax, l_discount]) AS am,
         |  list_min([l_quantity, l_tax, l_discount]) AS amin,
         |  CAST(list_position([l_quantity, l_tax, l_discount], l_discount) AS BIGINT) AS ap,
         |  ${djoinSql("flatten([[l_quantity, l_tax, l_discount], [l_quantity]])")} AS fl
         |FROM lineitem WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "w6_ranking_suite" ->
      """SELECT o_orderkey, rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS nt, percent_rank() OVER w AS prnk, cume_dist() OVER w AS cd
        |FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "a8_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(grouping(o_orderstatus) AS INT) AS g_status, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "o3_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 5 OFFSET 10""".stripMargin,
    "f3_inline_structs" ->
      """SELECT doc_id, u.w AS w, u.n AS n FROM (
        |  SELECT doc_id, unnest([{'w': 'hdr', 'n': 1}, {'w': source, 'n': 2}]) AS u
        |  FROM documents WHERE doc_id < 50)
        |ORDER BY doc_id, n""".stripMargin,
    "q3_subqueries" ->
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT CAST(max(l_linenumber) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS max_line
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey AND l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    "a12_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q1,
        |  quantile_cont(l_quantity, 0.5)  AS med,
        |  quantile_cont(l_quantity, 0.75) AS q3
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "a11_filter_clause" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n_all,
        |  CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
        |    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS discounted_revenue,
        |  CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04) AS BIGINT) AS taxed_suppliers
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q5_lateral" ->
      """SELECT o_orderkey, l.l_linenumber, l.l_quantity
        |FROM orders o,
        |LATERAL (SELECT l_linenumber, l_quantity FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
        |WHERE o_orderkey < 500
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    // Same recursion; DuckDB integer division is //, hex via to_hex.
    "q6_recursive_cte" ->
      """WITH RECURSIVE ck(seq) AS (
        |  SELECT 63
        |  UNION ALL
        |  SELECT seq + 64 FROM ck WHERE seq + 64 <= 63 + 64 * 127
        |)
        |SELECT CAST(seq AS BIGINT) AS seq,
        |  lower(lpad(to_hex(seq), 8, '0')) AS ckpt,
        |  concat_ws('/',
        |    substr(lower(lpad(to_hex(seq), 8, '0')), 1, 2),
        |    substr(lower(lpad(to_hex(seq), 8, '0')), 3, 2),
        |    substr(lower(lpad(to_hex(seq), 8, '0')), 5, 2)) AS dir,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM ck LEFT JOIN orders
        |  ON (o_orderkey % 8192) // 64 * 64 + 63 = ck.seq
        |GROUP BY seq
        |ORDER BY seq""".stripMargin,
    "f5_unpivot" -> {
      val arms = Seq("l_quantity", "l_tax", "l_discount").map(m =>
        s"""SELECT l_orderkey, l_linenumber, '$m' AS metric, CAST($m AS DOUBLE) AS val
           |FROM lineitem WHERE l_orderkey < 100""".stripMargin)
      arms.mkString("", "\nUNION ALL\n", "\nORDER BY l_orderkey, l_linenumber, metric")
    },
    "t20_bitwise_suite" ->
      """SELECT o_orderkey,
        |  o_orderkey & o_custkey AS band,
        |  o_orderkey | o_custkey AS bor,
        |  xor(o_orderkey, o_custkey) AS bxor,
        |  o_orderkey << 3 AS shl,
        |  o_orderkey >> 2 AS shr
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,
    // canon is rebuilt KEY-SORTED (list_sort over json_keys) because
    // Spark's VARIANT render orders object keys lexicographically while
    // DuckDB's json() preserves insertion order — identical output on
    // single-key payloads, and robust to multi-key ones. CAST(props->k
    // AS VARCHAR) renders each value with json()'s compact spacing;
    // keys are assumed JSON-safe identifiers (the events schema), and
    // nested objects — none in events — would need the sort applied
    // recursively. A missing path yields NULL in both engines. The
    // object-rebuild applies ONLY to objects: NULL props pass through
    // as NULL and a non-object payload (array/scalar) renders via
    // plain json(), both matching Spark's to_json(parse_json(...)) —
    // without the CASE, either would come out as a spurious '{}'
    // (r12 review).
    "t21_variant_suite" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CASE WHEN props IS NULL THEN NULL
        |       WHEN json_type(props) <> 'OBJECT' THEN CAST(json(props) AS VARCHAR)
        |       ELSE '{' || coalesce(array_to_string(list_transform(
        |           list_sort(json_keys(props)),
        |           k -> '"' || k || '":' || CAST(props->k AS VARCHAR)), ','), '')
        |         || '}' END AS canon,
        |  CAST(json_extract(props, '$.missing') AS BIGINT) AS absent
        |FROM events WHERE event_id % 41 = 0 ORDER BY event_id""".stripMargin,
    // the SQL-UDF bodies inlined: IEEE double division and least/greatest
    // are per-row deterministic and engine-identical
    "t22_sql_udf" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderkey AS BIGINT) * 12345 / 100000.0 AS DOUBLE) AS kin,
        |  least(greatest(CAST(o_orderkey % 200 AS DOUBLE) / 100.0, 0.0), 1.0) AS ratio
        |FROM orders WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""".stripMargin,
    // standard-SQL spelling of the pipe query
    "q7_pipe_syntax" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_quantity > 45.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q4_correlated" ->
      """SELECT c_custkey, c_acctbal, c_nationkey
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c.c_custkey AND o_orderpriority = '1-URGENT')
        |  AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
        |  AND c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
        |      / CAST(COUNT(c2.c_acctbal) AS DOUBLE)
        |    FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "w8_range_interval" ->
      """SELECT event_id, user_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS rolling_sum,
        |  COUNT(*) OVER w AS rolling_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "w9_funnel" ->
      """WITH su AS (SELECT user_id, min(ts) AS first_signup
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT su.user_id, su.first_signup,
        |    CASE WHEN pu.pts >= su.first_signup
        |      AND pu.pts <= su.first_signup + INTERVAL 1 HOUR THEN pu.pts END AS conv_ts
        |  FROM su LEFT JOIN pu USING (user_id))
        |SELECT user_id, first_signup, min(conv_ts) AS first_purchase,
        |  (min(conv_ts) IS NOT NULL) AS converted
        |FROM j GROUP BY user_id, first_signup ORDER BY user_id""".stripMargin,
    "w10_retention_cohorts" ->
      """WITH fd AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        |  FROM events GROUP BY user_id),
        |ad AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events),
        |co AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_n
        |  FROM fd GROUP BY cohort_day),
        |r AS (SELECT f.cohort_day,
        |    CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT) AS day_offset,
        |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        |  FROM fd f JOIN ad a USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(r.cohort_day AS TIMESTAMP) AS cohort_day, day_offset, n_active,
        |  cohort_n, CAST(n_active AS DOUBLE) / CAST(cohort_n AS DOUBLE) AS retention
        |FROM r JOIN co USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "w11_scd2_intervals" ->
      """WITH chg AS (
        |  SELECT user_id, event_type AS state, ts AS valid_from, event_id
        |  FROM (SELECT user_id, event_type, ts, event_id,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        |    FROM events)
        |  WHERE prev_state IS DISTINCT FROM event_type)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  state, valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  (lead(valid_from) OVER w IS NULL) AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "t15_hash_suite" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256,
        |  sha256(source || '|' || lang) AS h_keyed
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "t16_datetime_suite" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |  CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS trunc_m,
        |  CAST(last_day(o_orderdate) AS DATE) AS ld,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INT) AS days_to
        |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""".stripMargin,
    "t17_json_suite" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k,
        |  to_json({'id': event_id, 't': event_type}) AS j
        |FROM events WHERE event_id % 101 = 0 ORDER BY event_id""".stripMargin,
    "a9_pivot" ->
      s"""SELECT l_returnflag,
         |  ${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
         |  ${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "t18_higher_order_suite" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${ijoinSql("list_transform(generate_series(1, CAST(l_linenumber AS INT)), x -> x * 2)")} AS t,
         |  ${ijoinSql("list_filter(generate_series(1, 6), x -> x % 2 = 0)")} AS f,
         |  list_contains(generate_series(1, 6), CAST(l_linenumber AS INT)) AS e,
         |  true AS fa,
         |  list_reduce(list_prepend(0, generate_series(1, CAST(l_linenumber AS INT))),
         |    (a, x) -> a + x) AS red,
         |  ${ijoinSql("list_transform(list_zip(generate_series(1, 3), generate_series(4, 6)), z -> z[1] * z[2])")} AS zw
         |FROM lineitem WHERE l_orderkey < 50 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t19_map_suite" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  array_to_string(map_keys(MAP {'q': l_quantity, 'd': l_discount}), ',') AS mk,
         |  ${djoinSql("map_values(MAP {'q': l_quantity, 'd': l_discount})")} AS mv,
         |  (MAP {'q': l_quantity, 'd': l_discount})['q'][1] AS mq,
         |  CAST(cardinality(MAP {'q': l_quantity, 'd': l_discount}) AS INT) AS ms
         |FROM lineitem WHERE l_orderkey < 50 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "j10_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${dsumSql("(l_extendedprice * (1.0 - l_discount))")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "j12_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ${dsumSql("(l_extendedprice * (1.0 - l_discount))")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "j13_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  ${dsumSql("(CASE WHEN sn.n_name = 'NATION_7' " +
             "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)")} /
         |  ${dsumSql("(l_extendedprice * (1.0 - l_discount))")} AS mkt_share,
         |  ${dsumSql("(l_extendedprice * (1.0 - l_discount))")} AS volume
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
         |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "j11_local_supplier_volume" ->
      s"""SELECT n_name, ${dsumSql("(l_extendedprice * (1.0 - l_discount))")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "j9_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
        |ORDER BY r_name, o_orderstatus""".stripMargin,
    "j14_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  ${dsumSql("(l_extendedprice * (1.0 - l_discount))")} AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
         |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
         |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "j15_big_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, ${graft.Cols.dsumSql("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING ${graft.Cols.dsumSql("l_quantity")} > 250.0)
         |SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
         |FROM orders JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "w12_gap_fill" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts, CAST(ts AS DATE) AS day FROM events),
        |daily AS (SELECT user_id, day, event_type AS state FROM (
        |    SELECT user_id, day, event_type,
        |      row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev)
        |  WHERE rn = 1),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span)
        |SELECT g.user_id, CAST(g.day AS VARCHAR) AS day,
        |  last_value(d.state IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_state,
        |  (d.state IS NULL) AS is_filled
        |FROM grid g LEFT JOIN daily d USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,
    "w13_event_transitions" ->
      """WITH p AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    // Same moment ladder as a10, over the trailing frame: decimal frame
    // sums, identical double recombination, round(·, 9) on the sqrt path.
    "w14_anomaly_zscore" ->
      """WITH f AS (
        |  SELECT event_id, user_id, value,
        |    count(value) OVER w AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sv,
        |    CAST(SUM(CAST((value * value) AS DECIMAL(28,6))) OVER w AS DOUBLE) AS svv
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
        |m AS (
        |  SELECT event_id, user_id, value, sv / n AS mu,
        |    (svv - sv * sv / n) / (n - 1) AS variance
        |  FROM f WHERE n >= 4),
        |z AS (
        |  SELECT event_id, user_id, value, mu,
        |    (value - mu) / sqrt(variance) AS z
        |  FROM m WHERE variance > 0)
        |SELECT event_id, user_id, value, round(mu, 9) AS mu, round(z, 9) AS z
        |FROM z WHERE abs(z) > 2.5 ORDER BY event_id""".stripMargin,
    // The identical sorted-frame walk: list() over the same rows frame,
    // the same integer index arithmetic, the same literal order in the
    // MAD cut. No libm anywhere, so no rounding guard.
    "w15_rolling_median" ->
      """WITH a AS (
        |  SELECT event_id, user_id, value,
        |    list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM events),
        |m AS (
        |  SELECT event_id, user_id, value, arr,
        |    CAST(len(arr) AS INTEGER) AS n_window,
        |    CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2]
        |         ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2.0 END AS roll_med
        |  FROM a),
        |x AS (
        |  SELECT event_id, user_id, value, n_window, roll_med,
        |    list_sort(list_transform(arr, x -> abs(x - roll_med))) AS devs
        |  FROM m),
        |y AS (
        |  SELECT event_id, user_id, value, n_window, roll_med,
        |    CASE WHEN n_window % 2 = 1 THEN devs[(n_window + 1) // 2]
        |         ELSE (devs[n_window // 2] + devs[n_window // 2 + 1]) / 2.0 END AS roll_mad
        |  FROM x)
        |SELECT event_id, user_id, value, n_window, roll_med, roll_mad,
        |  (roll_mad > 0.0 AND abs(value - roll_med) > 3.0 * 1.4826 * roll_mad) AS is_outlier
        |FROM y ORDER BY event_id""".stripMargin,
    "o5_keyset_pagination" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey > 500
        |ORDER BY o_orderkey LIMIT 10""".stripMargin
  )
}
