package graft.queries

import org.apache.spark.sql.functions._
import graft.Canon._
import graft.Repo
import graft.sources.Tables

/** Scans, filters, projections, sorts, limits, set ops — SURVEY.md §2.1,
  * §2.2, §2.6, §2.7.
  *
  * Everything here is a declarative DataFrame expression: filters and
  * projections reach the parquet scan (PushedFilters / ReadSchema), sorts
  * with limits plan as TakeOrderedAndProject, set ops as hash aggregates.
  * Reference semantics: full scan `get_all_file` (DMS.py:358-366), point
  * lookup `fetch` (DMS.py:114), regex row filter (DMS.py:363,373), key
  * synthesis `'v'+version+'.'+file` (DMS.py:102).
  */
object Relational {

  val all: Seq[Q] = Seq(
    Q(
      "s1_full_scan",
      Some("""SELECT r_regionkey, r_name FROM region ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(t.region.select(col("r_regionkey"), col("r_name")))
      }
    ),
    Q(
      "s2_point_lookup",
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
             FROM orders WHERE o_orderkey = 42 ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.orders
            .filter(col("o_orderkey") === 42L)
            .select(
              col("o_orderkey"),
              col("o_custkey"),
              col("o_orderstatus"),
              col("o_totalprice"),
              tstr(col("o_orderdate")).as("o_orderdate")
            )
        )
      }
    ),
    Q(
      "s0_range_source",
      // the zero-input synthetic source: spark.range is the generator
      // every test harness and dimension-builder starts from (distributed
      // row generation, no files). Derived columns pin the semantics.
      Some("""SELECT range AS id,
             range * range AS sq,
             range % 7 AS bucket,
             CASE WHEN range % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
             FROM range(0, 500)
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        ordered(
          spark.range(0, 500)
            .select(col("id"),
              (col("id") * col("id")).as("sq"),
              (col("id") % 7).as("bucket"),
              when(col("id") % 2 === 0, "even").otherwise("odd").as("parity"))
        )
      }
    ),
    Q(
      "s4_csv_source",
      // CSV source with an explicit schema (no inference), exercised
      // against the oracle: the committed fixture has quoted embedded
      // commas, and the weights are exact binary fractions so the grouped
      // sums are order-independent. Joined to the nation parquet so the
      // CSV relation participates in a real plan, not just a round trip.
      Some(s"""SELECT z.zone, count(*) AS n_nations, sum(z.weight) AS zone_weight
             |FROM nation n
             |JOIN read_csv('${Repo.fixture("s4_region_zones.csv")}',
             |       header = true,
             |       columns = {'r_regionkey': 'INTEGER',
             |                  'zone': 'VARCHAR',
             |                  'weight': 'DOUBLE'}) z
             |  ON n.n_regionkey = z.r_regionkey
             |GROUP BY z.zone
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val zschema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("r_regionkey",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("zone",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("weight",
            org.apache.spark.sql.types.DoubleType)))
        val zones = spark.read.option("header", "true").schema(zschema)
          .csv(Repo.fixture("s4_region_zones.csv"))
        ordered(
          t.nation
            .join(broadcast(zones), col("n_regionkey") === col("r_regionkey"))
            .groupBy(col("zone"))
            .agg(count(lit(1)).as("n_nations"),
              sum(col("weight")).as("zone_weight"))
        )
      }
    ),
    Q(
      "s4_json_source",
      // JSON-lines source with an explicit NESTED schema (struct field
      // extraction, no inference), joined to the nation parquet and
      // aggregated — the other half of S4 next to s4_csv_source. Weights
      // are exact binary fractions (order-independent sums).
      Some(s"""SELECT m.meta.tier AS tier, count(*) AS n_nations,
             |       sum(m.meta.weight) AS tier_weight
             |FROM nation n
             |JOIN read_json('${Repo.fixture("s4_region_meta.jsonl")}',
             |       format = 'newline_delimited',
             |       columns = {'r_regionkey': 'INTEGER',
             |                  'meta': 'STRUCT(tier VARCHAR, weight DOUBLE)'}) m
             |  ON n.n_regionkey = m.r_regionkey
             |GROUP BY 1
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.types._
        val t = Tables(spark, dir)
        val jschema = StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("meta", StructType(Seq(
            StructField("tier", StringType),
            StructField("weight", DoubleType))))))
        val m = spark.read.schema(jschema)
          .json(Repo.fixture("s4_region_meta.jsonl"))
        ordered(
          t.nation
            .join(broadcast(m), col("n_regionkey") === col("r_regionkey"))
            .groupBy(col("meta.tier").as("tier"))
            .agg(count(lit(1)).as("n_nations"),
              sum(col("meta.weight")).as("tier_weight"))
        )
      }
    ),
    Q(
      "p3_regex_predicate",
      Some("""SELECT c_custkey, c_name FROM customer
             WHERE regexp_matches(c_name, 'Customer#0*1[0-9]{2}$')
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.customer
            .filter(col("c_name").rlike("Customer#0*1[0-9]{2}$"))
            .select(col("c_custkey"), col("c_name"))
        )
      }
    ),
    Q(
      "p4_existence",
      Some("""SELECT count(*) AS n_found FROM orders
             WHERE o_orderkey = 42 AND o_orderstatus IS NOT NULL"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders
          .filter(col("o_orderkey") === 42L && col("o_orderstatus").isNotNull)
          .agg(count(lit(1)).as("n_found"))
      }
    ),
    Q(
      "p5_compound_predicates",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             FROM lineitem
             WHERE l_quantity BETWEEN 45 AND 50
               AND l_returnflag IN ('A', 'R')
               AND NOT (l_linestatus = 'O')
               AND l_discount IS NOT NULL
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.lineitem
            .filter(
              col("l_quantity").between(45, 50) &&
                col("l_returnflag").isin("A", "R") &&
                !(col("l_linestatus") === "O") &&
                col("l_discount").isNotNull
            )
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
        )
      }
    ),
    Q(
      "p6_computed_projection",
      // the reference's composite row key v{version}.{filename} (DMS.py:102)
      Some("""SELECT concat('v', CAST(o_orderkey AS VARCHAR), '.', o_orderstatus) AS row_key,
             o_totalprice
             FROM orders WHERE o_custkey < 20 ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.orders
            .filter(col("o_custkey") < 20L)
            .select(
              concat(lit("v"), col("o_orderkey").cast("string"), lit("."), col("o_orderstatus"))
                .as("row_key"),
              col("o_totalprice")
            )
        )
      }
    ),
    Q(
      "p1_nested_projection",
      Some("""SELECT o_orderkey, year(o_orderdate) AS o_year, o_orderpriority
             FROM orders WHERE o_custkey BETWEEN 100 AND 120
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.orders
            .filter(col("o_custkey").between(100L, 120L))
            .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
        )
      }
    ),
    Q(
      "o1_sort",
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.customer
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .orderBy(col("c_acctbal").desc_nulls_last, col("c_custkey").asc)
      }
    ),
    Q(
      "o2_limit",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             ORDER BY o_orderkey ASC LIMIT 100"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey").asc)
          .limit(100)
      }
    ),
    Q(
      "o3_topk_global",
      // plans as TakeOrderedAndProject: no full sort, per-partition top-k
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(25)
      }
    ),
    Q(
      "s15_fd_profile",
      // FUNCTIONAL-DEPENDENCY PROFILING (Metanome-style data profiling):
      // does column A determine column B? For each candidate FD the
      // violation count = groups of A carrying more than one distinct B.
      // Four candidates across four tables — two that hold (key → attr)
      // and two that don't — so the profile output exercises both
      // verdicts. 100 TB shape: one (A, countDistinct B) hash aggregate
      // per candidate (map-side partials, distinct-aggregate expansion),
      // then a 1-row summary per candidate; the union is 4 rows total.
      // All counts integer; fd_holds is an integer compare.
      Some("""SELECT fd, n_groups, violating,
             |       CASE WHEN violating = 0 THEN 1 ELSE 0 END AS fd_holds
             |FROM (
             |  SELECT 'lineitem: l_orderkey->l_partkey' AS fd,
             |         CAST(count(*) AS BIGINT) AS n_groups,
             |         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating
             |  FROM (SELECT l_orderkey, count(DISTINCT l_partkey) AS nd
             |        FROM lineitem GROUP BY 1)
             |  UNION ALL
             |  SELECT 'part: p_partkey->p_brand',
             |         CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM (SELECT p_partkey, count(DISTINCT p_brand) AS nd
             |        FROM part GROUP BY 1)
             |  UNION ALL
             |  SELECT 'orders: o_custkey->o_orderkey',
             |         CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM (SELECT o_custkey, count(DISTINCT o_orderkey) AS nd
             |        FROM orders GROUP BY 1)
             |  UNION ALL
             |  SELECT 'customer: c_nationkey->c_mktsegment',
             |         CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
             |        FROM customer GROUP BY 1)
             |)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        def profile(name: String, df: org.apache.spark.sql.DataFrame, lhs: String, rhs: String) =
          df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
            .agg(count(lit(1)).as("n_groups"),
              sum(when(col("nd") > 1, 1L).otherwise(0L)).as("violating"))
            .select(lit(name).as("fd"), col("n_groups"), col("violating"))
        val u = profile("lineitem: l_orderkey->l_partkey", t.lineitem,
            "l_orderkey", "l_partkey")
          .unionAll(profile("part: p_partkey->p_brand", t.part,
            "p_partkey", "p_brand"))
          .unionAll(profile("orders: o_custkey->o_orderkey", t.orders,
            "o_custkey", "o_orderkey"))
          .unionAll(profile("customer: c_nationkey->c_mktsegment", t.customer,
            "c_nationkey", "c_mktsegment"))
        ordered(
          u.withColumn("fd_holds",
            when(col("violating") === 0, 1).otherwise(0)))
      }
    ),
    Q(
      "s16_ri_audit",
      // REFERENTIAL-INTEGRITY AUDIT — orphan foreign keys across the
      // star: rows whose FK has no matching PK, per edge. The proof that
      // an ingest (or a dedup/GC pass) didn't sever the joins every
      // downstream query assumes. 100 TB shape: one left-anti join per
      // edge (PK sides are dim-sized and broadcast where small; the
      // fact-side edges plan as shuffled anti-joins with map-side
      // partial counts after); output is one row per edge regardless of
      // scale. All integers.
      Some("""SELECT edge, n_rows, n_orphans,
             |       CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS intact
             |FROM (
             |  SELECT 'lineitem.l_orderkey->orders' AS edge,
             |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
             |         CAST((SELECT count(*) FROM lineitem l
             |               WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                                 WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             |           AS n_orphans
             |  UNION ALL
             |  SELECT 'orders.o_custkey->customer',
             |         (SELECT CAST(count(*) AS BIGINT) FROM orders),
             |         CAST((SELECT count(*) FROM orders o
             |               WHERE NOT EXISTS (SELECT 1 FROM customer c
             |                                 WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey->part',
             |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             |         CAST((SELECT count(*) FROM lineitem l
             |               WHERE NOT EXISTS (SELECT 1 FROM part p
             |                                 WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
             |  UNION ALL
             |  SELECT 'customer.c_nationkey->nation',
             |         (SELECT CAST(count(*) AS BIGINT) FROM customer),
             |         CAST((SELECT count(*) FROM customer c
             |               WHERE NOT EXISTS (SELECT 1 FROM nation n
             |                                 WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
             |)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        def audit(name: String, fact: org.apache.spark.sql.DataFrame, fk: String,
            dim: org.apache.spark.sql.DataFrame, pk: String) = {
          val rows = fact.agg(count(lit(1)).as("n_rows"))
          val orphans = fact.join(dim.select(col(pk)),
              fact(fk) === col(pk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          rows.crossJoin(orphans) // two 1-row scalars
            .select(lit(name).as("edge"), col("n_rows"), col("n_orphans"))
        }
        val u = audit("lineitem.l_orderkey->orders", t.lineitem, "l_orderkey",
            t.orders, "o_orderkey")
          .unionAll(audit("orders.o_custkey->customer", t.orders, "o_custkey",
            t.customer, "c_custkey"))
          .unionAll(audit("lineitem.l_partkey->part", t.lineitem, "l_partkey",
            t.part, "p_partkey"))
          .unionAll(audit("customer.c_nationkey->nation", t.customer,
            "c_nationkey", t.nation, "n_nationkey"))
        ordered(
          u.withColumn("intact", when(col("n_orphans") === 0, 1).otherwise(0)))
      }
    ),
    Q(
      "o5_keyset_page",
      // KEYSET (cursor) PAGINATION — the API-serving pattern that replaces
      // OFFSET at scale: the client passes the last row's (o_orderdate,
      // o_orderkey) and the next page is a pushed-down predicate + top-k,
      // never a skip-scan. The tuple compare is expanded to its
      // disjunctive form so it reaches the parquet scan as min/max-
      // skippable filters, and the page plans as TakeOrderedAndProject —
      // page cost rides the page size and pruned-file count, not the
      // offset depth. The page SET is deterministic: o_orderkey breaks
      // all date ties.
      Some("""SELECT o_orderkey, o_custkey,
             |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
             |       o_totalprice AS price
             |FROM orders
             |WHERE o_orderdate > TIMESTAMP '1996-06-01 00:00:00'
             |   OR (o_orderdate = TIMESTAMP '1996-06-01 00:00:00' AND o_orderkey > 3000)
             |ORDER BY o_orderdate, o_orderkey LIMIT 50""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val cursor = to_timestamp(lit("1996-06-01 00:00:00"))
        t.orders
          .filter(col("o_orderdate") > cursor ||
            (col("o_orderdate") === cursor && col("o_orderkey") > 3000))
          .select(col("o_orderkey"), col("o_custkey"),
            tstr(col("o_orderdate")).as("odate"),
            col("o_totalprice").as("price"))
          .orderBy(col("odate"), col("o_orderkey"))
          .limit(50)
      }
    ),
    Q(
      "u1_union",
      Some("""SELECT nationkey, src FROM (
               SELECT DISTINCT c_nationkey AS nationkey, 'c' AS src FROM customer
               UNION ALL
               SELECT DISTINCT s_nationkey AS nationkey, 's' AS src FROM supplier
             ) ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.customer.select(col("c_nationkey").as("nationkey")).distinct()
          .withColumn("src", lit("c"))
        val s = t.supplier.select(col("s_nationkey").as("nationkey")).distinct()
          .withColumn("src", lit("s"))
        ordered(c.unionByName(s))
      }
    ),
    Q(
      "u1_union_by_name",
      // schema-drift union: the second feed generation reorders columns
      // and adds one; unionByName(allowMissingColumns) aligns by NAME and
      // null-fills — DuckDB's UNION ALL BY NAME is the identical spelling
      Some("""SELECT * FROM (
             |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100
             |  UNION ALL BY NAME
             |  SELECT o_totalprice, o_orderkey, o_orderpriority
             |  FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200
             |) ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val gen1 = t.orders.filter(col("o_orderkey") < 100L)
          .select(col("o_orderkey"), col("o_totalprice"))
        val gen2 = t.orders.filter(col("o_orderkey") >= 100L && col("o_orderkey") < 200L)
          .select(col("o_totalprice"), col("o_orderkey"), col("o_orderpriority"))
        ordered(gen1.unionByName(gen2, allowMissingColumns = true))
      }
    ),
    Q(
      "u2_intersect",
      Some("""SELECT c_nationkey AS nationkey FROM customer
             INTERSECT
             SELECT s_nationkey FROM supplier
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.customer.select(col("c_nationkey").as("nationkey"))
            .intersect(t.supplier.select(col("s_nationkey").as("nationkey")))
        )
      }
    ),
    Q(
      "u3_except",
      Some("""SELECT o_custkey AS custkey FROM orders
             EXCEPT
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.orders.select(col("o_custkey").as("custkey"))
            .except(
              t.customer.filter(col("c_mktsegment") === "BUILDING")
                .select(col("c_custkey").as("custkey"))
            )
        )
      }
    ),
    Q(
      "u2_intersect_all",
      // bag semantics: multiplicity = min(count in a, count in b)
      Some("""SELECT o_custkey AS custkey FROM orders
             INTERSECT ALL
             SELECT c_custkey FROM customer
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.orders.select(col("o_custkey").as("custkey"))
            .intersectAll(t.customer.select(col("c_custkey").as("custkey")))
        )
      }
    ),
    Q(
      "u3_except_all",
      // bag semantics: multiplicity = max(0, count in a - count in b)
      Some("""SELECT o_custkey AS custkey FROM orders
             EXCEPT ALL
             SELECT c_custkey FROM customer
             ORDER BY ALL NULLS FIRST"""),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.orders.select(col("o_custkey").as("custkey"))
            .exceptAll(t.customer.select(col("c_custkey").as("custkey")))
        )
      }
    ),
    Q(
      "s11_table_stats",
      // ANALYZE-style column statistics in ONE scan: row count, per-column
      // null counts, min/max, distinct counts — the optimizer-feeding
      // stats pass every table format runs after ingest. All partial/final
      // aggregates (count/min/max/HLL-exact distinct), so a 100 TB table
      // costs one pass and one single-row final; no sort, no shuffle of
      // data rows, only the fixed-width aggregate buffers.
      Some("""SELECT count(*) AS n_rows,
             |  count(DISTINCT l_orderkey) AS d_orderkey,
             |  count(DISTINCT l_returnflag) AS d_returnflag,
             |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS null_shipdate,
             |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
             |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_shipdate,
             |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_shipdate
             |FROM lineitem""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("d_orderkey"),
          countDistinct(col("l_returnflag")).as("d_returnflag"),
          sum(when(col("l_shipdate").isNull, 1).otherwise(0)).as("null_shipdate"),
          min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          tstr(min(col("l_shipdate"))).as("min_shipdate"),
          tstr(max(col("l_shipdate"))).as("max_shipdate"))
      }
    ),
    Q(
      "s17_zonemap_skip",
      // ZONE-MAP / DATA-SKIPPING PLANNER — the min/max file-statistics
      // pass behind every lakehouse's "files scanned: 3 of 80": the fact
      // table's rows group into synthetic 30-day files (the natural
      // ingest partitioning), each file carries its zone map (min/max
      // ship day, row count), and a literal date-range predicate is
      // planned against the maps — a file is skippable iff its max < lo
      // or its min >= hi. Output: every file's zone map, its skip
      // verdict, and the rows that verdict avoids reading. All integer
      // day arithmetic. This is the PLAN-side twin of the S3p partition-
      // pruning evidence spec: there Spark's scan prunes; here the
      // planner logic itself is data, auditable and hash-checked. 100 TB
      // shape: one (file, min, max, count) hash aggregate — the stats a
      // real table format persists in its manifest — then an O(files)
      // verdict; the fact table is scanned once to BUILD the manifest
      // and never again to plan.
      Some("""WITH f AS (
             |  SELECT epoch_us(l_shipdate) // 86400000000 // 30 AS file_id,
             |         min(epoch_us(l_shipdate) // 86400000000) AS min_day,
             |         max(epoch_us(l_shipdate) // 86400000000) AS max_day,
             |         CAST(count(*) AS BIGINT) AS n_rows
             |  FROM lineitem GROUP BY 1
             |)
             |SELECT file_id, min_day, max_day, n_rows,
             |       CASE WHEN max_day < 9496 OR min_day >= 9861
             |            THEN 1 ELSE 0 END AS skippable
             |FROM f ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val day = expr("unix_micros(cast(l_shipdate as timestamp)) DIV 86400000000")
        val f = t.lineitem
          .groupBy((day / 30).cast("long").as("file_id"))
          .agg(min(day).as("min_day"), max(day).as("max_day"),
            count(lit(1)).as("n_rows"))
        // probe window: epoch days [9496, 9861) = calendar year 1996
        ordered(
          f.select(col("file_id"), col("min_day"), col("max_day"), col("n_rows"),
            when(col("max_day") < 9496 || col("min_day") >= 9861, 1)
              .otherwise(0).as("skippable")))
      }
    ),
    Q(
      "s19_bloom_file_skip",
      // BLOOM-FILTER FILE SKIPPING — s17's EQUALITY twin (zone maps skip
      // range predicates; point lookups on a non-clustered key need a
      // per-file Bloom, the parquet bloom_filter / lakehouse manifest
      // pattern): each synthetic 30-day file folds its l_orderkey set
      // into a 64-word (3968-bit, k=3) filter via ONE hash aggregate;
      // five probe keys then plan against the manifest — a file must be
      // read iff all 3 probe bits are set. The portable md5 hash family
      // makes every verdict — false positives included — deterministic
      // and hash-checked; truly_present rides beside it, proving no
      // false negative (present ⇒ maybe_present) IN the result. 100 TB
      // shape: the manifest build is one map-side-partial aggregate
      // (files × 64 words); planning touches only the manifest — the
      // probe relation × file grid, never the data.
      Some("""WITH s AS (SELECT unnest(range(0, 3)) AS seed),
             |li AS (
             |  SELECT DISTINCT epoch_us(l_shipdate) // 86400000000 // 30 AS file_id,
             |         l_orderkey AS key
             |  FROM lineitem
             |),
             |bloom AS (
             |  SELECT file_id,
             |         (('0x' || substring(md5(seed || ':' || key), 1, 15))::BIGINT
             |          % 3968) // 62 AS word,
             |         bit_or(1::BIGINT << CAST(
             |           (('0x' || substring(md5(seed || ':' || key), 1, 15))::BIGINT
             |            % 3968) % 62 AS INT)) AS bits
             |  FROM li CROSS JOIN s GROUP BY 1, 2
             |),
             |probes AS (SELECT pk * 2999 + 7 AS pkey
             |           FROM (SELECT unnest(range(0, 5)) AS pk)),
             |grid AS (
             |  SELECT DISTINCT li.file_id, p.pkey FROM li CROSS JOIN probes p
             |),
             |hits AS (
             |  SELECT g.file_id, g.pkey,
             |         CASE WHEN coalesce(b.bits, 0) &
             |              (1::BIGINT << CAST(
             |                (('0x' || substring(md5(s.seed || ':' || g.pkey), 1, 15))
             |                 ::BIGINT % 3968) % 62 AS INT)) <> 0
             |              THEN 1 ELSE 0 END AS hit
             |  FROM grid g CROSS JOIN s
             |  LEFT JOIN bloom b
             |    ON b.file_id = g.file_id
             |   AND b.word = (('0x' || substring(md5(s.seed || ':' || g.pkey), 1, 15))
             |                 ::BIGINT % 3968) // 62
             |),
             |verdict AS (
             |  SELECT file_id, pkey, min(hit) = 1 AS maybe_present
             |  FROM hits GROUP BY 1, 2
             |)
             |SELECT v.file_id, v.pkey, v.maybe_present,
             |       (li.key IS NOT NULL) AS truly_present
             |FROM verdict v
             |LEFT JOIN li ON li.file_id = v.file_id AND li.key = v.pkey
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        def pos(seed: Int, key: org.apache.spark.sql.Column) =
          pmod(conv(substring(md5(concat(lit(seed.toString), lit(":"),
            key.cast("string"))), 1, 15), 16, 10).cast("long"), lit(3968L))
        val day = expr("unix_micros(cast(l_shipdate as timestamp)) DIV 86400000000")
        val li = t.lineitem
          .select((day / 30).cast("long").as("file_id"),
            col("l_orderkey").as("key"))
          .distinct()
        val bloom = li
          .select(col("file_id"), explode(array((0 until 3).map(s =>
            pos(s, col("key"))): _*)).as("p"))
          .select(col("file_id"), expr("p DIV 62").as("word"),
            (col("p") % 62).cast("int").as("bit"))
          .groupBy(col("file_id"), col("word"))
          .agg(expr("bit_or(shiftleft(cast(1 as bigint), bit))").as("bits"))
        val probes = spark.range(0, 5)
          .select((col("id") * 2999 + 7).as("pkey"))
        val grid = li.select(col("file_id")).distinct()
          .crossJoin(broadcast(probes)) // files × 5 probe keys — the plan grid
        val hits = grid
          .select(col("file_id"), col("pkey"), explode(array((0 until 3).map(s =>
            pos(s, col("pkey"))): _*)).as("p"))
          .select(col("file_id"), col("pkey"), expr("p DIV 62").as("word"),
            (col("p") % 62).cast("int").as("bit"))
          .join(broadcast(bloom), Seq("file_id", "word"), "left")
          .select(col("file_id"), col("pkey"),
            (coalesce(col("bits"), lit(0L))
              .bitwiseAND(expr("shiftleft(cast(1 as bigint), bit)")) =!= 0L)
              .cast("int").as("hit"))
        val verdict = hits.groupBy(col("file_id"), col("pkey"))
          .agg((min(col("hit")) === 1).as("maybe_present"))
        ordered(
          verdict.join(li,
              verdict("file_id") === li("file_id") && col("pkey") === col("key"),
              "left")
            .select(verdict("file_id"), col("pkey"), col("maybe_present"),
              col("key").isNotNull.as("truly_present")))
      }
    ),
    Q(
      "s12_equidepth",
      // Equi-DEPTH histogram over l_extendedprice — the optimizer's
      // preferred distribution summary (equal row mass per bucket, so
      // selectivity is rank arithmetic regardless of skew), next to
      // s12_histogram's equi-width pass. Bucket EDGES are exact discrete
      // order statistics at ranks ceil(i*n/8) extracted by the GK
      // sketch->exact-refine discipline (a9_approx_quantiles): one
      // sketch aggregate reads 7 narrow bands (q = i/8 -/+ 0.003, rank
      // error <= n/10000), one more scan counts below-band and ranks the
      // band rows, and the pick at cnt_lt + rn = k is a raw data value
      // both engines return identically. i*n/8.0 divides an exact
      // integer product by a power of two — IEEE-exact in both engines,
      // so ceil() agrees by construction. Bucket row counts are pure
      // rank arithmetic (ceil(i*n/8) - ceil((i-1)*n/8)) — no second
      // count pass needed. 100 TB shape: one sketch aggregate with
      // mergeable partials + one scan vs a 1-row broadcast; the rank
      // window rides ~0.6%-of-corpus band partitions; 8-row output at
      // any scale.
      Some("""WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
             |n AS (SELECT count(*) AS n FROM v),
             |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
             |g AS (SELECT CAST(i AS INTEGER) AS i FROM range(1, 9) t(i)),
             |k AS (SELECT g.i, CAST(ceil(g.i * n.n / 8.0) AS BIGINT) AS k,
             |             CAST(ceil((g.i - 1) * n.n / 8.0) AS BIGINT) AS k0
             |      FROM g CROSS JOIN n)
             |SELECT k.i AS bucket,
             |       min(CASE WHEN r.rn = k.k THEN r.x END) AS upper_edge,
             |       min(k.k - k.k0) AS n_rows
             |FROM k JOIN r ON r.rn = k.k
             |GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val li = t.lineitem.select(col("l_extendedprice").as("x"))
        val qs = (1 to 7).flatMap(i => Seq(i / 8.0 - 0.003, i / 8.0 + 0.003))
        val stats = graft.functions.Bounded.local(
          li.agg(count(lit(1)).as("n"),
            percentile_approx(col("x"),
              typedlit(qs.toArray), lit(10000)).as("band"),
            max(col("x")).as("xmax")))
        // each row fans out only to the (<= 7) bands it falls in
        val spec = li.crossJoin(broadcast(stats))
          .select(col("x"), col("n"), explode(array((1 to 7).map(i =>
            struct(lit(i).as("i"),
              element_at(col("band"), 2 * i - 1).as("lo"),
              element_at(col("band"), 2 * i).as("hi"),
              ceil(lit(i) * col("n") / 8.0).cast("long").as("k"))): _*)).as("s"))
          .select(col("x"), col("s.i").as("i"), col("s.lo").as("lo"),
            col("s.hi").as("hi"), col("s.k").as("k"))
        val cntLt = spec.groupBy(col("i"))
          .agg(sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("cnt_lt"))
        val band = spec.filter(col("x") >= col("lo") && col("x") <= col("hi"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("i"))
              .orderBy(col("x"))))
        val edges = band.join(cntLt, Seq("i"))
          .filter(col("cnt_lt") + col("rn") === col("k"))
          .select(col("i"), col("x").as("upper_edge"))
          .unionByName(stats.select(lit(8).as("i"), col("xmax").as("upper_edge")))
        ordered(
          edges.join(broadcast(stats.select(col("n"))), lit(true))
            .select(col("i").as("bucket"), col("upper_edge"),
              (ceil(col("i") * col("n") / 8.0).cast("long") -
                ceil((col("i") - 1) * col("n") / 8.0).cast("long")).as("n_rows")))
      }
    ),
    Q(
      "s12_histogram",
      // Equi-width HISTOGRAM over l_extendedprice — the data-profiling /
      // optimizer-statistics pass next to s11's scalar stats (selectivity
      // estimation needs the distribution, not just min/max). Two passes
      // by construction: a 1-row min/max aggregate broadcast into a
      // bucket-assignment scan + hash aggregate. Bucket math is plain
      // IEEE arithmetic ((v-min)/width, floored, top edge clamped) that
      // both engines execute identically; empty buckets are real rows
      // (generated from the bucket range, left-joined) so the histogram
      // shape is complete. 16 fixed buckets = fixed-size output at any
      // corpus scale.
      Some("""WITH mm AS (
             |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
             |  FROM lineitem
             |),
             |b AS (
             |  SELECT CAST(least(floor((l_extendedprice - mm.lo)
             |                          / ((mm.hi - mm.lo) / 16)), 15) AS INT)
             |           AS bucket,
             |         count(*) AS n
             |  FROM lineitem CROSS JOIN mm
             |  GROUP BY 1
             |)
             |SELECT k.bucket,
             |       mm.lo + k.bucket * ((mm.hi - mm.lo) / 16) AS bucket_lo,
             |       mm.lo + (k.bucket + 1) * ((mm.hi - mm.lo) / 16) AS bucket_hi,
             |       CAST(coalesce(b.n, 0) AS BIGINT) AS n
             |FROM (SELECT unnest(range(0, 16)) AS bucket) k
             |CROSS JOIN mm LEFT JOIN b ON b.bucket = k.bucket
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val mm = t.lineitem.agg(min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        val width = (col("hi") - col("lo")) / 16
        val counts = t.lineitem.crossJoin(broadcast(mm))
          .select(least(floor((col("l_extendedprice") - col("lo")) / width),
            lit(15.0)).cast("int").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        val buckets = spark.range(0, 16)
          .select(col("id").cast("int").as("bucket"))
        ordered(
          buckets.crossJoin(broadcast(mm))
            .join(counts, Seq("bucket"), "left")
            .select(col("bucket"),
              (col("lo") + col("bucket") * width).as("bucket_lo"),
              (col("lo") + (col("bucket") + 1) * width).as("bucket_hi"),
              coalesce(col("n"), lit(0L)).as("n"))
        )
      }
    ),
    Q(
      "s14_compaction_plan",
      // SMALL-FILES COMPACTION PLANNER — the table-maintenance pass every
      // 100 TB lakehouse runs: greedy sequential bin-packing of a
      // partition's file inventory into ~64 KB target compaction groups.
      // The inventory here is the documents table viewed as (partition =
      // source, file = doc_id, bytes = n_chars). Group id is
      // floor(bytes_before / target) off a per-partition running sum —
      // pure integer arithmetic, so the plan hash-checks exactly. 100 TB
      // shape: ONE window per partition ordered by file id (the natural
      // per-partition analytic — no global sort), then a (partition,
      // group) aggregate; output is bounded by total_bytes/target rows,
      // not file count.
      Some("""WITH f AS (
             |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes,
             |         CAST(sum(n_chars) OVER (PARTITION BY source
             |                                 ORDER BY doc_id) - n_chars
             |              AS BIGINT) AS bytes_before
             |  FROM documents
             |)
             |SELECT source, CAST(bytes_before // 65536 AS BIGINT) AS grp,
             |       count(*) AS n_files,
             |       CAST(sum(bytes) AS BIGINT) AS grp_bytes,
             |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
             |       CAST(sum(bytes) AS BIGINT) >= 65536 AS reaches_target
             |FROM f GROUP BY source, grp
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables(spark, dir)
        val target = 65536L
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val f = t.documents
          .select(col("source"), col("doc_id"),
            col("n_chars").cast("long").as("bytes"))
          .withColumn("bytes_before",
            sum(col("bytes")).over(w) - col("bytes"))
        ordered(
          f.groupBy(col("source"),
              expr(s"bytes_before DIV $target").as("grp"))
            .agg(count(lit(1)).as("n_files"),
              sum(col("bytes")).as("grp_bytes"),
              min(col("doc_id")).as("first_doc"),
              max(col("doc_id")).as("last_doc"))
            .select(col("source"), col("grp"), col("n_files"),
              col("grp_bytes"), col("first_doc"), col("last_doc"),
              (col("grp_bytes") >= target).as("reaches_target")))
      }
    ),
    Q(
      "s20_ndv_estimate",
      // SAMPLE-BASED NDV ESTIMATION (Chao1) — the CBO statistic a 100 TB
      // table can't afford exactly: distinct-count of l_partkey
      // estimated from a DETERMINISTIC ~1% row sample
      // (l_orderkey % 100 = 0 — reproducible across engines, unlike
      // TABLESAMPLE), via Chao1 = d + f1²/(2·f2) where f1/f2 are the
      // sample's singleton/doubleton value counts — the abundance-based
      // richness estimator (Chao 1984) that powers every "estimate NDV
      // without a full scan" stats collector. Everything is exact
      // integers from two nested hash aggregates over the sample; the
      // estimator is one rounded division; the TRUE NDV rides beside it
      // so the estimation error is itself hash-checked. 100 TB shape:
      // the sample predicate prunes at the scan (at real scale you'd
      // sample whole row groups instead — same relation shape); the
      // frequency-of-frequencies table is at most sample-sized; the
      // full-scan truth column is the one-off calibration leg a
      // production collector would drop.
      Some("""WITH sm AS (
             |  SELECT l_partkey AS v, CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY 1
             |),
             |ff AS (
             |  SELECT CAST(count(*) AS BIGINT) AS d,
             |         CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
             |         CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS f2,
             |         CAST(sum(c) AS BIGINT) AS sample_rows
             |  FROM sm
             |),
             |tr AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_true
             |       FROM lineitem)
             |SELECT sample_rows, d AS d_sample, f1, f2,
             |       CASE WHEN f2 > 0
             |            THEN round(d + f1 * f1 * 1.0 / (2 * f2), 2)
             |       END AS ndv_chao1,
             |       ndv_true
             |FROM ff CROSS JOIN tr
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val sm = t.lineitem.filter(col("l_orderkey") % 100 === 0)
          .groupBy(col("l_partkey").as("v")).agg(count(lit(1)).as("c"))
        val ff = sm.agg(count(lit(1)).as("d"),
          count(when(col("c") === 1, 1)).as("f1"),
          count(when(col("c") === 2, 1)).as("f2"),
          sum(col("c")).as("sample_rows"))
        val tr = t.lineitem
          .agg(countDistinct(col("l_partkey")).as("ndv_true"))
        ordered(
          ff.crossJoin(broadcast(tr))
            .select(col("sample_rows"), col("d").as("d_sample"),
              col("f1"), col("f2"),
              when(col("f2") > 0,
                round(col("d") + col("f1") * col("f1") * 1.0 /
                  (lit(2) * col("f2")), 2)).as("ndv_chao1"),
              col("ndv_true")))
      }
    )
  )
}
