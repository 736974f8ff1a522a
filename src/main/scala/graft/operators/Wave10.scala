package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Round-7 capability wave 2: the remaining math/compare builtins
  * (inverse trig, TRUNCATE, DIV, null-safe equality), the session/info
  * function family, JSON introspection (JSON_TYPE / JSON_VALID /
  * JSON_CONTAINS / JSON_QUOTE / JSON_UNQUOTE), bitmap-accelerated
  * distinct counting, and keyset pagination.
  */
object Wave10 {

  val all: Seq[Q] = Seq(

    // Math builtin wave 2 (reference: expression/builtin_math.go —
    // ACOS/ASIN/ATAN/ATAN2/COT :1, RADIANS/DEGREES, LOG2, TRUNCATE;
    // builtin_arithmetic.go DIV; builtin_compare.go NULLEQ `<=>`).
    // Both engines run the IDENTICAL IEEE expression chains; transcend-
    // entals round to 6dp so libm last-ulp differences cannot surface.
    // TRUNCATE(x, 2) is stated as the same double multiply + truncate-
    // toward-zero on both sides (Spark cast-to-bigint truncates, DuckDB
    // trunc() truncates) so the float input bit-pattern is shared.
    // Map-side only — scan → project, no shuffle at any scale.
    Q("q_func_math2", Some("""
      SELECT l_orderkey, l_linenumber,
             ROUND(acos(l_discount * 10 - 0.5), 6) AS v_acos,
             ROUND(asin(l_tax * 10 - 0.4), 6) AS v_asin,
             ROUND(atan(l_quantity / 10), 6) AS v_atan,
             ROUND(atan2(l_quantity, l_extendedprice / 1000), 6) AS v_atan2,
             ROUND(cot(l_quantity / 7 + 0.1), 6) AS v_cot,
             ROUND(radians(l_quantity), 6) AS v_radians,
             ROUND(degrees(l_discount), 6) AS v_degrees,
             ROUND(log2(l_extendedprice + 1), 6) AS v_log2,
             trunc((l_extendedprice - 50000) * 100) / 100 AS v_trunc2,
             CAST(l_orderkey // 7 AS BIGINT) AS v_intdiv,
             CAST(ROUND(pi(), 6) AS DOUBLE) AS v_pi,
             CAST(CASE WHEN l_quantity IN (25, 30) THEN NULL
                       ELSE l_quantity END IS NOT DISTINCT FROM
                  NULLIF(l_quantity, 25) AS INT) AS v_nulleq
      FROM lineitem WHERE l_orderkey < 400
    """)) { t =>
      val price = col("l_extendedprice")
      t.lineitem.filter(col("l_orderkey") < 400)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(acos(col("l_discount") * 10 - 0.5), 6).as("v_acos"),
          round(asin(col("l_tax") * 10 - 0.4), 6).as("v_asin"),
          round(atan(col("l_quantity") / 10), 6).as("v_atan"),
          round(atan2(col("l_quantity"), price / 1000), 6).as("v_atan2"),
          round(expr("cot(l_quantity / 7 + 0.1)"), 6).as("v_cot"),
          round(radians(col("l_quantity")), 6).as("v_radians"),
          round(degrees(col("l_discount")), 6).as("v_degrees"),
          round(log2(price + 1), 6).as("v_log2"),
          (((price - 50000) * 100).cast("bigint") / 100).as("v_trunc2"),
          expr("l_orderkey div 7").cast("bigint").as("v_intdiv"),
          round(lit(math.Pi), 6).as("v_pi"),
          when(col("l_quantity").isin(25, 30), lit(null))
            .otherwise(col("l_quantity"))
            .eqNullSafe(nullif(col("l_quantity"), lit(25)))
            .cast("int").as("v_nulleq"))
    },

    // Session/info function family (reference: expression/
    // builtin_info.go — VERSION/DATABASE/CURRENT_USER/CONNECTION_ID/
    // FOUND_ROWS/ROW_COUNT/LAST_INSERT_ID/BENCHMARK; builtin_
    // miscellaneous.go SLEEP/NAME_CONST/ANY_VALUE). Engine identity is
    // a pinned constant surface (a single-node MySQL "session" has no
    // Spark analog — the engine answers with its own coordinates);
    // the cursor-state functions are REAL scalars computed from live
    // queries: FOUND_ROWS = the un-LIMITed count of the last SELECT's
    // predicate, ROW_COUNT = rows the last DML predicate touches,
    // LAST_INSERT_ID = the id the next auto-increment insert would
    // take. ANY_VALUE is made deterministic the only honest way: its
    // input is constant within each group. Scalars broadcast — the
    // per-group aggregate is the only (tiny) shuffle.
    Q("q_func_info", Some("""
      WITH f AS (SELECT CAST(COUNT(*) AS BIGINT) AS found_rows
                 FROM customer WHERE c_acctbal > 1000),
      rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS row_count_n
             FROM lineitem WHERE l_discount > 0.05),
      li AS (SELECT CAST(MAX(o_orderkey) + 1 AS BIGINT) AS last_insert_id
             FROM orders)
      SELECT c_nationkey,
             CAST(any_value(c_nationkey * 10) AS BIGINT) AS anyv,
             'graft/4.1.2' AS version_s,
             'graft' AS database_s,
             'graft@%' AS user_s,
             CAST(1 AS BIGINT) AS conn_id,
             found_rows, row_count_n, last_insert_id,
             CAST(42 AS INT) AS name_const_v,
             CAST(0 AS INT) AS sleep0
      FROM customer, f, rc, li
      GROUP BY c_nationkey, found_rows, row_count_n, last_insert_id
    """)) { t =>
      val f = t.customer.filter(col("c_acctbal") > 1000)
        .agg(count(lit(1)).as("found_rows"))
      val rc = t.lineitem.filter(col("l_discount") > 0.05)
        .agg(count(lit(1)).as("row_count_n"))
      val li = t.orders.agg((max("o_orderkey") + 1).as("last_insert_id"))
      t.customer
        .groupBy("c_nationkey")
        .agg(any_value(col("c_nationkey").cast("bigint") * 10).as("anyv"))
        .crossJoin(broadcast(f)).crossJoin(broadcast(rc))
        .crossJoin(broadcast(li))
        .select(col("c_nationkey"), col("anyv"),
          lit("graft/4.1.2").as("version_s"),
          lit("graft").as("database_s"),
          lit("graft@%").as("user_s"),
          lit(1L).as("conn_id"),
          col("found_rows"), col("row_count_n"), col("last_insert_id"),
          lit(42).as("name_const_v"),
          lit(0).as("sleep0"))
    },

    // Bitmap-accelerated exact distinct counting (reference:
    // statistics/ + aggfuncs count-distinct; the bitmap layout is the
    // standard warehouse accelerator Spark ships as bitmap_*). Each
    // (group, 32k-bucket) builds one roaring-style bitmap with
    // map-side partial merge; distinct-per-group = sum of per-bucket
    // popcounts, and the bucket bitmaps OR-merge across groups for
    // the global distinct — the re-aggregatable form a 100 TB rollup
    // needs (per-partition bitmaps union without re-scanning rows;
    // COUNT(DISTINCT) would re-shuffle raw keys per rollup level).
    // The oracle states the same counts as plain COUNT(DISTINCT).
    Q("q_agg_bitmap", Some("""
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
              FROM lineitem) AS n_parts_all
      FROM lineitem GROUP BY l_returnflag
    """)) { t =>
      val b = t.lineitem
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
          .as("bm"))
      val perFlag = b.groupBy("l_returnflag")
        .agg(sum(expr("bitmap_count(bm)")).as("n_parts"))
      val global = b.groupBy("bkt")
        .agg(expr("bitmap_or_agg(bm)").as("gbm"))
        .agg(sum(expr("bitmap_count(gbm)")).as("n_parts_all"))
      perFlag.crossJoin(broadcast(global))
    },

    // JSON introspection wave (reference: expression/builtin_json.go —
    // JSON_TYPE, JSON_VALID, JSON_CONTAINS, JSON_QUOTE, JSON_UNQUOTE).
    // Five doc shapes per row stream (object / array / string /
    // integer / malformed) exercise every branch. JSON_TYPE maps both
    // engines' native type names onto the MySQL vocabulary; Spark
    // derives it from the VARIANT schema (schema_of_variant ∘
    // try_parse_json), DuckDB from json_type — both guarded so the
    // malformed shape yields NULL, not an error. JSON_QUOTE is the
    // engine's real JSON string writer (to_json of a 1-element array,
    // brackets stripped), not hand-rolled escaping. Map-side only.
    Q("q_func_json5", Some("""
      WITH d AS (
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               CASE event_id % 5
                 WHEN 0 THEN props
                 WHEN 1 THEN '[1,2,' || json_extract_string(props, '$.k') || ']'
                 WHEN 2 THEN '"' || event_type || '"'
                 WHEN 3 THEN json_extract_string(props, '$.k')
                 ELSE 'nope{' END AS doc
        FROM events WHERE event_id < 600)
      SELECT event_id, doc,
             CAST(json_valid(doc) AS INT) AS is_valid,
             CASE WHEN json_valid(doc) THEN
               CASE json_type(doc)
                 WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
                 WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
                 WHEN 'DOUBLE' THEN 'double' WHEN 'NULL' THEN 'null'
                 ELSE 'integer' END
             END AS jtype,
             CAST(CASE WHEN event_id % 5 = 0
                       THEN json_contains(doc, '{"k": ' || k || '}')
                       WHEN event_id % 5 = 1 THEN json_contains(doc, '7')
                       END AS INT) AS contains_pos,
             CAST(CASE WHEN event_id % 5 = 0
                       THEN json_contains(doc, '{"k": -1}') END AS INT)
               AS contains_neg,
             json_quote(event_type || '"q' || chr(10)) AS quoted,
             CASE WHEN event_id % 5 = 2
                  THEN json_extract_string(doc, '$') END AS unquoted
      FROM d
    """)) { t =>
      val k = get_json_object(col("props"), "$.k")
      val doc = when(col("event_id") % 5 === 0, col("props"))
        .when(col("event_id") % 5 === 1, concat(lit("[1,2,"), k, lit("]")))
        .when(col("event_id") % 5 === 2,
          concat(lit("\""), col("event_type"), lit("\"")))
        .when(col("event_id") % 5 === 3, k)
        .otherwise(lit("nope{"))
      val base = t.events.filter(col("event_id") < 600)
        .select(col("event_id"), k.cast("bigint").as("k"), doc.as("doc"),
          col("event_type"))
      val vtype = expr("schema_of_variant(try_parse_json(doc))")
      val jtype = when(vtype.startsWith("OBJECT"), "object")
        .when(vtype.startsWith("ARRAY"), "array")
        .when(vtype === "STRING", "string")
        .when(vtype === "BOOLEAN", "boolean")
        .when(vtype === "DOUBLE", "double")
        .when(vtype === "VOID", "null")
        .when(vtype.isNotNull, "integer")
      base.select(col("event_id"), col("doc"),
        expr("try_parse_json(doc)").isNotNull.cast("int").as("is_valid"),
        jtype.as("jtype"),
        when(col("event_id") % 5 === 0,
            (get_json_object(col("doc"), "$.k").cast("bigint") === col("k"))
              .cast("int"))
          .when(col("event_id") % 5 === 1,
            array_contains(expr("from_json(doc, 'array<bigint>')"), 7L)
              .cast("int"))
          .as("contains_pos"),
        when(col("event_id") % 5 === 0,
          (get_json_object(col("doc"), "$.k").cast("bigint") === -1L)
            .cast("int")).as("contains_neg"),
        expr("substring(to_json(array(concat(event_type, '\"q', char(10)))), 2, " +
          "length(to_json(array(concat(event_type, '\"q', char(10))))) - 2)")
          .as("quoted"),
        when(col("event_id") % 5 === 2,
          get_json_object(col("doc"), "$")).as("unquoted"))
    },

    // Keyset (cursor) pagination (reference: executor range scans +
    // LIMIT plans — the production replacement for OFFSET). Page N+1 starts
    // strictly after the cursor tuple (last row of page N) under the
    // total order (o_orderdate, o_orderkey); at 100 TB the predicate
    // prunes row groups by min/max stats, where OFFSET must scan and
    // discard every preceding row. The cursor itself is derived
    // in-query here (row 40 of the same order) so the entry is
    // self-contained and oracle-checkable — and it is derived
    // scale-safely: row 40 is the MAX tuple of the first-40 TopK
    // (orderBy+limit plans as TakeOrderedAndProject + a 1-row max
    // aggregate), never a global row_number window, which would
    // single-partition the whole table just to find the cursor.
    Q("q_keyset_page", Some("""
      WITH c AS (
        SELECT o_orderdate AS cd, o_orderkey AS ck FROM (
          SELECT o_orderdate, o_orderkey,
                 ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders) t WHERE rn = 40)
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders, c
      WHERE o_orderdate > cd OR (o_orderdate = cd AND o_orderkey > ck)
      ORDER BY o_orderdate, o_orderkey
      LIMIT 20
    """)) { t =>
      // Cursor = max (date, key) tuple of the first 40 rows; struct
      // comparison is lexicographic by field, so max(struct(d, k))
      // over the TopK-40 IS row 40 under the (d, k) total order.
      val cursor = t.orders
        .select(col("o_orderdate"), col("o_orderkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .limit(40)
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("c"))
        .select(col("c.o_orderdate").as("cd"), col("c.o_orderkey").as("ck"))
      t.orders.crossJoin(broadcast(cursor))
        .filter(col("o_orderdate") > col("cd") ||
          (col("o_orderdate") === col("cd") && col("o_orderkey") > col("ck")))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    },

    // PREPARE / EXECUTE (reference: executor/prepared.go + the plan
    // cache): ONE parameterized template, bound twice with different
    // parameter sets — Spark's native parameterized SQL (named
    // markers), so the text is parsed once per execution against an
    // identical plan shape and the parameters stay typed data, never
    // string-spliced (the injection-safety property PREPARE exists
    // for). The oracle states the two executions with the literals
    // inlined.
    Q("q_prepare", Some("""
      SELECT CAST(1 AS INT) AS exec_id, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
        AND o_totalprice > 150000
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 2, o_orderpriority, CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND o_totalprice > 50000
      GROUP BY o_orderpriority
    """)) { t =>
      t.orders.createOrReplaceTempView("orders")
      val template = """
        SELECT CAST(:exec_id AS INT) AS exec_id, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        WHERE o_orderdate >= CAST(:d1 AS TIMESTAMP)
          AND o_orderdate < CAST(:d2 AS TIMESTAMP)
          AND o_totalprice > :minp
        GROUP BY o_orderpriority"""
      def execute(id: Int, d1: String, d2: String, minp: Int) =
        t.spark.sql(template, Map(
          "exec_id" -> id, "d1" -> d1, "d2" -> d2, "minp" -> minp))
      execute(1, "1995-01-01", "1996-01-01", 150000)
        .unionAll(execute(2, "1996-01-01", "1997-01-01", 50000))
    },

    // SPLIT TABLE BY — range-region split (reference: executor/
    // split.go SplitTableRegionExec; the Spark twin of computing
    // RangePartitioner boundaries). Boundaries are the exact octile
    // keys of the table; every row then map-side classifies into its
    // region (count of boundaries strictly below the key) against the
    // broadcast 7-element boundary array. At 100 TB the quantile pass
    // runs on a sample/sketch, but the CONTRACT — balanced contiguous
    // key ranges, stated per region as (n_rows, min, max) — is what
    // this entry pins. Both engines interpolate quantiles with the
    // same lo + (hi-lo)·frac arithmetic.
    Q("q_split_region", Some("""
      WITH b AS (
        SELECT list_transform(
                 quantile_cont(o_orderkey,
                   [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
                 q -> CAST(FLOOR(q) AS BIGINT)) AS bs
        FROM orders),
      a AS (SELECT o_orderkey,
                   len(list_filter(bs, x -> x < o_orderkey)) AS region_id
            FROM orders, b)
      SELECT CAST(region_id AS INT) AS region_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM a GROUP BY region_id
    """)) { t =>
      val bs = t.orders.agg(expr(
        "transform(percentile(o_orderkey, " +
          "array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D)), " +
          "q -> cast(floor(q) as bigint))").as("bs"))
      t.orders.crossJoin(broadcast(bs))
        .select(col("o_orderkey"),
          expr("size(filter(bs, x -> x < o_orderkey))").cast("int")
            .as("region_id"))
        .groupBy("region_id")
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
    },

    // NULL-AWARE anti join — NOT IN over a nullable subquery in the
    // WHERE clause (executor/joiner.go nullAware paths; the ANSI trap
    // every naive anti-join rewrite gets wrong): ONE NULL member
    // makes every non-matching `NOT IN` UNKNOWN, so the null-set arm
    // returns ZERO rows — pinned as a scalar count riding every
    // surviving row of the clean arm. Catalyst plans the null-aware
    // anti join for the nullable arm; DuckDB states the same ANSI
    // logic. (The SELECT-list rendering of NOT IN is deliberately
    // NOT used: Spark's existence-join rewrite of a projected IN
    // predicate does not preserve the tri-valued UNKNOWN.)
    Q("q_join_naaj", Some("""
      SELECT c_custkey, c_mktsegment,
             (SELECT COUNT(*) FROM customer c2
              WHERE c2.c_custkey < 200
                AND c2.c_custkey NOT IN (
                  SELECT NULLIF(o_custkey, 51) FROM orders
                  WHERE o_custkey BETWEEN 50 AND 150)) AS n_null_arm
      FROM customer
      WHERE c_custkey < 200
        AND c_custkey NOT IN (
          SELECT o_custkey FROM orders WHERE o_custkey BETWEEN 50 AND 150)
    """)) { t =>
      t.orders.createOrReplaceTempView("orders")
      t.customer.createOrReplaceTempView("customer")
      t.spark.sql("""
        SELECT c_custkey, c_mktsegment,
               (SELECT COUNT(*) FROM customer c2
                WHERE c2.c_custkey < 200
                  AND c2.c_custkey NOT IN (
                    SELECT NULLIF(o_custkey, 51) FROM orders
                    WHERE o_custkey BETWEEN 50 AND 150)) AS n_null_arm
        FROM customer
        WHERE c_custkey < 200
          AND c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_custkey BETWEEN 50 AND 150)""")
    },

    // Schema evolution — ALTER TABLE ADD COLUMN ... DEFAULT, the
    // lakehouse way (reference: ddl/column.go — adding a column
    // backfills nothing; old rows answer with the default). The
    // engine actually writes two parquet generations (v1 without the
    // column, v2 with it), reads them back as ONE table via
    // mergeSchema, and resolves pre-evolution rows to the declared
    // default with coalesce — at 100 TB this is exactly why ADD
    // COLUMN is O(1): no rewrite, the default materializes at read
    // time inside the scan. The oracle states the expected merged
    // contract straight from the source.
    Q("q_schema_evolution", Some("""
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey < 300 THEN 'LEGACY'
                  ELSE o_orderpriority END AS priority,
             CAST(o_orderkey >= 300 AS INT) AS post_evolution
      FROM orders WHERE o_orderkey < 600
    """)) { t =>
      val dir = graft.sources.Layouts.root("evo", t.dir)
      t.orders.filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/gen=1")
      t.orders.filter(col("o_orderkey") >= 300 && col("o_orderkey") < 600)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dir/gen=2")
      t.spark.read.option("mergeSchema", "true").parquet(dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          coalesce(col("o_orderpriority"), lit("LEGACY")).as("priority"),
          col("o_orderpriority").isNotNull.cast("int").as("post_evolution"))
    },
  )
}
