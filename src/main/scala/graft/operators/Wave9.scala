package graft.operators

import graft.{Q, Tables}
import graft.sources.Layouts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-7 capability wave: the remaining MySQL time builtins
  * (STR_TO_DATE / TIMESTAMPADD family), the ADMIN CHECK TABLE analog
  * over a derived layout, and the catalog/metadata surface
  * (SHOW TABLES / DESCRIBE).
  */
object Wave9 {

  val all: Seq[Q] = Seq(

    // Time builtin wave 3 (reference: expression/builtin_time.go —
    // STR_TO_DATE :218, TIMESTAMPADD/TIMESTAMPDIFF :209, SEC_TO_TIME/
    // TO_SECONDS/FROM_DAYS :178-211/:862, MONTHNAME/DAYNAME :151-154,
    // GET_FORMAT :165, PERIOD_ADD/PERIOD_DIFF :204-205). Format-parse
    // round-trips and unit arithmetic, all expressed with engine-
    // native codegen'd functions; the period/seconds families are
    // pure integer arithmetic stated identically on both engines
    // (Spark `div`, DuckDB `//` — integer division, never `/`).
    // TIMESTAMPDIFF(MONTH) vs the 1995-01-01 anchor needs no
    // day-of-month borrow (anchor day = 1), so the MySQL semantics
    // reduce to 12*Δyear + Δmonth exactly. Map-side only.
    Q("q_func_time3", Some("""
      SELECT o_orderkey,
             CAST(strptime(strftime(CAST(o_orderdate AS DATE), '%d/%m/%Y'), '%d/%m/%Y') AS DATE) AS parsed_date,
             strptime(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || ' 08:30:00', '%Y-%m-%d %H:%M:%S') AS parsed_ts,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS add_months3,
             strptime(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || ' 08:30:00', '%Y-%m-%d %H:%M:%S') + INTERVAL 90 MINUTE AS add_90min,
             CAST((YEAR(o_orderdate) - 1995) * 12 + MONTH(o_orderdate) - 1 AS INT) AS mo_since,
             CAST(EPOCH(CAST(o_orderdate AS DATE)) AS BIGINT) + 62167219200 AS secs_since_y0,
             CAST(DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS BIGINT) AS to_days_n,
             CAST(DATE '1970-01-01' + CAST((DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528) - 719528 AS INT) AS DATE) AS from_days_rt,
             lpad(CAST((o_orderkey * 7919 % 86400) // 3600 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(((o_orderkey * 7919 % 86400) % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST((o_orderkey * 7919 % 86400) % 60 AS VARCHAR), 2, '0') AS sec2time,
             monthname(CAST(o_orderdate AS DATE)) AS mname,
             dayname(CAST(o_orderdate AS DATE)) AS dname,
             CAST(((YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 + 14) // 12) * 100
                  + ((YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 + 14) % 12) + 1 AS INT) AS period_add14,
             CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - (1995 * 12 + 1) AS INT) AS period_diff95,
             CASE WHEN o_orderkey % 2 = 0 THEN '%Y-%m-%d' ELSE '%m.%d.%Y' END AS get_fmt
      FROM orders WHERE o_orderkey < 500
    """)) { t =>
      val base = t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("d"),
          ((col("o_orderkey") * 7919) % 86400).as("s"))
      val epoch0 = to_date(lit("1970-01-01"))
      base.select(col("o_orderkey"),
          to_date(date_format(col("d"), "dd/MM/yyyy"), "dd/MM/yyyy")
            .as("parsed_date"),
          to_timestamp(
            concat(date_format(col("d"), "yyyy-MM-dd"), lit(" 08:30:00")),
            "yyyy-MM-dd HH:mm:ss").as("parsed_ts"),
          add_months(col("d"), 3).as("add_months3"),
          ((year(col("d")) - 1995) * 12 + month(col("d")) - 1).cast("int")
            .as("mo_since"),
          (datediff(col("d"), epoch0).cast("long") * 86400L + 62167219200L)
            .as("secs_since_y0"),
          (datediff(col("d"), epoch0).cast("long") + 719528L).as("to_days_n"),
          expr("concat(lpad(cast(s div 3600 as string), 2, '0'), ':', " +
            "lpad(cast((s % 3600) div 60 as string), 2, '0'), ':', " +
            "lpad(cast(s % 60 as string), 2, '0'))").as("sec2time"),
          date_format(col("d"), "MMMM").as("mname"),
          date_format(col("d"), "EEEE").as("dname"),
          expr("cast(((year(d) * 12 + month(d) - 1 + 14) div 12) * 100 " +
            "+ ((year(d) * 12 + month(d) - 1 + 14) % 12) + 1 as int)")
            .as("period_add14"),
          expr("cast(year(d) * 12 + month(d) - (1995 * 12 + 1) as int)")
            .as("period_diff95"),
          when(col("o_orderkey") % 2 === 0, "%Y-%m-%d").otherwise("%m.%d.%Y")
            .as("get_fmt"))
        .withColumn("add_90min",
          col("parsed_ts") + expr("INTERVAL 90 MINUTES"))
        .withColumn("from_days_rt",
          date_add(epoch0, (col("to_days_n") - 719528L).cast("int")))
    },

    // ADMIN CHECK TABLE analog (reference: executor/admin.go
    // CheckTableExec — cross-verifies an index against its base
    // table). The repo's "index" here is q_mv_refresh's incrementally
    // maintained MV; the check recomputes the same aggregate from the
    // base table in one fresh pass and compares the two layouts
    // per group key via null-safe checksum equality. Any divergent,
    // missing, or extra key surfaces as consistent=false — which the
    // oracle (consistent=TRUE everywhere) turns into a hash mismatch,
    // i.e. corruption is driver-visible, not just spec-visible.
    // Scale: both sides are |groups|-sized aggregates of one scan
    // each; the compare is a tiny full-outer join on the group key.
    Q("q_admin_check", Some("""
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             TRUE AS consistent
      FROM orders GROUP BY o_orderpriority
    """)) { t =>
      val base = t.orders
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(Exact.dec2(col("o_totalprice"))).cast("double").as("revenue"))
      AdminCheck.check(base, Dml.mvMerged(t), Seq("o_orderpriority"))
    },

    // SHOW TABLES analog (reference: infoschema/tables.go — the
    // information_schema.TABLES surface): every registered table with
    // its column count and row count. Column counts come from the
    // LOADED schemas, so a driver-side data regeneration that changes
    // a schema shows up as a correctness diff, not a silent drift.
    Q("q_catalog", Some("""
      SELECT 'region' AS table_name, CAST(2 AS INT) AS n_cols, (SELECT CAST(COUNT(*) AS BIGINT) FROM region) AS n_rows
      UNION ALL SELECT 'nation', 3, (SELECT COUNT(*) FROM nation)
      UNION ALL SELECT 'customer', 5, (SELECT COUNT(*) FROM customer)
      UNION ALL SELECT 'supplier', 4, (SELECT COUNT(*) FROM supplier)
      UNION ALL SELECT 'part', 6, (SELECT COUNT(*) FROM part)
      UNION ALL SELECT 'orders', 6, (SELECT COUNT(*) FROM orders)
      UNION ALL SELECT 'lineitem', 11, (SELECT COUNT(*) FROM lineitem)
      UNION ALL SELECT 'events', 6, (SELECT COUNT(*) FROM events)
      UNION ALL SELECT 'documents', 5, (SELECT COUNT(*) FROM documents)
      UNION ALL SELECT 'embeddings', 3, (SELECT COUNT(*) FROM embeddings)
    """)) { t =>
      Catalog.tables(t).map { case (name, df) =>
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(name).as("table_name"),
            lit(df.columns.length).as("n_cols"), col("n_rows"))
      }.reduce(_ union _)
    },

    // DESCRIBE analog (infoschema/tables.go information_schema.
    // COLUMNS): one row per column of every registered table, typed
    // with engine-neutral class names. The Spark side derives the
    // rows from the LOADED schemas while the oracle pins the expected
    // catalog as literals — so this entry doubles as the
    // driver-enforced schema-policy assertion: if a data regeneration
    // shifts a column's type (the r6 events nanos→NTZ break), this
    // query goes red instead of 21 downstream queries crashing.
    Q("q_describe", Some(s"""
      SELECT * FROM (VALUES
        ${Catalog.pinnedValuesSql}
      ) AS v(table_name, ord, col_name, type_class)
    """)) { t =>
      import t.spark.implicits._
      Catalog.tables(t).flatMap { case (name, df) =>
        df.schema.fields.zipWithIndex.map { case (f, i) =>
          (name, i + 1, f.name, Catalog.typeClass(f.dataType))
        }
      }.toDF("table_name", "ord", "col_name", "type_class")
    },

    // Nested-JSON EXPORT/IMPORT (reference: executor/select_into.go +
    // load_data.go, JSON leg; types/json round-tripping). CSV covers
    // the delimited flat case (Wave7) — the JSON-specific semantics
    // are STRUCTURE: a struct and an array survive the text round
    // trip and land back as typed columns under an explicit read
    // schema. The engine genuinely writes and re-reads JSON lines;
    // the oracle states the flattened expected values straight from
    // the source, so the driver compare proves the round trip
    // lossless. Doubles use Spark's round-trippable shortest
    // rendering. Scale: both legs are parallel scans/writes, no
    // shuffle.
    Q("q_export_json", Some("""
      SELECT c_custkey, c_name AS name, c_acctbal AS bal,
             CAST(c_nationkey AS BIGINT) AS tag0,
             c_custkey % 7 AS tag1
      FROM customer WHERE c_custkey < 500
    """)) { t =>
      val dir = Layouts.root("json", t.dir)
      t.customer.filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          struct(col("c_name").as("name"), col("c_acctbal").as("bal"))
            .as("info"),
          array(col("c_nationkey").cast("long"), col("c_custkey") % 7)
            .as("tags"))
        .write.mode("overwrite").json(dir)
      t.spark.read
        .schema("c_custkey bigint, " +
          "info struct<name:string,bal:double>, tags array<bigint>")
        .json(dir)
        .select(col("c_custkey"), col("info.name").as("name"),
          col("info.bal").as("bal"), col("tags")(0).as("tag0"),
          col("tags")(1).as("tag1"))
    },

    // Columnar ORC round trip (reference analog: TiFlash's columnar
    // store as the second storage engine beside row-oriented TiKV —
    // here parquet is the primary columnar format and ORC the
    // alternate, exercised as an engine capability: write a typed
    // selection including DATE, read it back, serve it). Oracle
    // states the source values → driver hash equality proves the
    // format conversion lossless.
    Q("q_format_orc", Some("""
      SELECT o_orderkey, o_orderstatus,
             CAST(o_orderdate AS DATE) AS o_date,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price
      FROM orders WHERE o_orderkey < 5000
    """)) { t =>
      val dir = Layouts.root("orc", t.dir)
      t.orders.filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate").cast("date").as("o_date"),
          Exact.dec2(col("o_totalprice")).cast("double").as("o_price"))
        .write.mode("overwrite").orc(dir)
      t.spark.read.orc(dir)
    },

    // BACKUP / RESTORE (reference: executor/brie.go BRIE executors).
    // BACKUP writes a consistent column snapshot once to a layout
    // keyed by the source's content fingerprint, with a MANIFEST
    // (row count + order-independent BIT_XOR row digest — the
    // q_table_checksum fold) beside the data. RESTORE re-reads the
    // backup, recomputes the digest and REFUSES a corrupt or
    // truncated backup (throws — the spec proves it), else serves
    // the restored rows. The oracle reads the ORIGINAL table, so the
    // driver's hash compare IS the lossless round-trip proof.
    // Scale: backup = one scan-write; manifest = map-combined
    // commutative fold; restore verification = one backup scan.
    Q("q_backup_restore", Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price
      FROM orders
    """)) { t =>
      Backup.restore(t.spark, Backup.dir(t))
    },
  )
}

/** Consistent snapshot backup with verified restore
  * (executor/brie.go analog). */
object Backup {
  import org.apache.spark.sql.SparkSession

  /** The backup of a warehouse's orders snapshot, written once and
    * returned as its dir — ONE spelling shared by q_backup_restore
    * and q_show_backups (which renders the BRIE queue from it), keyed
    * by the source's content fingerprint so a data regen
    * invalidates it. */
  def dir(t: graft.Tables): String =
    Layouts.once(Layouts.root("backup", t.dir, s"${t.dir}/orders.parquet")) {
      write(t.orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        Exact.dec2(col("o_totalprice")).cast("double").as("o_price")), _)
    }

  /** Order-independent digest of a DataFrame: (row count, BIT_XOR of
    * a per-row 60-bit md5 over all columns' string renderings). NULL
    * renders as a sentinel token concat_ws can't skip — otherwise
    * ("a", NULL) and (NULL, "a") collide and a corruption that moves
    * a value across a NULL column would verify. Commutative fold →
    * map-side combined, no sort, one scan. */
  def digest(df: DataFrame): (Long, Long) = {
    val rendered = df.columns.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000NULL")))
    val r = df.select(
        conv(substring(md5(concat_ws("|", rendered: _*).cast("binary")),
          1, 15), 16, 10).cast("long").as("__h"))
      .agg(count(lit(1)), expr("bit_xor(__h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** BACKUP: data + manifest; manifest lands last, so a crashed
    * backup never looks complete. The manifest digests the parquet
    * JUST WRITTEN, not a re-evaluation of the source plan — a source
    * whose row set can differ across evaluations (sampling, a table
    * mutated between jobs) must never yield a manifest describing
    * data that was never written (every restore would then refuse an
    * intact backup). Also saves a second full source scan. */
  def write(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/data")
    val (n, x) = digest(df.sparkSession.read.parquet(s"$dir/data"))
    df.sparkSession.range(1)
      .select(lit(n).as("n_rows"), lit(x).as("checksum"))
      .write.mode("overwrite").parquet(s"$dir/manifest")
  }

  /** RESTORE with verification: a digest mismatch against the
    * manifest throws — serving silently corrupt restored data is the
    * one wrong answer a restore can give. */
  def restore(spark: SparkSession, dir: String): DataFrame = {
    val data = spark.read.parquet(s"$dir/data")
    val m = spark.read.parquet(s"$dir/manifest").head()
    val (n, x) = digest(data)
    val (mn, mx) = (m.getAs[Long]("n_rows"), m.getAs[Long]("checksum"))
    if (n != mn || x != mx)
      throw new IllegalStateException(
        s"backup at $dir is corrupt: manifest ($mn, $mx) vs data ($n, $x)")
    data
  }
}

/** Derived-layout consistency check (executor/admin.go analog),
  * generic over (base, derived) pairs sharing a schema. */
object AdminCheck {

  /** Full-outer compare of `derived` against `base` on `keys`.
    * Output: the key columns, the BASE data columns, and a
    * `consistent` flag that is true iff the key exists on both sides
    * with null-safe-equal values in every data column. */
  def check(base: DataFrame, derived: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = base.columns.filterNot(keys.contains).toSeq
    // Presence is tracked by always-non-null marker columns, NOT by
    // key nullability: the join matches NULL group keys via <=>, and
    // a correctly-matching NULL-keyed group must not raise a false
    // corruption alarm.
    val b = base.withColumn("__b", lit(1)).as("b")
    val d = derived.withColumn("__d", lit(1)).as("d")
    val joinCond = keys.map(k => col(s"b.$k") <=> col(s"d.$k"))
      .reduce(_ && _)
    val present = col("b.__b").isNotNull && col("d.__d").isNotNull
    val valuesEq = dataCols.map(c => col(s"b.$c") <=> col(s"d.$c"))
      .reduce(_ && _)
    b.join(d, joinCond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"b.$k"), col(s"d.$k")).as(k)) ++
        dataCols.map(c => col(s"b.$c").as(c)) :+
        (present && valuesEq).as("consistent"): _*)
  }
}

/** The Tables registry as a queryable catalog
  * (infoschema/tables.go analog). */
object Catalog {

  /** Every registered table, in catalog order. */
  def tables(t: Tables): Seq[(String, DataFrame)] = Seq(
    "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
    "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
    "lineitem" -> t.lineitem, "events" -> t.events,
    "documents" -> t.documents, "embeddings" -> t.embeddings)

  /** The pinned expected catalog (table, ordinal, column, type class)
    * — the single source for the q_describe oracle's literal VALUES
    * and q_show_create's DDL rendering, so the two entries cannot
    * drift apart. This is the driver-enforced schema policy: a data
    * regeneration that shifts a type goes red HERE. */
  val pinned: Seq[(String, Int, String, String)] = Seq(
    ("region", 1, "r_regionkey", "int"), ("region", 2, "r_name", "string"),
    ("nation", 1, "n_nationkey", "int"), ("nation", 2, "n_name", "string"),
    ("nation", 3, "n_regionkey", "int"),
    ("customer", 1, "c_custkey", "bigint"), ("customer", 2, "c_name", "string"),
    ("customer", 3, "c_nationkey", "int"), ("customer", 4, "c_acctbal", "double"),
    ("customer", 5, "c_mktsegment", "string"),
    ("supplier", 1, "s_suppkey", "bigint"), ("supplier", 2, "s_name", "string"),
    ("supplier", 3, "s_nationkey", "int"), ("supplier", 4, "s_acctbal", "double"),
    ("part", 1, "p_partkey", "bigint"), ("part", 2, "p_name", "string"),
    ("part", 3, "p_brand", "string"), ("part", 4, "p_type", "string"),
    ("part", 5, "p_size", "int"), ("part", 6, "p_retailprice", "double"),
    ("orders", 1, "o_orderkey", "bigint"), ("orders", 2, "o_custkey", "bigint"),
    ("orders", 3, "o_orderstatus", "string"), ("orders", 4, "o_totalprice", "double"),
    ("orders", 5, "o_orderdate", "timestamp"), ("orders", 6, "o_orderpriority", "string"),
    ("lineitem", 1, "l_orderkey", "bigint"), ("lineitem", 2, "l_partkey", "bigint"),
    ("lineitem", 3, "l_suppkey", "bigint"), ("lineitem", 4, "l_linenumber", "int"),
    ("lineitem", 5, "l_quantity", "double"), ("lineitem", 6, "l_extendedprice", "double"),
    ("lineitem", 7, "l_discount", "double"), ("lineitem", 8, "l_tax", "double"),
    ("lineitem", 9, "l_returnflag", "string"), ("lineitem", 10, "l_linestatus", "string"),
    ("lineitem", 11, "l_shipdate", "timestamp"),
    ("events", 1, "event_id", "bigint"), ("events", 2, "ts", "timestamp"),
    ("events", 3, "user_id", "bigint"), ("events", 4, "event_type", "string"),
    ("events", 5, "value", "double"), ("events", 6, "props", "string"),
    ("documents", 1, "doc_id", "bigint"), ("documents", 2, "text", "string"),
    ("documents", 3, "lang", "string"), ("documents", 4, "source", "string"),
    ("documents", 5, "n_chars", "bigint"),
    ("embeddings", 1, "vec_id", "bigint"), ("embeddings", 2, "embedding", "array<float>"),
    ("embeddings", 3, "label", "int"))

  /** The pinned catalog as a DuckDB VALUES list. */
  def pinnedValuesSql: String = pinned
    .map { case (t, o, c, ty) => s"('$t', $o, '$c', '$ty')" }
    .mkString(",\n        ")

  /** Engine-neutral type-class names, shared by q_describe's two
    * sides. TIMESTAMP and TIMESTAMP_NTZ both map to 'timestamp': the
    * policy constraint is "a timestamp column is readable as a
    * timestamp", not which tz flavor the file happened to encode. */
  def typeClass(dt: DataType): String = dt match {
    case LongType              => "bigint"
    case IntegerType           => "int"
    case DoubleType            => "double"
    case FloatType             => "float"
    case StringType            => "string"
    case DateType              => "date"
    case TimestampType         => "timestamp"
    case TimestampNTZType      => "timestamp"
    case BinaryType            => "binary"
    case BooleanType           => "boolean"
    case _: DecimalType        => "decimal"
    case ArrayType(e, _)       => s"array<${typeClass(e)}>"
    case other                 => other.simpleString
  }
}
