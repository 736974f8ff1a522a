package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Round-6 capability wave: delimiter-controlled export. */
object Wave7 {

  /** Export dialect — mirrors the reference's FIELDS/LINES clauses. */
  def exportDir(t: Tables): String =
    graft.sources.Layouts.root("export", t.dir)

  val all: Seq[Q] = Seq(

    // Delimited EXPORT (reference: executor/select_into.go — SELECT
    // ... INTO OUTFILE with FIELDS TERMINATED BY / ENCLOSED BY /
    // ESCAPED BY and LINES TERMINATED BY). The engine writes the
    // selection as pipe-delimited, quote-enclosed, backslash-escaped
    // csv shards — the payload embeds the field delimiter, the quote
    // char and a line break, so enclosing and escaping are actually
    // exercised, not just configured — then reads the export back
    // with the same dialect. The oracle states the original
    // selection: round-trip fidelity IS the correctness claim.
    // Scale: the write is a plain sharded sink (one file per task,
    // no coalesce), the read-back a parallel scan with an explicit
    // schema; nothing touches the driver.
    Q("q_export_csv", Some("""
      SELECT c_custkey,
             c_name || '|"' || chr(10) || 'x' AS payload,
             c_acctbal
      FROM customer WHERE c_custkey < 500
    """)) { t =>
      val sel = t.customer.filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          concat(col("c_name"), lit("|\"\nx")).as("payload"),
          col("c_acctbal"))
      val dir = exportDir(t)
      sel.write.mode("overwrite")
        .option("sep", "|").option("quote", "\"").option("escape", "\\")
        .option("header", "true")
        .csv(dir)
      t.spark.read
        .option("sep", "|").option("quote", "\"").option("escape", "\\")
        .option("header", "true").option("multiLine", "true")
        .schema("c_custkey bigint, payload string, c_acctbal double")
        .csv(dir)
    },

    // Delimited IMPORT (reference: executor/load_data.go — LOAD DATA
    // with FIELDS TERMINATED/ENCLOSED, LINES STARTING BY, and
    // malformed-row tolerance: bad fields become NULL + a warning,
    // the load never aborts). Each engine builds the same raw lines
    // from customer — including a quote-enclosed name embedding the
    // field delimiter, a non-numeric balance field, and a truncated
    // line — then the ENGINE actually parses them (strip the line
    // prefix, from_csv in PERMISSIVE mode with a corrupt-record
    // column) while the oracle states the EXPECTED parse output
    // derived straight from the source columns. Scale: from_csv is a
    // per-row codegen'd expression — the 100 TB shape is this exact
    // parse running inside the scan stage of a raw text read.
    Q("q_import_csv", Some("""
      SELECT c_custkey,
             c_custkey AS id,
             CASE WHEN c_custkey % 5 = 0 THEN c_name || ';q'
                  ELSE c_name END AS nm,
             CASE WHEN c_custkey % 11 = 0 OR c_custkey % 7 = 0 THEN NULL
                  ELSE c_acctbal END AS bal,
             CAST(c_custkey % 11 = 0 OR c_custkey % 7 = 0 AS INT) AS bad
      FROM customer WHERE c_custkey < 600
    """)) { t =>
      val c = col("c_custkey")
      // LINES STARTING BY '##'; FIELDS TERMINATED BY ';' ENCLOSED BY
      // '"'. Every 5th name is enclosed and embeds the delimiter;
      // every 11th balance is non-numeric; every 7th line is
      // truncated after the name.
      val nmField = when(c % 5 === 0,
        concat(lit("\""), col("c_name"), lit(";q\"")))
        .otherwise(col("c_name"))
      val line = concat(lit("##"),
        when(c % 11 === 0, concat_ws(";", c, nmField, lit("xx")))
          .when(c % 7 === 0, concat_ws(";", c, nmField))
          .otherwise(concat_ws(";", c, nmField, col("c_acctbal"))))
      val opts = Map("sep" -> ";", "quote" -> "\"",
        "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")
      t.customer.filter(c < 600)
        .select(c.as("c_custkey"), line.as("line"))
        .withColumn("j", from_csv(
          expr("substring(line, 3)"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, nm STRING, bal DOUBLE, _bad STRING"),
          opts))
        .select(col("c_custkey"), col("j.id").as("id"),
          col("j.nm").as("nm"), col("j.bal").as("bal"),
          col("j._bad").isNotNull.cast("int").as("bad"))
    },

    // MySQL string/number rendering family, wave 2 (reference:
    // expression/builtin_string.go FORMAT/QUOTE/INSERT/EXPORT_SET/
    // MAKE_SET/ORD, builtin_math.go CONV/BIN/OCT): thousands-
    // separated rendering, radix conversion with a round trip,
    // bit-field rendering low-bit-first, and MySQL quoting. All pure
    // codegen'd string/bit arithmetic — identical in both engines
    // (DuckDB renders radix/grouping via fmt format specs).
    Q("q_func_mysql2", Some("""
      SELECT o_orderkey,
             format('{:,}', o_orderkey * 1000 + 123) AS fmt_key,
             upper(to_hex(o_orderkey)) AS conv_hex,
             CAST(o_orderkey AS VARCHAR) AS conv_rt,
             format('{:b}', o_orderkey) AS bin_val,
             format('{:o}', o_orderkey) AS oct_val,
             unicode(substr(o_orderpriority, 1, 1)) AS ord_val,
             '''' || replace(o_orderpriority, '-', '\''') || '''' AS quote_val,
             substr(o_orderpriority, 1, 2) || 'XY'
               || substr(o_orderpriority, 5) AS ins_val,
             array_to_string(list_transform(range(0, 8),
               i -> CASE WHEN (o_orderkey >> i) & 1 = 1
                         THEN 'Y' ELSE 'N' END), ',') AS export_set,
             -- MAKE_SET(0, ...) is '' (MySQL), but DuckDB's
             -- array_to_string(NULL-typed empty list) is NULL.
             COALESCE(array_to_string(list_filter(list_transform(
               range(0, 4),
               i -> CASE WHEN (o_orderkey >> i) & 1 = 1
                         THEN (['a', 'b', 'c', 'd'])[i + 1] END),
               x -> x IS NOT NULL), ','), '') AS make_set
      FROM orders WHERE o_orderkey < 400
    """)) { t =>
      t.orders.filter(col("o_orderkey") < 400)
        .select(col("o_orderkey"),
          format_number(col("o_orderkey") * 1000 + 123, 0).as("fmt_key"),
          conv(col("o_orderkey").cast("string"), 10, 16).as("conv_hex"),
          conv(conv(col("o_orderkey").cast("string"), 10, 16), 16, 10)
            .as("conv_rt"),
          bin(col("o_orderkey")).as("bin_val"),
          conv(col("o_orderkey").cast("string"), 10, 8).as("oct_val"),
          ascii(substring(col("o_orderpriority"), 1, 1)).as("ord_val"),
          concat(lit("'"),
            regexp_replace(col("o_orderpriority"), "-", "\\\\'"),
            lit("'")).as("quote_val"),
          overlay(col("o_orderpriority"), lit("XY"), lit(3), lit(2))
            .as("ins_val"),
          expr("""array_join(transform(sequence(0, 7),
            i -> if((shiftright(o_orderkey, i) & 1) = 1, 'Y', 'N')),
            ',')""").as("export_set"),
          expr("""array_join(filter(transform(sequence(0, 3),
            i -> if((shiftright(o_orderkey, i) & 1) = 1,
                    element_at(array('a', 'b', 'c', 'd'), int(i + 1)),
                    null)),
            x -> x is not null), ',')""").as("make_set"))
    },

    // COMPRESS / UNCOMPRESS / UNCOMPRESSED_LENGTH + CRC32 (reference:
    // expression/builtin_encryption.go, builtin_math.go CRC32) via
    // the native Zlib expressions (MySQL blob layout: 4-byte LE
    // uncompressed-length header + zlib stream). DuckDB has neither
    // zlib nor crc32, so the oracle states the INVARIANTS the engine
    // must genuinely compute per row: the round-tripped payload (the
    // hash check proper — it equals the original only if deflate →
    // header parse → inflate all work), the header's LE length
    // matching the original length, compression actually shrinking a
    // repetitive payload, and the standard CRC32 check vector.
    Q("q_func_compress", Some("""
      SELECT c_custkey,
             CAST(octet_length(encode(repeat(c_name, 20))) AS INT)
               AS orig_len,
             repeat(c_name, 20) AS rt,
             1 AS hdr_ok, 1 AS shrunk, 1 AS crc_vec
      FROM customer WHERE c_custkey < 300
    """)) { t =>
      import org.apache.spark.sql.GraftSqlShim.{column => gcol, expr => gexpr}
      val payload = encode(repeat(col("c_name"), 20), "UTF-8")
      def comp = gcol(graft.functions.ZlibCompress(gexpr(payload)))
      val h = hex(substring(comp, 1, 4))
      val le = conv(concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2)), 16, 10).cast("int")
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          length(payload).cast("int").as("orig_len"),
          decode(gcol(graft.functions.ZlibUncompress(gexpr(comp))),
            "UTF-8").as("rt"),
          (le === length(payload).cast("int")).cast("int").as("hdr_ok"),
          (length(comp) < length(payload)).cast("int").as("shrunk"),
          (crc32(lit("123456789").cast("binary")) === 3421780262L)
            .cast("int").as("crc_vec"))
    },
  )
}
