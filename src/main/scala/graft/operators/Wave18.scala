package graft.operators

import graft.{Q, Tables}
import graft.sources.{Formats, Layouts}
import graft.tools.Acl
import org.apache.spark.sql.functions._

/** Round-14 second-half entries: the REVOKE lifecycle and the
  * CREATE/ALTER/DROP USER account-administration card. */
object Wave18 {

  def all: Seq[Q] = Seq(

    // REVOKE — privilege and role removal, the GRANT mirror
    // (reference: executor/revoke.go:59 RevokeExec — :179 revokePriv
    // routes to the global/db/table scope records; executor/simple.go
    // executeRevokeRole drops the inheritance edge). The card drives
    // one principal through the whole removal ladder and records the
    // RequestVerification verdict + the SHOW GRANTS line count per
    // stage, so the oracle hash pins each FLIP: a partial revoke
    // removes one privilege from a multi-privilege scope (the scope
    // line survives), a role revoke cuts inherited privileges
    // without touching direct ones, and revoking the rest collapses
    // the render to the bare USAGE line (an emptied scope disappears
    // from storage, cache.go:1218's convention answers). Every cell
    // is a real Acl call — nothing is transcribed.
    Q("q_revoke", Some("""
      SELECT * FROM (VALUES
        ('1_granted',       1, 1, 1, 3),
        ('2_revoke_insert', 1, 0, 1, 3),
        ('3_revoke_role',   1, 0, 0, 1),
        ('4_revoke_all',    0, 0, 0, 1)
      ) AS v(stage, customer_select, customer_insert, orders_select,
             grant_lines)
    """)) { t =>
      import t.spark.implicits._
      Acl.clear()
      Acl.grant("vic", Seq("SELECT", "INSERT", "UPDATE"),
        db = "graft", tbl = "customer")
      Acl.grant("aud_r", Seq("SELECT"), db = "graft", tbl = "orders")
      Acl.grantRole("aud_r", "vic")
      def can(tbl: String, priv: String): Int =
        if (Acl.verify("vic", "%", "graft", tbl, priv)) 1 else 0
      def row(stage: String) = (stage, can("customer", "SELECT"),
        can("customer", "INSERT"), can("orders", "SELECT"),
        Acl.showGrants("vic", "%").size)
      val out = Seq.newBuilder[(String, Int, Int, Int, Int)]
      out += row("1_granted")
      Acl.revoke("vic", Seq("INSERT"), db = "graft", tbl = "customer")
      out += row("2_revoke_insert")
      Acl.revokeRole("aud_r", "vic")
      out += row("3_revoke_role")
      Acl.revoke("vic", Seq("ALL"), db = "graft", tbl = "customer")
      out += row("4_revoke_all")
      out.result().toDF("stage", "customer_select", "customer_insert",
        "orders_select", "grant_lines")
    },

    // CREATE USER / ALTER USER / DROP USER — account administration
    // with REAL credential storage (reference: executor/simple.go:137
    // executeCreateUser, :139 executeAlterUser, :141 executeDropUser;
    // parser/auth EncodePassword — mysql_native_password stores
    // '*' + HEX(SHA1(SHA1(password))) in mysql.user's
    // authentication_string). The entry creates three accounts,
    // rotates one password with ALTER USER, drops one account, and
    // returns the surviving user card: principal, plugin, the stored
    // auth string COMPUTED by the engine's own double-SHA1 (the
    // oracle restates the RFC 3174 constants, so a broken digest or
    // hex rendering fails the hash), plus two live authentication
    // probes per row — the rotated account must reject its old
    // password and accept the new one at the instant ALTER lands.
    Q("q_user_admin", Some("""
      SELECT * FROM (VALUES
        ('app_ro', '%', 'mysql_native_password',
         '*1A69BB68199D90F14D683C64DC315BC686A71EF9', 0, 0),
        ('app_rw', '10.0.0.%', 'mysql_native_password',
         '*A33AFD60F06EB99FD2DD8615388688E9F679662A', 0, 1)
      ) AS v(user, host, plugin, auth_string,
             pw_secret123_ok, pw_newpass456_ok)
    """)) { t =>
      import t.spark.implicits._
      Acl.clear()
      Acl.createUser("app_rw", "10.0.0.%", "secret123")
      Acl.createUser("app_ro", "%", "s3cure!")
      Acl.createUser("tmp", "%", "newpass456")
      Acl.alterUserPassword("app_rw", "10.0.0.%", "newpass456")
      Acl.dropUser("tmp", "%")
      Seq(("app_ro", "%"), ("app_rw", "10.0.0.%"))
        .map { case (u, h) =>
          (u, h, "mysql_native_password", Acl.authString(u, h),
            if (Acl.checkPassword(u, h, "secret123")) 1 else 0,
            if (Acl.checkPassword(u, h, "newpass456")) 1 else 0)
        }
        .toDF("user", "host", "plugin", "auth_string",
          "pw_secret123_ok", "pw_newpass456_ok")
    },

    // SELECT ... FOR UPDATE / LOCK IN SHARE MODE — pessimistic row
    // locks (reference: executor/executor.go:881 SelectLockExec:
    // every row key from the source executor is locked NOWAIT-style;
    // a key already locked by another transaction rolls the
    // statement back). The card drives three transactions through
    // the whole conflict lattice — X blocks S, S coexists with S,
    // held S blocks another txn's X upgrade, commit releases — and
    // every acquired/conflict count is restated by the oracle as a
    // COUNT over the same key predicates, so the lock table's
    // bookkeeping is hash-checked against the data. Key sets are
    // collected driver-side exactly as SelectLockExec buffers
    // `e.keys` in the transaction — bounded by statement
    // selectivity AND by the shared KeyBatchCap quota
    // (RowLocks.collectKeys aborts loudly past 64k keys; a
    // pathological FOR UPDATE over a fact table errors instead of
    // silently OOMing the driver).
    Q("q_select_lock", Some("""
      WITH ka AS (SELECT o_orderkey AS k FROM orders
                  WHERE o_orderkey % 97 = 0),
      kb AS (SELECT k FROM ka WHERE k % 2 = 0),
      kc AS (SELECT o_orderkey AS k FROM orders
             WHERE o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
      SELECT '1_a_for_update' AS stage, 'A' AS txn, 'X' AS mode,
             CAST((SELECT COUNT(*) FROM ka) AS BIGINT) AS acquired,
             CAST(0 AS BIGINT) AS conflicts
      UNION ALL SELECT '2_b_share_blocked', 'B', 'S', 0,
             (SELECT COUNT(*) FROM kb)
      UNION ALL SELECT '3_b_share_disjoint', 'B', 'S',
             (SELECT COUNT(*) FROM kc), 0
      UNION ALL SELECT '4_c_share_coexists', 'C', 'S',
             (SELECT COUNT(*) FROM kc), 0
      UNION ALL SELECT '5_c_upgrade_blocked', 'C', 'X', 0,
             (SELECT COUNT(*) FROM kc)
      UNION ALL SELECT '6_b_x_after_commit', 'B', 'X',
             (SELECT COUNT(*) FROM kb), 0
    """)) { t =>
      import t.spark.implicits._
      val L = graft.tools.RowLocks
      L.clear()
      def keys(p: org.apache.spark.sql.Column): Seq[Long] =
        L.collectKeys(t.orders.filter(p), "o_orderkey")
      val ka = keys(col("o_orderkey") % 97 === 0)
      val kb = ka.filter(_ % 2 == 0)
      val kc = keys(col("o_orderkey") % 89 === 0 &&
        col("o_orderkey") % 97 =!= 0)
      def row(stage: String, txn: String, x: Boolean,
          ks: Seq[Long]): (String, String, String, Long, Long) = {
        val (a, c) = L.acquire(txn, "orders", ks, exclusive = x)
        (stage, txn, if (x) "X" else "S", a, c)
      }
      val out = Seq.newBuilder[(String, String, String, Long, Long)]
      out += row("1_a_for_update", "A", x = true, ka)
      out += row("2_b_share_blocked", "B", x = false, kb)
      out += row("3_b_share_disjoint", "B", x = false, kc)
      out += row("4_c_share_coexists", "C", x = false, kc)
      out += row("5_c_upgrade_blocked", "C", x = true, kc)
      L.commit("A") // buffered keys flush, locks drop
      out += row("6_b_x_after_commit", "B", x = true, kb)
      out.result()
        .toDF("stage", "txn", "mode", "acquired", "conflicts")
    },

    // BEGIN / ROLLBACK / COMMIT — the transaction-buffer lifecycle
    // (reference: executor/simple.go CommitStmt/RollbackStmt over the
    // membuffer that q_union_scan reads through; commit sends the
    // buffered mutations to storage, rollback discards them). Three
    // sections of ONE card: (1) in-txn, reads see base+buffer merged
    // (the UnionScan view — delete %29, re-status %13, insert %53
    // appends); (2) after ROLLBACK, the same aggregate over a fresh
    // read equals pure base — the buffer left no trace; (3) after
    // COMMIT, the merged state is PERSISTED (written as the next
    // snapshot and read BACK from disk before aggregating —
    // durability is part of the hash, not an in-memory replay).
    // Scale: commit cost is the q_upsert merge write; rollback is
    // free (drop the buffer).
    Q("q_txn_rollback", Some("""
      WITH merged AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders
        WHERE o_orderkey % 29 <> 3
          AND NOT (o_orderkey % 13 = 4 AND o_orderkey % 29 <> 3)
        UNION ALL
        SELECT o_orderkey, 'T',
               CAST(o_totalprice AS DECIMAL(18,2)) + 25
        FROM orders WHERE o_orderkey % 13 = 4 AND o_orderkey % 29 <> 3
        UNION ALL
        SELECT o_orderkey + 30000000, 'I', CAST(2.0 AS DECIMAL(18,2))
        FROM orders WHERE o_orderkey % 53 = 9),
      base AS (
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders GROUP BY 1),
      m AS (
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(p) AS DOUBLE) AS total
        FROM merged GROUP BY 1)
      SELECT '1_in_txn' AS stage, * FROM m
      UNION ALL SELECT '2_after_rollback', * FROM base
      UNION ALL SELECT '3_after_commit', * FROM m
    """)) { t =>
      val b = t.orders.select(col("o_orderkey"), col("o_orderstatus"),
        Exact.dec2(col("o_totalprice")).as("p"))
      // The transaction's buffered mutations.
      val delKeys = b.filter(col("o_orderkey") % 29 === 3)
        .select("o_orderkey")
      val upd = b.filter(col("o_orderkey") % 13 === 4 &&
          col("o_orderkey") % 29 =!= 3)
        .select(col("o_orderkey"), lit("T").as("o_orderstatus"),
          (col("p") + 25).as("p"))
      val ins = b.filter(col("o_orderkey") % 53 === 9)
        .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
          lit("I").as("o_orderstatus"), Exact.dec2(lit(2.0)).as("p"))
      val touched = delKeys.union(upd.select("o_orderkey"))
      val merged = b
        .join(broadcast(touched), Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("p").cast(upd.schema("p").dataType))
        .union(upd).union(ins)
      def agg(df: org.apache.spark.sql.DataFrame, stage: String) =
        df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            sum(Exact.dec2(col("p"))).cast("double").as("total"))
          .select(lit(stage).as("stage"), col("o_orderstatus"),
            col("cnt"), col("total"))
      // COMMIT: the merged state becomes the next persisted snapshot
      // — written, then read BACK from disk for its section.
      val dir = Layouts.root("txn", t.dir)
      Formats.deleteRecursively(new java.io.File(dir))
      merged.write.mode("overwrite").parquet(dir)
      val committed = t.spark.read.parquet(dir)
      agg(merged, "1_in_txn")
        .unionByName(agg(b, "2_after_rollback"))
        .unionByName(agg(committed, "3_after_commit"))
    },

    // GRANT ... WITH GRANT OPTION — delegated administration
    // (reference: executor/grant.go privilege-checks the GRANTOR
    // before writing any record: granting what you hold requires
    // holding it WITH GRANT OPTION; ERROR 1044/1142 otherwise). The
    // card walks the delegation chain: a mid-tier admin re-grants
    // what it holds, a plain grantee cannot re-grant, granting a
    // privilege the grantor lacks fails atomically (nothing partial
    // lands), and REVOKE GRANT OPTION stops FUTURE delegation while
    // every already-made grant survives — the exact asymmetry the
    // option flag exists for. Every cell is a real Acl.grantAs /
    // verify call.
    Q("q_grant_option", Some("""
      SELECT * FROM (VALUES
        ('1_admin_grants_mid',   1, 0, 0),
        ('2_mid_grants_leaf',    1, 1, 0),
        ('3_leaf_regrant_denied',0, 1, 0),
        ('4_mid_lacks_update',   0, 1, 0),
        ('5_option_revoked',     0, 1, 0)
      ) AS v(stage, grant_ok, leaf_select, leaf2_select)
    """)) { t =>
      import t.spark.implicits._
      Acl.clear()
      def leafSel: Int =
        if (Acl.verify("leaf", "%", "graft", "customer", "SELECT")) 1
        else 0
      def tryGrant(f: => Unit): Int =
        try { f; 1 } catch { case _: IllegalArgumentException => 0 }
      def leaf2Sel: Int =
        if (Acl.verify("leaf2", "%", "graft", "customer", "SELECT")) 1
        else 0
      val out = Seq.newBuilder[(String, Int, Int, Int)]
      // Bootstrap (superuser path): mid holds SELECT, INSERT on
      // graft.customer WITH GRANT OPTION.
      Acl.grant("mid", Seq("SELECT", "INSERT"), db = "graft",
        tbl = "customer", withGrantOption = true)
      out += (("1_admin_grants_mid", 1, leafSel, leaf2Sel))
      out += (("2_mid_grants_leaf", tryGrant(
        Acl.grantAs("mid", "%", "leaf", Seq("SELECT"),
          db = "graft", tbl = "customer")), leafSel, leaf2Sel))
      // leaf holds SELECT but NOT the option: re-granting denies.
      out += (("3_leaf_regrant_denied", tryGrant(
        Acl.grantAs("leaf", "%", "other", Seq("SELECT"),
          db = "graft", tbl = "customer")), leafSel, leaf2Sel))
      // mid cannot delegate UPDATE — it does not hold it at all; the
      // denial is atomic (SELECT in the same statement lands nowhere).
      out += (("4_mid_lacks_update", tryGrant(
        Acl.grantAs("mid", "%", "leaf", Seq("SELECT", "UPDATE"),
          db = "graft", tbl = "customer")), leafSel, leaf2Sel))
      Acl.revokeGrantOption("mid", db = "graft", tbl = "customer")
      // Existing grants survive the option revoke; only FUTURE
      // delegation stops — leaf2 stays empty-handed.
      out += (("5_option_revoked", tryGrant(
        Acl.grantAs("mid", "%", "leaf2", Seq("SELECT"),
          db = "graft", tbl = "customer")), leafSel, leaf2Sel))
      out.result()
        .toDF("stage", "grant_ok", "leaf_select", "leaf2_select")
    },

    // Non-strict sql_mode coercions vs the strict/ANSI path
    // (reference: types/convert.go:367 getValidIntPrefix — a string
    // cast to integer parses its LEADING numeric prefix and warns,
    // '12kg' → 12, pure alpha → 0; :118 ConvertIntToInt — out-of-
    // range values CLAMP to the column bound; ErrTruncated /
    // stmtctx warnings count each coercion). One row per customer
    // carries BOTH modes side by side: the lenient columns are the
    // MySQL defaults expressed as declarative Spark (regexp prefix
    // extract, least/greatest clamp, substr truncation — all
    // codegen'd, no UDF), the strict columns are the ANSI TRY form
    // (NULL where strict mode would error), and `warnings` counts
    // the coercions the row needed — the statement-context warning
    // counter made hashable. Scale: pure per-row expressions inside
    // the scan stage.
    Q("q_sql_mode", Some("""
      SELECT c_custkey,
             CAST(c_custkey AS BIGINT) AS lenient_kg,
             TRY_CAST(c_custkey || 'kg' AS BIGINT) AS strict_kg,
             CAST(0 AS BIGINT) AS lenient_seg,
             TRY_CAST(c_mktsegment AS BIGINT) AS strict_seg,
             CAST(LEAST(GREATEST(c_custkey % 400 - 100, -128), 127)
               AS BIGINT) AS tiny_clamped,
             SUBSTR(c_name || '_' || c_mktsegment, 1, 12) AS vc12,
             CAST(2 + CASE WHEN c_custkey % 400 - 100 > 127
                           THEN 1 ELSE 0 END
                    + CASE WHEN LENGTH(c_name || '_' || c_mktsegment)
                           > 12 THEN 1 ELSE 0 END AS BIGINT)
               AS warnings
      FROM customer WHERE c_custkey < 300
    """)) { t =>
      val kgRaw = concat(col("c_custkey").cast("string"), lit("kg"))
      // getValidIntPrefix: optional sign + leading digits; no valid
      // prefix parses as 0 (with a truncation warning).
      def prefixInt(s: org.apache.spark.sql.Column) =
        coalesce(
          nullif(regexp_extract(s, "^\\s*([+-]?[0-9]+)", 1), lit("")),
          lit("0")).cast("long")
      val tinyIn = col("c_custkey") % 400 - 100
      val vcRaw = concat(col("c_name"), lit("_"), col("c_mktsegment"))
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          prefixInt(kgRaw).as("lenient_kg"),
          expr("try_cast(c_custkey || 'kg' AS BIGINT)").as("strict_kg"),
          prefixInt(col("c_mktsegment")).as("lenient_seg"),
          expr("try_cast(c_mktsegment AS BIGINT)").as("strict_seg"),
          least(greatest(tinyIn, lit(-128)), lit(127)).cast("long")
            .as("tiny_clamped"),
          substring(vcRaw, 1, 12).as("vc12"),
          // Warning counter: the 'kg' parse and the alpha parse each
          // warn on every row; the clamp and the truncation warn
          // when they changed the value.
          (lit(2) + when(tinyIn > 127, 1).otherwise(0) +
            when(length(vcRaw) > 12, 1).otherwise(0)).cast("long")
            .as("warnings"))
    },

    // SELECT ... INTO OUTFILE — the exact BYTE FORMAT (reference:
    // executor/select_into.go:91 escapeField + :131 enclose/null
    // rendering): FIELDS TERMINATED BY ';' OPTIONALLY ENCLOSED BY
    // '"' ESCAPED BY '\\', LINES TERMINATED BY '\n'. The rules the
    // hash pins, straight from the reference: NULL renders as
    // <escape>N (backslash-N); with OPTIONALLY ENCLOSED only
    // string-typed fields get the quotes; inside a field the escape
    // char, the ENCLOSE byte, and the line terminator's first byte
    // are ALWAYS escaped (select_into.go:103 `case b == Escaped ||
    // b == Enclosed`), the field terminator only when NOT enclosed,
    // and escaping prefixes the ORIGINAL byte (an embedded newline
    // becomes backslash + newline byte, not backslash-n) — EXCEPT
    // NUL, which always renders as backslash + the CHARACTER '0'
    // (select_into.go:100 `case b == 0 ... b = '0'`). Decimals
    // render through DECIMAL(18,2) text (the MyDecimal.String()
    // path), never double formatting. The probe names embed the
    // field sep, the quote, the escape char, a real newline, and a
    // NUL byte, so every escape class fires. Output = one rendered
    // line per row (the driver hash compares embedded-newline
    // strings exactly); the byte stream is also written as the
    // OUTFILE for the spec.
    Q("q_select_into", Some("""
      WITH src AS (
        SELECT c_custkey,
               c_name || CASE CAST(c_custkey % 4 AS INT)
                 WHEN 0 THEN ';x'
                 WHEN 1 THEN '"q'
                 WHEN 2 THEN '\x' || chr(10) || 'y'
                 ELSE chr(0) || 'z' END AS nm,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal
        FROM customer WHERE c_custkey < 400)
      SELECT c_custkey,
             CAST(c_custkey AS VARCHAR) || ';' ||
             '"' || replace(replace(replace(replace(
                      nm, '\', '\\'), '"', '\"'),
                      chr(10), '\' || chr(10)), chr(0), '\0')
             || '"' || ';' ||
             COALESCE(CAST(bal AS VARCHAR), '\N') AS line
      FROM src
    """)) { t =>
      val nm = concat(col("c_name"),
        when(col("c_custkey") % 4 === 0, ";x")
          .when(col("c_custkey") % 4 === 1, "\"q")
          .when(col("c_custkey") % 4 === 2, "\\x\ny")
          .otherwise("\u0000z"))
      val bal = when(col("c_custkey") % 7 === 0, lit(null))
        .otherwise(col("c_acctbal").cast("decimal(18,2)"))
      // escapeField for an ENCLOSED string field — the ONE shared
      // spelling (operators/Outfile.escEnclosed, with the NUL → \0
      // class from select_into.go:100); q_load_outfile parses with
      // its inverse, so writer/loader drift fails that entry's
      // source-equality hash.
      val line = concat(
        col("c_custkey").cast("string"), lit(";"),
        lit("\""), Outfile.escEnclosed(nm), lit("\""), lit(";"),
        coalesce(bal.cast("string"), lit("\\N"))).as("line")
      val out = t.customer.filter(col("c_custkey") < 400)
        .select(col("c_custkey"), line)
      // The OUTFILE itself: each row + the '\n' line terminator.
      val dir = Layouts.root("outfile", t.dir)
      Formats.deleteRecursively(new java.io.File(dir))
      out.select(col("line")).write.mode("overwrite").text(dir)
      out
    },

    // SHOW WARNINGS / SHOW COUNT(*) WARNINGS after a non-strict
    // statement (reference: executor/show.go:179 fetchShowWarnings;
    // the stmtctx warning classes q_sql_mode's per-row counter
    // rolls up). The card aggregates the SAME coercion probe into
    // MySQL's per-code warning totals — 1292 truncated-incorrect-
    // value (both string→int prefix parses fire on every row), 1264
    // out-of-range (the TINYINT clamp), 1265 data-truncated (the
    // VARCHAR(12) cut) — every count DERIVED from the data by the
    // engine and restated by the oracle from the same predicates.
    // The rollup is one map-combined aggregate over the probe scan.
    Q("q_show_warnings", Some("""
      SELECT 'Warning' AS level, 1264 AS code,
             'Out of range value for column' AS message,
             CAST(COUNT(CASE WHEN c_custkey % 400 - 100 > 127
                             THEN 1 END) AS BIGINT) AS n
      FROM customer WHERE c_custkey < 300
      UNION ALL
      SELECT 'Warning', 1265, 'Data truncated for column',
             CAST(COUNT(CASE WHEN LENGTH(c_name || '_' || c_mktsegment)
                             > 12 THEN 1 END) AS BIGINT)
      FROM customer WHERE c_custkey < 300
      UNION ALL
      SELECT 'Warning', 1292, 'Truncated incorrect INTEGER value',
             CAST(2 * COUNT(*) AS BIGINT)
      FROM customer WHERE c_custkey < 300
    """)) { t =>
      import t.spark.implicits._
      val tinyIn = col("c_custkey") % 400 - 100
      val vcRaw = concat(col("c_name"), lit("_"), col("c_mktsegment"))
      val probe = t.customer.filter(col("c_custkey") < 300)
        .agg(sum(when(tinyIn > 127, 1L).otherwise(0L)).as("oor"),
          sum(when(length(vcRaw) > 12, 1L).otherwise(0L)).as("trunc"),
          (lit(2L) * count(lit(1))).as("badint"))
        .head()
      Seq(
        ("Warning", 1264, "Out of range value for column",
          probe.getAs[Long]("oor")),
        ("Warning", 1265, "Data truncated for column",
          probe.getAs[Long]("trunc")),
        ("Warning", 1292, "Truncated incorrect INTEGER value",
          probe.getAs[Long]("badint")))
        .toDF("level", "code", "message", "n")
    },
  )
}
