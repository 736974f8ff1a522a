package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** MATCH over the DECLARED graph catalog (typed vertex/edge tables),
  * beside GraphQueries' derived-edge-list suite. Reference anchors:
  * ddl/db_test.go:7662 (people1 + friend1/friend2 DDL),
  * planner/core/logical_plan_builder.go:6567/6619 (each hop's edge
  * table resolved by name, destination vertex from its EdgeOptions),
  * parser/parser_test.go:6512 (chained `.out(label).(vertex)` syntax
  * with per-element WHERE).
  */
object CatalogQueries {

  private val ctes = GraphCatalog.oracleCtes

  val all: Seq[Q] = Seq(

    // Per-label edge-table scan with edge-property predicates — the
    // reference's `select * from f2 where src = 1 and dst = 2` read
    // path (executor/write_test.go:4270) generalized: the label picks
    // ONE edge table, property predicates prune it at the scan, and
    // the OTHER edge types are never touched (no union-of-labels).
    Q("g_catalog_edges", Some(s"""
      $ctes
      SELECT src, dst, since, strength
      FROM knows
      WHERE strength >= 95 AND src <= 200
    """)) { t =>
      val d = GraphCatalog.declared(t).edge("knows")
      d.edges.filter(col("strength") >= 95 && col("src") <= 200)
        .select("src", "dst", "since", "strength")
    },

    // Vertex-property + chosen-edge-table profile: person vertices
    // filtered on their OWN properties, out-degree counted over ONE
    // selected edge type (knows), invited untouched.
    Q("g_catalog_vertex", Some(s"""
      $ctes
      SELECT p.vertex_id AS vertex_id, p.nation AS nation,
             COUNT(*) AS out_deg
      FROM person p JOIN knows k ON k.src = p.vertex_id
      WHERE p.acctbal > 5000
      GROUP BY 1, 2
    """)) { t =>
      val cat = GraphCatalog.declared(t)
      val p = cat.vertex("person").filter(col("acctbal") > 5000)
      p.join(cat.edge("knows").edges, p("vertex_id") === col("src"))
        .groupBy("vertex_id", "nation")
        .agg(count(lit(1)).as("out_deg"))
    },

    // Heterogeneous typed-edge chain MATCH:
    //   match (person as a where a.nation < 5)
    //     .out(knows   as k where k.since >= '1996-01-01' and k.strength > 50)
    //     .(person as b)
    //     .out(invited as i where i.amount > 150000)
    //     .(person as c where c.acctbal > 0)
    // Hop 1 and hop 2 traverse DIFFERENT edge tables, each selected by
    // label and pruned on its own property columns BEFORE its join
    // (the planner's prefix-pruning rule). All joins are keyed on the
    // pattern variable — co-partitioned, never |E|².
    Q("g_match_typed", Some(s"""
      $ctes
      SELECT a.vertex_id AS a, COUNT(*) AS n_paths,
             CAST(COUNT(DISTINCT c.vertex_id) AS BIGINT) AS n_c
      FROM person a
      JOIN knows k   ON k.src = a.vertex_id
      JOIN person b  ON b.vertex_id = k.dst
      JOIN invited i ON i.src = b.vertex_id
      JOIN person c  ON c.vertex_id = i.dst
      WHERE a.nation < 5 AND k.since >= DATE '1996-01-01'
        AND k.strength > 50 AND i.amount > 150000 AND c.acctbal > 0
      GROUP BY 1
    """)) { t =>
      GraphCatalog.declared(t)
        .from("person", "a", col("a_nation") < 5)
        .out("knows", "k",
          col("k_since") >= lit("1996-01-01").cast("date") &&
            col("k_strength") > 50,
          "b")
        .out("invited", "i", col("i_amount") > 150000,
          "c", col("c_acctbal") > 0)
        .frame
        .groupBy(col("a_vertex_id").as("a"))
        .agg(count(lit(1)).as("n_paths"),
          countDistinct(col("c_vertex_id")).as("n_c"))
    },

    // Label choice is semantic, not cosmetic: the SAME pattern shape
    // anchored on the SAME vertex predicate but traversing `invited`
    // (its `prio` property in the predicate) — a per-edge-table
    // selection proof that lives in the correctness gate itself.
    Q("g_match_choice", Some(s"""
      $ctes
      SELECT a.vertex_id AS a, i.prio AS prio, COUNT(*) AS n_b
      FROM person a
      JOIN invited i ON i.src = a.vertex_id
      JOIN person b  ON b.vertex_id = i.dst
      WHERE a.nation < 5 AND i.prio < '3'
      GROUP BY 1, 2
    """)) { t =>
      GraphCatalog.declared(t)
        .from("person", "a", col("a_nation") < 5)
        .out("invited", "i", col("i_prio") < "3", "b")
        .frame
        .groupBy(col("a_vertex_id").as("a"), col("i_prio").as("prio"))
        .agg(count(lit(1)).as("n_b"))
    },

    // HETEROGENEOUS-vertex MATCH: the hop's destination table is
    // resolved from the EDGE's declaration, not assumed equal to the
    // source (reference: logical_plan_builder.go:6639 — destination
    // schema from edgeTableInfo.EdgeOptions.Destination) — person
    // anchors, `bought` hops into the PRODUCT vertex table, and the
    // pattern filters on properties of all three element types.
    Q("g_match_hetero", Some(s"""
      $ctes
      SELECT a.vertex_id AS a, COUNT(*) AS n_products,
             CAST(COUNT(DISTINCT p.brand) AS BIGINT) AS n_brands
      FROM person a
      JOIN bought b  ON b.src = a.vertex_id
      JOIN product p ON p.vertex_id = b.dst
      WHERE a.acctbal > 8000 AND b.qty >= 60 AND p.size < 25
      GROUP BY 1
    """)) { t =>
      GraphCatalog.declared(t)
        .from("person", "a", col("a_acctbal") > 8000)
        .out("bought", "b", col("b_qty") >= 60,
          "p", col("p_size") < 25)
        .frame
        .groupBy(col("a_vertex_id").as("a"))
        .agg(count(lit(1)).as("n_products"),
          countDistinct(col("p_brand")).as("n_brands"))
    },

    // IN-direction typed hop (reference: parser/ast/graph.go:76
    // GraphEdgeDirectionIn; the planner resolves the SAME declared
    // edge table and flips which end binds — "who invited me", not
    // "whom I invited"). The pattern composes IN with OUT in one
    // chain: anchor a, hop IN-ward over `invited` to the INVITER b
    // (frame key joins the edge's dst; b binds the edge's declared
    // SOURCE table), then OUT-ward over `knows` from b to c —
    // closing the direction matrix on the typed side the way
    // g_catalog_reach closed BOTH for the kernel side. Every join is
    // keyed on the pattern variable (plan-asserted: no cartesian).
    Q("g_match_in", Some(s"""
      $ctes
      SELECT a.vertex_id AS a, COUNT(*) AS n_paths,
             CAST(COUNT(DISTINCT b.vertex_id) AS BIGINT) AS n_inviters,
             CAST(COUNT(DISTINCT c.vertex_id) AS BIGINT) AS n_c
      FROM person a
      JOIN invited i ON i.dst = a.vertex_id
      JOIN person b  ON b.vertex_id = i.src
      JOIN knows k   ON k.src = b.vertex_id
      JOIN person c  ON c.vertex_id = k.dst
      WHERE a.nation < 5 AND i.amount > 150000 AND k.strength > 80
      GROUP BY 1
    """)) { t =>
      GraphCatalog.declared(t)
        .from("person", "a", col("a_nation") < 5)
        .in("invited", "i", col("i_amount") > 150000, "b")
        .out("knows", "k", col("k_strength") > 80, "c")
        .frame
        .groupBy(col("a_vertex_id").as("a"))
        .agg(count(lit(1)).as("n_paths"),
          countDistinct(col("b_vertex_id")).as("n_inviters"),
          countDistinct(col("c_vertex_id")).as("n_c"))
    },

    // UNDIRECTED typed hop — `(person as a) -[knows as k]- (person
    // as b)` (reference: parser/ast/graph.go:78
    // GraphEdgeDirectionBoth). With g_match_typed/g_match_in this
    // closes the FULL direction matrix (OUT / IN / BOTH) on the
    // typed side. Semantics pinned by the card: each edge row
    // matches ONCE whichever way it points (n_edges counts edge
    // bindings — an edge pair (x,y)+(y,x) contributes twice because
    // those are two edges), and a self-loop binds only once. Both
    // arms are keyed equi-joins; the union doubles candidates,
    // never |E|².
    Q("g_match_both", Some(s"""
      $ctes
      SELECT a, COUNT(*) AS n_edges,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS n_nbrs,
             CAST(MAX(strength) AS BIGINT) AS max_strength
      FROM (
        SELECT a.vertex_id AS a, b.vertex_id AS b, k.strength
        FROM person a JOIN knows k ON k.src = a.vertex_id
                      JOIN person b ON b.vertex_id = k.dst
        WHERE a.nation < 3 AND k.strength > 90
        UNION ALL
        SELECT a.vertex_id, b.vertex_id, k.strength
        FROM person a JOIN knows k ON k.dst = a.vertex_id
                      JOIN person b ON b.vertex_id = k.src
        WHERE a.nation < 3 AND k.strength > 90
          AND k.src <> k.dst) u
      GROUP BY 1
    """)) { t =>
      GraphCatalog.declared(t)
        .from("person", "a", col("a_nation") < 3)
        .both("knows", "k", col("k_strength") > 90, "b")
        .frame
        .groupBy(col("a_vertex_id").as("a"))
        .agg(count(lit(1)).as("n_edges"),
          countDistinct(col("b_vertex_id")).as("n_nbrs"),
          max(col("k_strength")).as("max_strength"))
    },

    // MULTI-PATH MATCH (reference: parser/ast/graph.go:62
    // GraphPattern.Paths — one MATCH holds SEVERAL path patterns;
    // planner/core/logical_plan_builder.go:6484 buildGraph plans each
    // path independently and combines them with LogicalUnionAll at
    // :6499, buildProjection4Union aligning the schemas). THREE path
    // children: two over `knows` with OVERLAPPING property
    // predicates (every strength>90 binding is also a strength>=85
    // binding, so it appears twice — the multiplicity column pins
    // the reference's UNION-ALL bag semantics; a UNION-distinct
    // would hash-differ on exactly those pairs) and one over
    // `invited` (per-label selection inside one MATCH). Each path
    // prunes its own edge table on its own properties before its
    // hop join.
    Q("g_match_multipath", Some(s"""
      $ctes,
      p1 AS (
        SELECT a.vertex_id AS a, k.dst AS b
        FROM person a JOIN knows k ON k.src = a.vertex_id
        WHERE a.nation < 5 AND k.strength > 90),
      p2 AS (
        SELECT a.vertex_id AS a, k.dst AS b
        FROM person a JOIN knows k ON k.src = a.vertex_id
        WHERE a.nation < 5 AND k.strength >= 85),
      p3 AS (
        SELECT a.vertex_id AS a, i.dst AS b
        FROM person a JOIN invited i ON i.src = a.vertex_id
        WHERE a.nation < 5 AND i.prio < '3')
      SELECT a, b, COUNT(*) AS multiplicity
      FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
            UNION ALL SELECT * FROM p3)
      GROUP BY 1, 2
    """)) { t =>
      val cat = GraphCatalog.declared(t)
      def path(label: String, ew: org.apache.spark.sql.Column) = cat
        .from("person", "a", col("a_nation") < 5)
        .out(label, "e", ew, "b")
        .frame
        .select(col("a_vertex_id").as("a"), col("b_vertex_id").as("b"))
      path("knows", col("e_strength") > 90)
        .union(path("knows", col("e_strength") >= 85))
        .union(path("invited", col("e_prio") < "3"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("multiplicity"))
    },

    // ANY SHORTEST over a CHOSEN typed edge table (reference:
    // logical_plan_builder.go:6709 buildGraphPathAnyShortest — the
    // path-typed MATCH variant, one OUT edge table with a bound
    // destination). Multi-source level-synchronized BFS over `knows`
    // edges PRUNED on an edge property before traversal; ≤4 hops; per
    // (source, level): reachable-node counts. The levels chain in ONE
    // lazy plan (4 keyed joins — the g_closeness shape) and the
    // distance fold is a (source, node) min — state is |sources|·|V|
    // bounded, never paths.
    Q("g_catalog_shortest", Some(s"""
      ${ctes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ke AS (SELECT src, dst FROM knows WHERE strength >= 30),
      srcs AS (SELECT vertex_id FROM person WHERE vertex_id <= 20),
      w(a, node, d) AS (
        SELECT vertex_id, vertex_id, 0 FROM srcs
        UNION
        SELECT w.a, ke.dst, w.d + 1
        FROM w JOIN ke ON ke.src = w.node WHERE w.d < 4)
      SELECT a, dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM (SELECT a, node, MIN(d) AS dist FROM w GROUP BY 1, 2)
      GROUP BY 1, 2
    """)) { t =>
      val cat = GraphCatalog.declared(t)
      val ke = cat.edge("knows").edges.filter(col("strength") >= 30)
        .select("src", "dst")
      val seed = cat.vertex("person").filter(col("vertex_id") <= 20)
        .select(col("vertex_id").as("a"), col("vertex_id").as("node"),
          lit(0).as("d"))
      var levels = List(seed)
      for (d <- 1 to 4) {
        val f = levels.head.select("a", "node")
        levels ::= f.join(ke, f("node") === ke("src"))
          .select(col("a"), col("dst").as("node")).distinct()
          .select(col("a"), col("node"), lit(d).as("d"))
      }
      levels.reduce(_ union _)
        .groupBy("a", "node").agg(min(col("d")).as("dist"))
        .groupBy("a", "dist")
        .agg(count(lit(1)).as("n_nodes"))
    },

    // ALL SHORTEST over a declared edge table (reference:
    // parser/ast/graph.go:70 GraphPathPatternTypeAllShortestPath;
    // executor/graph_shortest.go:192 computeShortestAll — distance
    // AND shortest-path multiplicity, not just reachability). The
    // typed twin of g_shortest_all: the `knows` edge table is chosen
    // by label and pruned on its OWN strength property BEFORE the
    // traversal, then the level-synchronous path-count BFS runs the
    // same |V|-bounded recurrence (a node first reached at depth d
    // counts Σ n_paths of its depth-(d−1) predecessors) — state is
    // (node, dist, n_paths) rows, never path enumerations.
    Q("g_catalog_allshortest", Some(s"""
      ${ctes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ke AS (SELECT src, dst FROM knows WHERE strength >= 40),
      w(node, d) AS (
        SELECT CAST(1 AS BIGINT), 0
        UNION ALL
        SELECT ke.dst, w.d + 1 FROM w JOIN ke ON ke.src = w.node
        WHERE w.d < 4),
      m AS (SELECT node, MIN(d) AS md FROM w GROUP BY node)
      SELECT w.node, CAST(m.md AS INT) AS dist, COUNT(*) AS n_paths
      FROM w JOIN m ON w.node = m.node AND w.d = m.md
      GROUP BY w.node, m.md
    """)) { t =>
      Graph(catalogEdges(t, "knows", col("strength") >= 40))
        .shortestPathCounts(1L, "out", maxHops = 4)
    },

    // TOP-K SHORTEST paths over a declared edge table (reference:
    // parser/ast/graph.go:71 GraphPathPatternTypeTopKShortestPath).
    // The target is DERIVED, not pinned: the smallest vertex at
    // exact BFS distance 3 from the anchor in the pruned typed graph
    // — SF-invariant by construction (a fixed literal target drifts
    // out of reach as |V| grows with SF). That distance probe is the
    // same level-chained BFS every shortest entry runs; its result
    // folds to ONE driver scalar (the g_coreness convergence-scalar
    // discipline — bounded O(1) collect, never rows). Enumeration
    // then rides the shared distance-pruned simple-path machinery
    // with the k early-exit (g_topk_paths core) over the
    // label-selected, property-pruned edge table.
    Q("g_catalog_topk", Some(s"""
      ${ctes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ke AS (SELECT src, dst FROM knows WHERE strength >= 40),
      wd(node, d) AS (
        SELECT CAST(1 AS BIGINT), 0
        UNION
        SELECT ke.dst, wd.d + 1 FROM wd JOIN ke ON ke.src = wd.node
        WHERE wd.d < 3),
      tgt AS (SELECT MIN(node) AS tv
              FROM (SELECT node, MIN(d) AS md FROM wd GROUP BY node)
              WHERE md = 3),
      p(node, path, len) AS (
        SELECT CAST(1 AS BIGINT), '1', 0
        UNION ALL
        SELECT ke.dst, p.path || '->' || ke.dst, p.len + 1
        FROM p JOIN ke ON ke.src = p.node, tgt
        WHERE p.len < 4 AND p.node <> tgt.tv
          AND instr('->' || p.path || '->', '->' || ke.dst || '->') = 0)
      SELECT CAST(len AS INT) AS len, path
      FROM p, tgt WHERE node = tgt.tv ORDER BY len, path LIMIT 3
    """)) { t =>
      val ke = catalogEdges(t, "knows", col("strength") >= 40)
      val g = Graph(ke)
      g.topKShortestPaths(1L,
        derivedTarget(t, "knows", col("strength") >= 40, g),
        k = 3, maxHops = 4)
    },

    // ALL bounded paths over a declared edge table (reference:
    // parser/ast/graph.go:72 GraphPathPatternTypeAllPath — the bare
    // ALL quantifier): every simple path anchor→target within the
    // hop budget, rendered. Same derived target and the same
    // enumeration core as g_catalog_topk minus the k cut; the
    // distance-to-target prune stays exact for full enumeration.
    // Tractable WITHOUT a degree cap here because the typed
    // strength-prune bounds the frontier (measured ≤ ~10k partial
    // paths at every shipped SF) — the property predicate does the
    // job g_allpaths needs its per-source cap for.
    Q("g_catalog_allpaths", Some(s"""
      ${ctes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ke AS (SELECT src, dst FROM knows WHERE strength >= 40),
      wd(node, d) AS (
        SELECT CAST(1 AS BIGINT), 0
        UNION
        SELECT ke.dst, wd.d + 1 FROM wd JOIN ke ON ke.src = wd.node
        WHERE wd.d < 3),
      tgt AS (SELECT MIN(node) AS tv
              FROM (SELECT node, MIN(d) AS md FROM wd GROUP BY node)
              WHERE md = 3),
      p(node, path, len) AS (
        SELECT CAST(1 AS BIGINT), '1', 0
        UNION ALL
        SELECT ke.dst, p.path || '->' || ke.dst, p.len + 1
        FROM p JOIN ke ON ke.src = p.node, tgt
        WHERE p.len < 4 AND p.node <> tgt.tv
          AND instr('->' || p.path || '->', '->' || ke.dst || '->') = 0)
      SELECT CAST(len AS INT) AS len, path
      FROM p, tgt WHERE node = tgt.tv ORDER BY len, path
    """)) { t =>
      val ke = catalogEdges(t, "knows", col("strength") >= 40)
      val g = Graph(ke)
      g.allPaths(1L, derivedTarget(t, "knows", col("strength") >= 40, g),
        maxHops = 4)
    },

    // ANY-path reachability over a declared edge table, BOTH
    // direction (reference: parser/ast/graph.go:68
    // GraphPathPatternTypeAnyPath + ast/graph.go
    // GraphEdgeDirectionBoth) — with this row the typed catalog
    // covers ALL SIX pattern types the parser enumerates (Simple =
    // g_match_typed, AnyPath here, AnyShortest = g_catalog_shortest,
    // AllShortest, TopK, AllPath). The strength-pruned knows table
    // is symmetrized ONCE (union-distinct, checkpointed) and the
    // whole multi-source expansion is one lazy level chain — the
    // shared Graph.reach kernel, distinct-bounded per level.
    Q("g_catalog_reach", Some(s"""
      ${ctes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ke AS (SELECT src, dst FROM knows WHERE strength >= 60),
      u AS (SELECT src, dst FROM ke UNION SELECT dst, src FROM ke),
      r(node, d) AS (
        SELECT vertex_id, 0 FROM person WHERE vertex_id <= 10
        UNION
        SELECT u.dst, r.d + 1 FROM r JOIN u ON u.src = r.node
        WHERE r.d < 3)
      SELECT DISTINCT node FROM r
    """)) { t =>
      val cat = GraphCatalog.declared(t)
      val sources = cat.vertex("person").filter(col("vertex_id") <= 10)
        .select(col("vertex_id").cast("long").as("src"))
      Graph(catalogEdges(t, "knows", col("strength") >= 60))
        .reach(sources, "both", maxHops = 3)
    },

    // WEIGHTED shortest over a declared edge table — cost = the
    // edge's OWN strength property (+1 so no zero-cost cycles), the
    // typed twin of g_shortest_weighted (reference: graph_shortest.go
    // tracks hop counts; the edge-property weight generalizes it the
    // way knows.strength weights g_catalog_pagerank). |V|-bounded
    // Bellman-Ford relaxation with the (rows, Σdist) early stop —
    // the tentative-distance table shuffles on node, never paths.
    Q("g_catalog_wshortest", Some(s"""
      ${ctes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      we AS (SELECT src, dst, strength + 1 AS w FROM knows),
      p(node, cost, hops) AS (
        SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
        UNION ALL
        SELECT we.dst, p.cost + we.w, p.hops + 1
        FROM p JOIN we ON we.src = p.node WHERE p.hops < 4)
      SELECT node, MIN(cost) AS wdist FROM p GROUP BY node
    """)) { t =>
      val cat = GraphCatalog.declared(t)
      val e = cat.edge("knows").edges
      val we = e.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        (col("strength") + 1).cast("long").as("w"))
      Graph(we.select("src", "dst")).weightedShortest(we, 1L, maxHops = 4)
    },

    // Connected components WITHIN a declared edge table under a
    // per-label property filter — "communities inside knows with
    // strength ≥ 90" (reference: ddl/db_test.go:7662 typed-graph DDL
    // + the CC analytics users run on typed graphs). The Graph.cc
    // kernel (min-label propagation, label-sum convergence, two
    // rounds per checkpoint) runs unchanged against the
    // label-selected, property-pruned edge table; the threshold is
    // chosen where the typed graph actually FRAGMENTS (5 / 41
    // components at sf0.001 / sf0.01 — not one giant blob), so the
    // labels carry information. Oracle materializes the quadratic
    // closure — oracle-scale only; the |V|-row propagation is the
    // form that scales.
    Q("g_catalog_components", Some(s"""
      ${ctes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ke AS (SELECT src, dst FROM knows WHERE strength >= 90),
      u AS (SELECT src, dst FROM ke UNION SELECT dst, src FROM ke),
      r(a, b) AS (
        SELECT src, src FROM u
        UNION
        SELECT r.a, u.dst FROM r JOIN u ON u.src = r.b)
      SELECT a AS node, MIN(b) AS component FROM r GROUP BY a
    """)) { t =>
      Graph(catalogEdges(t, "knows", col("strength") >= 90))
        .connectedComponents()
    },

    // WEIGHTED PageRank over a declared edge table — the typed-graph
    // twin of g_pagerank: rank mass flows proportional to the edge's
    // OWN weight property (knows.strength + 1), w_uv / W_u instead of
    // 1/deg(u). Same loop discipline as Graph.pageRank (weight-fused
    // edge table hash-partitioned on src and checkpointed once; per
    // round the |E| side stays in place and only the |V|-row rank
    // state shuffles; NO forced broadcast — AQE picks it while the
    // rank side is measured-small). Weights are integer-valued so
    // W_u is exact in double on both engines; 6 rounds, 6dp at the
    // end only (the g_pagerank float discipline).
    Q("g_catalog_pagerank", Some(weightedPageRankOracle(6))) { t =>
      // The weighted-PageRank state (fused weight+degree edge table
      // and the node set) is memoized per (session, dir) — the
      // Graph.prState pattern for the DECLARED weighted graph: both
      // are pure derivations of the immutable knows table, and each
      // run was re-paying the catalog build + two checkpoints before
      // its six relaxation rounds.
      val (nodes, ew) = weightedPrState(t)
      def prRound(r: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val contrib = r.join(ew, col("node") === col("src"))
          .select(col("dst").as("cn"),
            (col("rank") * col("w") / col("wsum")).as("c"))
          .groupBy("cn").agg(sum(col("c")).as("c"))
        nodes.join(contrib, col("node") === col("cn"), "left")
          .select(col("node"),
            (lit(0.15) + lit(0.85) * coalesce(col("c"), lit(0.0)))
              .as("rank"))
      }
      // Loop.rounds: two relaxation rounds per checkpoint/job (the
      // Graph.pageRank chaining), half the |V|-row materializations.
      Loop.rounds(nodes.select(col("node"), lit(1.0).as("rank")), 6)(prRound)
        .select(col("node"), round(col("rank"), 6).as("rank"))
    },

    // Graph DML over the declared catalog — DELETE edges by
    // predicate, then INSERT IGNORE a derived edge batch, and a
    // MATCH-style degree profile reads the POST-state (reference:
    // executor/write_test.go:4246 TestWriteGraph — inserts into
    // typed edge tables, `delete from f2 where src = 1 and dst = 3`
    // at :4278, reads reflecting the mutation; edge identity is
    // (src, dst), so re-inserting an existing pair is ignored, the
    // insert.go duplicate-key-IGNORE path). Statement order is the
    // reference's: the delete lands first, the insert batch reads
    // the post-delete state. The batch is the REVERSE of strong
    // edges (strength >= 98) — reciprocity injection, the mutation a
    // social-graph pipeline actually runs. Scale: the delete is a
    // scan-time filter, the insert-ignore is one (src, dst)-keyed
    // anti join of batch against table — co-partitioned, |batch|
    // bounded by the strong-edge count, never |E|².
    Q("g_catalog_mutate", Some(s"""
      $ctes,
      knows2 AS (SELECT * FROM knows WHERE strength >= 5),
      ins AS (
        SELECT k.dst AS src, k.src AS dst, k.since, k.strength
        FROM knows2 k
        WHERE k.strength >= 98
          AND NOT EXISTS (SELECT 1 FROM knows2 e
                          WHERE e.src = k.dst AND e.dst = k.src)),
      post AS (SELECT * FROM knows2 UNION ALL SELECT * FROM ins)
      SELECT src AS vertex_id, CAST(COUNT(*) AS BIGINT) AS out_deg,
             MAX(strength) AS max_strength,
             CAST(MIN(since) AS DATE) AS first_since
      FROM post WHERE src <= 300 GROUP BY 1
    """)) { t =>
      mutatedKnows(GraphCatalog.declared(t).edge("knows").edges)
        .filter(col("src") <= 300)
        .groupBy(col("src").as("vertex_id"))
        .agg(count(lit(1)).as("out_deg"),
          max(col("strength")).as("max_strength"),
          min(col("since")).as("first_since"))
    },
  )

  /** g_catalog_mutate's statement pair over any knows-shaped edge
    * table (src, dst, since, strength): DELETE strength < 5, then
    * INSERT IGNORE the reverse of strength >= 98 edges — the insert
    * batch reads the POST-delete state (a weak reverse edge no
    * longer blocks the insert), and the (src, dst) anti join is the
    * duplicate-key-IGNORE path. Factored out so the spec can drive
    * it over a synthetic table where both corners are constructed. */
  private[graft] def mutatedKnows(
      knows: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val knows2 = knows.filter(col("strength") >= 5)
    val ins = knows2.filter(col("strength") >= 98)
      .select(col("dst").as("src"), col("src").as("dst"),
        col("since"), col("strength"))
      .join(knows2.select("src", "dst"), Seq("src", "dst"),
        "left_anti")
    knows2.unionByName(ins)
  }

  /** The label-selected, property-pruned (src, dst) edge list every
    * typed path-pattern entry traverses: ONE spelling of "resolve
    * the edge table by label, apply its WHERE before the hop" so the
    * six pattern types cannot prune differently. Long-typed ids —
    * the path kernels render/seed BIGINT nodes. */
  /** Per-session memo of the pruned typed edge lists AND the derived
    * BFS targets, keyed (dir, label, predicate-render) — the
    * SampleStats.boundsRow pattern: the strength>=40 knows list is
    * consumed by THREE path entries (allshortest / topk / allpaths)
    * and the distance-3 target probe by two, and each build is an
    * orders-scan + groupBy + checkpoint. The declared tables are
    * pure derivations of the immutable source dir (mutating entries
    * build their OWN mutated copies), so the memoized checkpoint
    * stays valid for the session's lifetime. */
  private val edgeMemo = new graft.tools.SessionMemo[
    (String, String, String), org.apache.spark.sql.DataFrame]
  private val targetMemo = new graft.tools.SessionMemo[
    (String, String, String), Long]

  /** Per-session memo of the weighted-PageRank state over the
    * declared `knows` table — (node set, fused (src, dst, w, wsum)
    * edge table), both checkpointed: pure derivations of the
    * immutable source dir that every run re-built before its
    * relaxation rounds. */
  private val wprMemo = new graft.tools.SessionMemo[String,
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]

  private def weightedPrState(t: Tables)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    wprMemo.get(t.spark, t.dir) {
      val e = GraphCatalog.declared(t).edge("knows").edges
        .select(col("src"), col("dst"),
          (col("strength") + 1).cast("double").as("w"))
        .localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      val ew = e.join(
          e.groupBy(col("src").as("d_node")).agg(sum(col("w")).as("wsum")),
          col("src") === col("d_node"))
        .select(col("src"), col("dst"), col("w"), col("wsum"))
        .repartition(col("src"))
        .localCheckpoint()
      (nodes, ew)
    }

  private def catalogEdges(t: Tables, label: String,
      edgeWhere: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    // Materialized ONCE per (dir, label, predicate): every caller
    // hands these edges to an iterative Graph kernel (BFS levels,
    // relaxation rounds, label propagation), and without the
    // checkpoint each level's job would re-run the whole
    // declared-table build (orders scan + groupBy) — the
    // derived-target probe plus a 4-hop enumeration was paying the
    // knows build 7+ times; the memo extends the same reuse across
    // the entries that prune identically.
    edgeMemo.get(t.spark, (t.dir, label, edgeWhere.toString))(
      GraphCatalog.declared(t).edge(label).edges
        .filter(edgeWhere)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .localCheckpoint())

  /** The SF-invariant path target: MIN vertex at exact BFS distance
    * 3 from anchor 1 in the pruned typed graph. One bounded driver
    * scalar (a 1-row aggregate collect — the convergence-scalar
    * pattern, not a row collect); throws rather than degrades when
    * the frontier is empty, because a missing target means the
    * catalog data itself changed shape. */
  private def derivedTarget(t: Tables, label: String,
      edgeWhere: org.apache.spark.sql.Column, g: Graph): Long =
    targetMemo.get(t.spark, (t.dir, label, edgeWhere.toString)) {
      val r = g.shortestDistances(1L, "out", maxHops = 3)
        .filter(col("dist") === 3).agg(min(col("node"))).head()
      require(!r.isNullAt(0), "no vertex at distance 3 from anchor 1")
      r.getLong(0)
    }

  /** Unrolled weighted-PageRank oracle over the declared `knows`
    * table (the pageRankOracle shape with w_uv / W_u shares; every
    * shared CTE MATERIALIZED so DuckDB doesn't re-derive the catalog
    * per round). */
  private def weightedPageRankOracle(iters: Int): String = {
    val stages = (1 to iters).map { i =>
      s"""r$i AS (
        SELECT n.node, 0.15 + 0.85 * COALESCE(s.c, 0) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM(r.rank * e.w / d.wsum) AS c
          FROM r${i - 1} r
          JOIN wdeg d ON d.node = r.node
          JOIN e ON e.src = r.node
          GROUP BY e.dst) s ON n.node = s.node)"""
    }.mkString(",\n      ")
    s"""
      ${ctes.replace(" AS (", " AS MATERIALIZED (")},
      e AS MATERIALIZED (
        SELECT src, dst, CAST(strength + 1 AS DOUBLE) AS w FROM knows),
      nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e) x),
      wdeg AS MATERIALIZED (
        SELECT src AS node, CAST(SUM(w) AS DOUBLE) AS wsum
        FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
      $stages
      SELECT node, ROUND(rank, 6) AS rank FROM r$iters
    """
  }
}
