package graft.catalogue

import org.apache.spark.sql.functions._

import graft.NorthStar._
import graft.SessionCache
import graft.oracle.OracleSql._
import graft.functions.{Hashing, TextFunctions => TF, VectorFunctions => VF}

/**
 * The graph tier: PageRank, BFS, triangles, components, k-core, label
 * propagation and the other graph operators over the co-order and
 * supplier-part edge sets, plus the per-source sketches.
 */
object GraphQueries {

  // per-source MinHash sketch as a TWO-LEVEL aggregate: the codegen'd
  // MinHashSignature expression reduces each document to its k-wide
  // signature in one primitive pass, then MinHashMergeAgg
  // (TypedImperativeAggregate, map-side-combined) folds signatures into
  // the per-source sketch with k comparisons per document — min
  // commutes with min, so this equals the per-token MinHashAgg
  // formulation (law-tested in AggregatesSpec) at a fraction of the
  // interpreted-update volume. Then pairwise estimated token-set
  // Jaccard between sources; the source set is small bounded metadata
  // (like partitions/tenants at 100 TB), so the pair join broadcasts a
  // handful of sketches. The hash family is FnvMinHashSignature
  // (MinHashMix) precisely so the oracle can replay the sketch in
  // HUGEINT arithmetic — min-of-mins makes the two-level aggregate
  // equal a flat min over each source's token set, which is what the
  // SQL twin computes.
  val g01 = Query("g01_source_sketch", (s, dir) => {
      // the sketch table is memoized+persisted per (session, dir): it feeds
      // BOTH sides of the pair join (one aggregation, not two) and repeated
      // invocations must not stack fresh persists (releaseCaches frees it)
      val sk = SessionCache.memo(s, dir, "sketch") {
        val t = docs(s, dir)
          .select(col("source"),
            Hashing.fnvMinhashSignature(TF.tokens(col("text")), 128).as("doc_sig"))
          .groupBy(col("source"))
          .agg(Hashing.minhashMergeAgg(col("doc_sig"), 128).as("sig"))
          .persist()
        t.count() // materialize the handful of per-source sketches once
        t
      }
      sk.as("a").join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          Hashing.minhashEstJaccard(col("a.sig"), col("b.sig")).as("est_jaccard"))
    },
    // Replays the whole two-level sketch flat: per-source distinct token
    // set (min-of-mins collapses the doc level), FNV base hash, the
    // MinHashMix finalizer per component j, signed min per (source, j),
    // then per-pair equal-component fraction. k = 128.
    s"""WITH tok AS (SELECT DISTINCT source, t FROM
              (SELECT source, unnest($sqlToks) AS t FROM documents)),
            hh AS (SELECT source, ${fnvSql("t")} AS hu FROM tok),
            sig AS (SELECT source, j, min(${signedSql(mixSql("hu", "j"))}) AS v
                    FROM hh CROSS JOIN (SELECT unnest(range(128)) AS j)
                    GROUP BY 1, 2)
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(count(*) FILTER (WHERE a.v = b.v) AS DOUBLE) / 128
                   AS est_jaccard
          FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
          GROUP BY 1, 2""")

  // iterative graph computation: 3 PageRank rounds over the
  // supplier↔part bipartite graph (distinct lineitem incidences, both
  // directions). Ranks are FIXED-POINT BIGINTs (scale 10^12) and the
  // update uses integer div — exact, order-independent arithmetic, so
  // a distributed iteration is bit-reproducible and SQL-replayable
  // (floats would make every re-partitioning a different answer).
  // Each round is one join on src (ranks are co-partitioned after the
  // first) + one sum by dst; no driver-side state. Overflow bound
  // (ANSI mode throws rather than wraps): 85·max_indegree·scale must
  // stay under 2^63 — callers shrink `scale` for hub-heavier graphs.
  val g02 = Query("g02_pagerank", (s, dir) => {
      val scale = 1000000000000L
      // shared memoized bipartite edge table (see supplierPartEdges):
      // one distinct build serves g02/g04/g12 instead of one per query
      val both = graft.operators.Graph.bothDirections(supplierPartEdges(s, dir), "s", "p")
      val outdeg = both.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nodes = both.select(col("src").as("node")).distinct()
      var ranks = nodes.select(col("node"), lit(scale).as("rank"))
      for (_ <- 1 to 3) {
        val contrib = both
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .join(outdeg, Seq("src"))
          .select(col("dst").as("node"), expr("rank div deg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(scale * 15L / 100L) +
              expr(s"(85 * coalesce(in_sum, 0L)) div 100")).as("rank"))
      }
      ranks
    },
    {
      def round(prev: String, out: String) =
        s"""c$out AS (SELECT e.dst AS node, SUM($prev.rank // d.deg) AS in_sum
                      FROM e JOIN $prev ON e.src = $prev.node
                      JOIN deg d ON e.src = d.src GROUP BY 1),
            $out AS (SELECT n.node,
                       150000000000 + (85 * COALESCE(c$out.in_sum, 0)) // 100 AS rank
                     FROM n LEFT JOIN c$out USING (node))"""
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 10000000 AS p
                      FROM lineitem),
         e AS (SELECT s AS src, p AS dst FROM e0
               UNION ALL SELECT p AS src, s AS dst FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         n AS (SELECT DISTINCT src AS node FROM e),
         r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM n),
         ${round("r0", "r1")},
         ${round("r1", "r2")},
         ${round("r2", "r3")}
         SELECT node, CAST(rank AS BIGINT) AS rank FROM r3"""
    })

  // corpus-similarity map over embedding labels — the data-mixing
  // diagnostic: per-label mean vectors (e04's bit-reproducible sorted
  // folds per (label, dim)) and pairwise cosine between the handful of
  // label centroids. Labels are bounded metadata, so the pair join
  // broadcasts k vectors; the heavy part (per-cell means) is a
  // map-side-combined aggregation keyed by (label, dim).
  val g03 = Query("g03_label_centroid_sim", (s, dir) => {
      val cells = emb(s, dir)
        .select(col("label"), col("vec_id"), VF.toDouble(col("embedding")).as("v"))
        .select(col("label"), col("vec_id"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("label"), col("dim"))
        .agg((aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("val")))),
              x => x.getField("val")),
            lit(0.0), (a, x) => a + x) / count(lit(1))).as("m"))
      val cents = cells.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("c"))
      cents.as("a").join(broadcast(cents.as("b")), col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
          (VF.dot(col("a.c"), col("b.c")) /
            (sqrt(VF.normSq(col("a.c"))) * sqrt(VF.normSq(col("b.c"))))).as("cos_sim"))
    },
    s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         pe AS (SELECT label, vec_id,
                  CAST(unnest(range(0, len(v))) AS INT) AS dim, unnest(v) AS val
                FROM e),
         cells AS (SELECT label, dim,
                     list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                       (p, q) -> p + q) / count(*) AS m
                   FROM pe GROUP BY 1, 2),
         cents AS (SELECT label, list(m ORDER BY dim) AS c FROM cells GROUP BY 1)
         SELECT a.label AS label_a, b.label AS label_b,
                ${cosineSql("a.c", "b.c")} AS cos_sim
         FROM cents a JOIN cents b ON a.label < b.label""")

  // bounded-depth BFS (single-source hop counts ≤ 4) over the same
  // supplier↔part bipartite graph as g02 — the frontier-delta iteration
  // (Pregel's delta optimization): each round expands ONLY the nodes
  // discovered last round (the frontier), and an anti-join against the
  // visited set keeps re-expansion out of the plan, so total join work
  // is O(edges touched), not O(rounds × edges). First discovery fixes a
  // node's hop count, which IS the min — no per-node min aggregation
  // needed. The SQL twin replays it as a recursive CTE with UNION
  // (distinct) semantics: state rows (node, hops) dedup across
  // iterations, so the recursion is bounded by nodes × depth — path
  // enumeration under UNION ALL would be combinatorial on this graph.
  val g04 = Query("g04_bfs_hops", (s, dir) => {
      val off = 10000000L
      val start = 1L
      // NO distinct on the edge list: the frontier is deduped each round
      // anyway, so duplicate incidences only widen the pre-distinct fan-
      // out — cheaper than shuffling the whole edge table to dedupe it.
      // r17 measured: binding the MEMOIZED distinct table
      // (supplierPartEdges, shared with g02/g12) instead was ~0.2 s
      // SLOWER here — per-round columnar-cache reads lose to the
      // vectorized 2-column parquet re-scan locally, and at scale the
      // pruned 2-column scan vs the cached distinct table is a wash
      // (similar bytes), so the lazy shape stays.
      val edges = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("src"), (col("l_partkey") + off).as("dst"))
      // one scan per evaluation, not a two-leg union of two scans —
      // this edge list is LAZY (re-evaluated by each BFS round), so the
      // union shape paid 2 lineitem scans × 4 rounds
      val both = graft.operators.Graph.bothDirections(edges, "src", "dst")
      var dist = s.range(1)
        .select(lit(start).as("node"), lit(0).as("hops"))
      var frontier = dist.select(col("node"))
      for (h <- 1 to 4) {
        // frontier and visited-set are node lists (bounded by the node
        // count, tiny next to the edge table) — broadcasting them makes
        // each round one scan-side hash probe with NO edge shuffle. On a
        // graph whose frontier outgrows the driver, drop the hints and
        // the same plan falls back to shuffled joins per round.
        // localCheckpoint truncates the lineage each round — without it
        // round h recursively recomputes rounds 1..h-1 (the plan tree
        // doubles per round), the classic iterative-dataflow trap. This
        // is executor-local materialization of a bounded node list, not
        // driver state.
        val next = graft.SessionCache.tracked(both
          .join(broadcast(frontier.withColumnRenamed("node", "src")), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(broadcast(dist.select(col("node"))), Seq("node"), "left_anti"))
        dist = dist.unionByName(next.withColumn("hops", lit(h)))
        frontier = next
      }
      dist
    },
    // recursive CTE with UNION (distinct) semantics: the (node, hops)
    // state space is bounded by nodes × 5; min(hops) recovers the
    // first-discovery hop the Spark frontier iteration records directly
    """WITH RECURSIVE
           e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 10000000 AS p
                  FROM lineitem),
           e AS (SELECT s AS src, p AS dst FROM e0
                 UNION ALL SELECT p AS src, s AS dst FROM e0),
           r AS (SELECT CAST(1 AS BIGINT) AS node, 0 AS hops
                 UNION
                 SELECT e.dst AS node, r.hops + 1 AS hops
                 FROM r JOIN e ON e.src = r.node
                 WHERE r.hops < 4)
         SELECT node, MIN(hops) AS hops FROM r GROUP BY 1""")

  // triangle / wedge census + global clustering coefficient over the
  // part co-order graph (parts linked when a heavy lineitem pair shares
  // an order — the quantity filter is pushed to the scan and prunes the
  // incidence list before any pair work). The operator is
  // [[graft.operators.Graph.triangleStats]]: degree-ordered edge
  // orientation (Suri & Vassilvitskii WWW'11) bounds wedge fan-out at
  // O(√m) per node, so no hub vertex can straggle one reducer. The
  // oracle counts the same triangles with the naive id-ordered triple
  // join — a different (skew-unsafe) plan computing the same census,
  // exactly the ground-truth/scale-path split of d03/d04 and s04/s06.
  val g05 = Query("g05_triangles", (s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.triangleStats(edges)
    },
    // naive id-ordered triple join — same census as the degree-ordered
    // plan (each triangle has exactly one u<v<w labeling)
    """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           deg AS (SELECT x, count(*) AS d
                   FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                   GROUP BY x),
           tri AS (SELECT count(*) AS t
                   FROM e e1
                   JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                   JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
           wd AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS nw FROM deg)
         SELECT t AS n_triangles, nw AS n_wedges,
                3.0 * t / nw AS global_clustering
         FROM tri, wd""")

  // degree summary + degree assortativity (Newman PRL'02) over the same
  // part co-order graph as g05 — the macro-structure diagnostic (hubs
  // linking to hubs vs hub-and-spoke) run over link/near-dup graphs to
  // characterize template farms. Operator is
  // [[graft.operators.Graph.degreeStats]]: with both edge orientations
  // the degree marginals coincide, so Pearson r is a ratio of two
  // INTEGER moment expressions (no sqrt, no float mean subtraction) and
  // the single final division is bit-identical cross-engine. Constant
  // output width; no per-key quadratic fan-out anywhere.
  val g06 = Query("g06_degree_stats", (s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.degreeStats(edges)
    },
    """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
                   FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                   GROUP BY x),
           ed AS (SELECT da.d AS du, db.d AS dv
                  FROM e JOIN deg da ON da.x = e.u JOIN deg db ON db.x = e.v),
           s AS (SELECT CAST(count(*) AS BIGINT) AS m_half,
                        CAST(sum(du + dv) AS BIGINT) AS sx,
                        CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx,
                        CAST(sum(2 * du * dv) AS BIGINT) AS sxy
                 FROM ed),
           vs AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
                         CAST(max(d) AS BIGINT) AS max_degree
                  FROM deg)
         SELECT n_vertices, m_half AS n_edges, max_degree,
                2.0 * m_half / n_vertices AS avg_degree,
                CASE WHEN 2 * m_half * sxx - sx * sx = 0 THEN NULL
                     ELSE CAST(2 * m_half * sxy - sx * sx AS DOUBLE)
                          / CAST(2 * m_half * sxx - sx * sx AS DOUBLE) END
                  AS assortativity
         FROM s, vs""")

  // link-prediction features over the same part co-order graph as
  // g05/g06 — per-EDGE common-neighbor counts and Resource Allocation
  // scores, the structural-embeddedness signals a web-corpus pipeline
  // computes on its link/near-dup graphs to separate organic links
  // from template-farm wiring. Operator is [[graft.operators.Graph
  // .linkPredict]]: witnesses enumerated through the degree-ordered
  // wedge orientation (per-key fan-out O(√m) — no hub straggler),
  // each triangle exploded into its three edge contributions, the
  // RA double a pinned ascending fold of correctly-rounded 1/d terms
  // so the score is bit-identical cross-engine.
  val g07 = Query("g07_link_predict", (s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.linkPredict(edges)
    },
    // naive two-hop replay: common neighbors via the doubled adjacency
    // list joined on the shared endpoint; the RA fold sorted ascending
    // from 0.0 exactly as the Spark-side pinned fold
    """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           nbr AS (SELECT u AS x, v AS y FROM e
                   UNION ALL SELECT v AS x, u AS y FROM e),
           deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
                   FROM nbr GROUP BY x),
           cn AS (SELECT e.u, e.v, n1.y AS w
                  FROM e
                  JOIN nbr n1 ON n1.x = e.u
                  JOIN nbr n2 ON n2.x = e.v AND n2.y = n1.y),
           ag AS (SELECT c.u, c.v,
                    CAST(count(*) AS BIGINT) AS n_common,
                    list_reduce(
                      list_prepend(0.0, list_sort(list(1.0 / dg.d))),
                      (p, q) -> p + q) AS ra_score
                  FROM cn c JOIN deg dg ON dg.x = c.w
                  GROUP BY c.u, c.v)
         SELECT e.u, e.v,
                CAST(coalesce(ag.n_common, 0) AS BIGINT) AS n_common,
                ag.ra_score
         FROM e LEFT JOIN ag ON ag.u = e.u AND ag.v = e.v""")

  val g08 = Query("g08_kcore", (s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      graft.operators.Graph.kCore(edges, k = 12)
    },
    {
      def peel(i: Int) =
        s"""d$i AS MATERIALIZED (
              SELECT x, count(*) AS c
              FROM (SELECT u AS x FROM g${i - 1}
                    UNION ALL SELECT v AS x FROM g${i - 1})
              GROUP BY x),
            g$i AS MATERIALIZED (
              SELECT e.u, e.v FROM g${i - 1} e
              JOIN d$i ka ON ka.x = e.u AND ka.c >= 12
              JOIN d$i kb ON kb.x = e.v AND kb.c >= 12)"""
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                       FROM lineitem WHERE l_quantity >= 30),
           g0 AS MATERIALIZED (
             SELECT DISTINCT a.p AS u, b.p AS v
             FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           ${(1 to 16).map(peel).mkString(",\n")}
         SELECT x AS vertex, CAST(count(*) AS BIGINT) AS core_degree
         FROM (SELECT u AS x FROM g16 UNION ALL SELECT v AS x FROM g16)
         GROUP BY x"""
    })

  // k-core extraction (k = 12, chosen where the harness graph peels
  // non-trivially: 7 rounds, 2000 → 1735 vertices) over the same part
  // co-order graph — the dense-community extractor that isolates
  // template farms / citation cliques from the peripheral tail before
  // quality propagation. Operator is [[graft.operators.Graph.kCore]]:
  // iterative edge peeling with per-round localCheckpoints and an
  // ENFORCED fixpoint; the oracle replays a fixed 16-round peel chain
  // (peeling is idempotent at the fixpoint, so 16 ≥ 7 rounds is
  // exact).
  // generic connected components over the part co-order graph (the
  // quantity cut raised to 46, where the graph fragments into 203
  // components from a 482-vertex giant down to pairs — richer
  // macro-structure than the near-connected >= 30 graph). Reuses the
  // dedup tier's size-adaptive CC operator ([[graft.operators.Dedup
  // .connectedComponents]]: union-find under the documented driver
  // threshold, pointer-doubling label propagation above it) and adds
  // the per-component size — the partition-/community-size profile a
  // curation pipeline reads before sharding by component.
  val g09 = Query("g09_components", (s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 46)
        .select(col("u").as("doc_a"), col("v").as("doc_b"))
      val comp = graft.operators.Dedup.connectedComponents(edges)
      comp.join(
          comp.groupBy(col("component")).agg(count(lit(1)).as("component_size")),
          Seq("component"))
        .select(col("doc_id").as("vertex"), col("component"),
          col("component_size"))
    },
    // fixed 16-round peel chain: each round keeps edges whose both
    // endpoints have degree >= 12 in the previous round's subgraph;
    // idempotent once converged (round 7 on this graph), so the fixed
    // depth replays the Spark fixpoint exactly. Every round is
    // MATERIALIZED — each g_i is referenced three times by round i+1,
    // and inlining would expand g0 exponentially (3^16 source scans
    // blew DuckDB's file-handle budget before the keyword was added)
    // the d06 recursive-reach replay over the sparser co-order graph,
    // plus the component-size join
    """WITH RECURSIVE inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                                FROM lineitem WHERE l_quantity >= 46),
           e0 AS (SELECT DISTINCT a.p AS doc_a, b.p AS doc_b
                  FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM e0
                     UNION ALL SELECT doc_b, doc_a FROM e0),
           reach(src, dst) AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
           comp AS (SELECT src AS vertex, least(src, min(dst)) AS component
                    FROM reach GROUP BY src),
           cs AS (SELECT component, CAST(count(*) AS BIGINT) AS component_size
                  FROM comp GROUP BY component)
         SELECT vertex, comp.component, component_size
         FROM comp JOIN cs ON cs.component = comp.component""")

  // modularity scoring of an ATTRIBUTE partition (p_brand) over the
  // part co-order graph — "does this metadata label actually explain
  // the graph's clustering?", the check a curation pipeline runs on a
  // link/near-dup graph before sharding by domain/language/brand.
  // Operator is [[graft.operators.Graph.modularity]]: per-community
  // Newman contributions e_c/m − (d_c/2m)² from integer moments with
  // one fixed-shape double expression at the end (bit-identical
  // cross-engine); global Q = sum(q_contrib). Brands slice the
  // co-order graph near-uniformly, so Q ≈ 0 here — the negative
  // control a pipeline needs to REJECT a label as a sharding key.
  val g10 = Query("g10_modularity", (s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 30)
      val labels = t(s, dir, "part")
        .select(col("p_partkey").as("vertex"), col("p_brand").as("community"))
      graft.operators.Graph.modularity(edges, labels)
    },
    // per-community modularity decomposition: integer moments, then the
    // same fixed-shape double expression as the operator (div + mul
    // only, no pow) so q_contrib matches bit-for-bit
    """WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_quantity >= 30),
           e AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
           deg AS (SELECT x AS vertex, CAST(count(*) AS BIGINT) AS d
                   FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                   GROUP BY x),
           lab AS (SELECT p_partkey AS vertex, p_brand AS community FROM part),
           comm AS (SELECT community, CAST(count(*) AS BIGINT) AS n_vertices,
                           CAST(sum(d) AS BIGINT) AS degree_sum
                    FROM deg JOIN lab USING (vertex) GROUP BY community),
           intra AS (SELECT lu.community AS community,
                            CAST(count(*) AS BIGINT) AS intra_edges
                     FROM e JOIN lab lu ON lu.vertex = e.u
                            JOIN lab lv ON lv.vertex = e.v
                     WHERE lu.community = lv.community
                     GROUP BY lu.community)
         SELECT comm.community, n_vertices, degree_sum,
                COALESCE(intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
                CAST(COALESCE(intra_edges, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                  - (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                    * (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                  AS q_contrib
         FROM comm LEFT JOIN intra ON intra.community = comm.community
         CROSS JOIN m""")

  // community DETECTION (vs g10's scoring of a given partition):
  // synchronous label propagation for a fixed 4 rounds over the
  // fragmented co-order graph — the cheap, deterministic community
  // pass a curation pipeline runs on link/near-dup graphs when
  // connected components are too coarse (one giant blob) and
  // modularity maximization too expensive. Operator is
  // [[graft.operators.Graph.labelPropagation]]: per-round one
  // edge⋈label join + one map-side-combined vote count + one
  // argmax-as-aggregate (max(struct(c, -lab)) — no window, no sort);
  // the fixed round count makes it an exactly SQL-replayable pure
  // function (sync LPA has no convergence guarantee to iterate to).
  val g11 = Query("g11_lpa_labels", (s, dir) => {
      val edges = coOrderEdges(s, dir, minQty = 46)
      graft.operators.Graph.labelPropagation(edges, rounds = 4)
    },
    // 4-round sync-LPA replay: each round is one vote count + one
    // row_number argmax (count DESC, label ASC), MATERIALIZED so round
    // i+1 reads a table, not an exponentially inlined subtree
    {
      def round(i: Int) =
        s"""n$i AS MATERIALIZED (
              SELECT ed.src AS vertex, l.lab, count(*) AS c
              FROM ed JOIN l${i - 1} l ON l.vertex = ed.dst
              GROUP BY 1, 2),
            l$i AS MATERIALIZED (
              SELECT vertex, lab FROM (
                SELECT vertex, lab, row_number() OVER (
                  PARTITION BY vertex ORDER BY c DESC, lab) AS rn
                FROM n$i) WHERE rn = 1)"""
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                       FROM lineitem WHERE l_quantity >= 46),
           e0 AS MATERIALIZED (
             SELECT DISTINCT a.p AS u, b.p AS v
             FROM inc a JOIN inc b ON a.o = b.o AND a.p < b.p),
           ed AS MATERIALIZED (
             SELECT u AS src, v AS dst FROM e0
             UNION ALL SELECT v, u FROM e0),
           l0 AS (SELECT DISTINCT src AS vertex, src AS lab FROM ed),
           ${(1 to 4).map(round).mkString(",\n")},
           cs AS (SELECT lab, CAST(count(*) AS BIGINT) AS community_size
                  FROM l4 GROUP BY lab)
         SELECT vertex, l4.lab AS community, community_size
         FROM l4 JOIN cs USING (lab)"""
    })

  // personalized PageRank (random walk with restart onto a SEED set)
  // over g02's supplier↔part bipartite graph — the seed-expansion
  // relevance pass a curation pipeline runs to grow a small trusted
  // set (here: nation-0 suppliers) into a ranked neighborhood, the
  // graph-side twin of e11's semantic decontamination. Same integer
  // fixed-point arithmetic as g02 (ranks in 1e-12 units, div/mod
  // only — exactly SQL-replayable, no float drift across 3 rounds);
  // the ONE structural difference is where restart mass lands: on the
  // seeds instead of everywhere, so rank decays geometrically with
  // distance from the seed set and untouched nodes stay at exactly 0
  // (the `rank > 0` cut is exact, not a float threshold). Seeds are a
  // broadcast node list; each round is one edge⋈rank join + one
  // map-side-combined sum keyed by node — g02's scale posture
  // unchanged.
  val g12 = Query("g12_ppr", (s, dir) => {
      // shared memoized bipartite edge table (see supplierPartEdges)
      val both = graft.operators.Graph.bothDirections(supplierPartEdges(s, dir), "s", "p")
      val seeds = t(s, dir, "supplier")
        .filter(col("s_nationkey") === 0)
        .select(col("s_suppkey").as("node"))
      graft.operators.Graph.personalizedPageRank(both, seeds, iters = 3)
        .filter(col("rank") > 0)
    },
    // g02's unrolled integer rounds with restart mass confined to the
    // seed flag; the rank > 0 cut is exact integer arithmetic
    {
      def round(prev: String, out: String) =
        s"""c$out AS (SELECT e.dst AS node, SUM($prev.rank // d.deg) AS in_sum
                      FROM e JOIN $prev ON e.src = $prev.node
                      JOIN deg d ON e.src = d.src GROUP BY 1),
            $out AS (SELECT ns.node,
                       (CASE WHEN ns.seed THEN 150000000000 ELSE 0 END)
                         + (85 * COALESCE(c$out.in_sum, 0)) // 100 AS rank
                     FROM ns LEFT JOIN c$out USING (node))"""
      s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 10000000 AS p
                      FROM lineitem),
         e AS (SELECT s AS src, p AS dst FROM e0
               UNION ALL SELECT p AS src, s AS dst FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         n AS (SELECT DISTINCT src AS node FROM e),
         sd AS (SELECT s_suppkey AS node FROM supplier WHERE s_nationkey = 0),
         ns AS (SELECT n.node, sd.node IS NOT NULL AS seed
                FROM n LEFT JOIN sd USING (node)),
         r0 AS (SELECT node,
                  CASE WHEN seed THEN CAST(1000000000000 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS rank
                FROM ns),
         ${round("r0", "r1")},
         ${round("r1", "r2")},
         ${round("r2", "r3")}
         SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 WHERE rank > 0"""
    })

  val all: Seq[Query] = Seq(g01, g02, g03, g04, g05, g06, g07, g08, g09, g10,
    g11, g12)
}
