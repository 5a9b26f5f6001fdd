package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed graph statistics over an edge table.
 *
 * Beyond-reference operator (the reference's only graph-shaped work is a
 * single equi-join, `codes/weather_etl_pipeline.py:160-180`); this is the
 * community-structure primitive a web-corpus pipeline runs over its
 * link/near-dup graphs (d03/d04 pair output, hyperlink graphs) to find
 * template farms and mirror clusters — densely inter-linked page groups
 * whose clustering coefficient is far above the corpus background.
 */
object Graph {

  /**
   * Orient an undirected pair set `(a, b)` in BOTH directions as
   * `(src, dst)` rows via one generate, not a two-leg union: a union's
   * legs each re-run everything ABOVE the pair set's last exchange —
   * for a distinct-deduped pair build that is the whole dedup FINALIZE,
   * twice (round-12 stage metrics on g12: 2× 591k shuffle rows read,
   * 2.7 s cpu, halved by this shape), and for a persisted/checkpointed
   * orientation it is the caller's whole pair DERIVATION, twice, at
   * materialization time. Same one-read lesson as kCore's explode
   * degree scan. The ×2 row growth happens inside the Generate
   * (codegen, no extra exchange); plan contract pinned in PlansSpec.
   */
  private[graft] def bothDirections(pairs: DataFrame,
                                    a: String, b: String): DataFrame =
    pairs.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))

  /**
   * The degree-ordered orientation [[triangleStats]] and [[linkPredict]]
   * share, as three tracked checkpoints: the id-checked edge table
   * `(u, v)`, its degree table `(x, d)`, and `oriented(src, dst, kdst)`
   * with src the (degree, id)-smaller endpoint and kdst the packed order
   * key of the other end, so a wedge join can pair out-edges without a
   * second degree lookup. `op` names the caller in the out-of-range id
   * error.
   */
  private def degreeOriented(edges: DataFrame,
                             op: String): (DataFrame, DataFrame, DataFrame) = {
    // assert_true yields NULL when the condition holds and raises
    // otherwise; adding its long-cast keeps the check inside the same
    // whole-stage-codegen'd projection with zero extra passes.
    def checkedId(c: Column): Column = {
      val id = c.cast("long")
      id + coalesce(assert_true(id >= 0L && id < (1L << 32),
        concat(lit(s"$op: vertex id out of [0, 2^32): "),
          id.cast("string"))).cast("long"), lit(0L))
    }
    val e = graft.SessionCache.tracked(
      edges.select(checkedId(col("u")).as("u"), checkedId(col("v")).as("v")))
    val deg = graft.SessionCache.tracked(
      e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("d")))
    val keyed = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"),
        (shiftleft(col("du"), 32) + col("u")).as("ku"),
        (shiftleft(col("dv"), 32) + col("v")).as("kv"))
    val oriented = graft.SessionCache.tracked(keyed.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
      greatest(col("ku"), col("kv")).as("kdst")))
    (e, deg, oriented)
  }

  /**
   * Exact triangle count, wedge (open-triad) count, and the global
   * clustering coefficient 3·triangles/wedges, over an undirected simple
   * edge set `edges(u, v)` with u < v, no self-loops, no duplicates.
   *
   * Scale design — degree-ordered orientation (Suri & Vassilvitskii,
   * WWW'11, "the curse of the last reducer"): the naive wedge join fans
   * out quadratically in the hottest vertex's degree — a celebrity node
   * of degree d pushes d² wedge rows through ONE reducer key, the
   * classic straggler. Orienting every edge from its (degree, id)-smaller
   * endpoint to the larger caps out-degree at O(√m) for ANY graph, so
   * per-key fan-out — and total wedge volume — is bounded by m^(3/2)
   * regardless of skew. Each triangle is then generated exactly once
   * (as the wedge at its (degree, id)-minimal vertex) and confirmed by
   * one semi-join probe of the closing oriented edge; the semi-join
   * keeps no payload, so the probe shuffles only (node, node) pairs.
   * The (degree, id) total order is packed into one long
   * (degree << 32 | id) so orientation needs no struct comparison.
   *
   * PRECONDITION: vertex ids must fit in [0, 2^32) — the packed-long
   * order key reserves the low 32 bits for the id. Violations are
   * detected at runtime (a codegen'd per-row assert on the edge scan,
   * negligible next to the wedge join) and raise an error rather than
   * silently corrupting the orientation and the triangle count.
   * Empty edge sets and wedge-free graphs return a single row with
   * zero counts and a NULL clustering coefficient (0/0 is undefined).
   *
   * The edge, degree, and oriented tables ride [[linkPredict]]'s
   * tracked-checkpoint shape: `oriented` feeds THREE plan branches
   * (both wedge sides and the closing-edge probe) and `deg` a fourth
   * (the wedge total), and the probe's (wu, wv)-keyed exchange cannot
   * reuse the wedge sides' src-keyed exchange, so without
   * materialization each branch re-derives the whole scan→degree→join
   * pipeline. Measured on the harness co-order graph: the lazy shape
   * ran ~4× slower than [[linkPredict]] doing a strict superset of
   * this work over the same materializations.
   */
  def triangleStats(edges: DataFrame): DataFrame = {
    val (_, deg, oriented) = degreeOriented(edges, "triangleStats")
    // wedge (a, b) at minimal vertex src, a before b in the total order;
    // the closing edge — if present — is oriented a -> b by transitivity
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.dst").as("wu"), col("e2.dst").as("wv"))
    val triRows = wedges
      // NO count pin on the closing-edge probe (r18 negative, recorded):
      // the 2-task coalesced probe stages looked like the byte-blind
      // class (~0.5 s serialized), but a (wu, wv) REPARTITION_BY_NUM
      // measured WORSE (wall 1.2-1.4 → 1.6-2.0 s on a quieter host) —
      // the semi-join goes BROADCAST here (oriented is a few MB), so
      // there is no join exchange for the pin to replace and it became
      // a pure extra shuffle of the wedge stream. At scale AQE keeps
      // the shuffled join and sizes its partitions by real bytes.
      .join(oriented.select(col("src").as("wu"), col("dst").as("wv")),
        Seq("wu", "wv"), "left_semi")
      .select(lit(1L).as("t"), lit(0L).as("w"))
    val wedgeRows = deg.select(lit(0L).as("t"), expr("d * (d - 1) div 2").as("w"))
    // ONE global aggregate over the union of tagged contribution rows —
    // the triangle census and the wedge total land in the same one-row
    // sum, so no second aggregate branch and no scalar-broadcast
    // crossJoin job. sum() over an empty union is NULL → coalesce to 0;
    // clustering = 3T/W is undefined when W = 0, reported as NULL rather
    // than a division-by-zero NULL-with-wrong-counts row
    triRows.unionByName(wedgeRows)
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"),
        coalesce(sum(col("w")), lit(0L)).as("n_wedges"))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .as("global_clustering"))
  }

  /**
   * Degree summary + degree assortativity over an undirected simple edge
   * set `edges(u, v)` (u < v, no self-loops, no duplicates): vertex and
   * edge counts, max/mean degree, and the Pearson correlation of endpoint
   * degrees over all directed edge instances (Newman, PRL'02 — positive r
   * = hubs link to hubs, negative = hub-and-spoke; near 0 on random
   * graphs).
   *
   * Exactness: including BOTH orientations of every edge makes the x and
   * y degree marginals identical, so Pearson r collapses to
   * (M·Σxy − S²) / (M·Σx² − S²) with S = Σx — a ratio of two INTEGER
   * expressions, no sqrt, no mean subtraction in floating point. All
   * moment sums are 64-bit integer aggregates (map-side combined, one
   * shuffle of constant width); the single double division at the end is
   * one correctly-rounded IEEE op, so the statistic is bit-identical
   * across engines. Degree-regular graphs (zero variance) yield NULL.
   *
   * Scale: two scans of the edge set plus two equi-joins against the
   * degree table keyed by vertex id; every aggregate is a scalar. No
   * per-key fan-out anywhere, so skew cannot straggle a reducer (the
   * heaviest vertex contributes d rows, not d²).
   */
  def degreeStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val ed = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    val sums = ed.agg(
      count(lit(1)).as("m_half"),
      sum(col("du") + col("dv")).as("sx"),
      sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"),
      sum(lit(2L) * col("du") * col("dv")).as("sxy"))
    val vstats = deg.agg(
      count(lit(1)).as("n_vertices"), max(col("d")).as("max_degree"))
    val m = lit(2L) * col("m_half")
    val num = m * col("sxy") - col("sx") * col("sx")
    val den = m * col("sxx") - col("sx") * col("sx")
    sums.crossJoin(broadcast(vstats)).select(
      col("n_vertices"),
      col("m_half").as("n_edges"),
      col("max_degree"),
      when(col("n_vertices") > 0, lit(2.0) * col("m_half") / col("n_vertices"))
        .as("avg_degree"),
      when(den =!= 0, num.cast("double") / den.cast("double"))
        .as("assortativity"))
  }

  /**
   * Link-prediction features over an undirected simple edge set
   * `edges(u, v)` (u < v, no self-loops, no duplicates): for EVERY input
   * edge, the number of common neighbors and the Resource Allocation
   * index Σ 1/deg(w) over common neighbors w (Zhou, Lü & Zhang, EPJ B
   * 2009 — the Adamic–Adar family member whose weight needs no
   * transcendental: 1/d is one correctly-rounded IEEE division, whereas
   * 1/ln(d) inherits the last-ulp spread of each engine's libm log) —
   * the standard "how structurally embedded is this link" signals, run
   * over near-dup/link graphs to separate organic links from
   * template-farm wiring before graph-based quality propagation.
   *
   * Scale design: a common neighbor of edge (u, v) is exactly a triangle
   * through that edge, so enumeration reuses [[triangleStats]]'s
   * degree-ordered orientation — wedge fan-out capped at O(√m) per key,
   * total wedge volume O(m^1.5) for any skew. Each triangle {w, a, b} is
   * generated once (at its (degree, id)-minimal vertex) and exploded into
   * its three (edge, witness) contributions, so no edge is double-counted
   * and the explode multiplies only CLOSED wedges. The RA sum is a
   * pinned ascending fold over the collected witness-degree terms —
   * per-edge state is bounded by min(deg(u), deg(v)) — making the double
   * bit-identical across engines (a production variant that tolerates
   * last-ulp drift would use a plain SUM and skip the collect). Edges
   * with no common neighbors report n_common = 0 and NULL ra_score.
   * Same [0, 2^32) vertex-id precondition as [[triangleStats]], enforced
   * the same way.
   *
   * The edge, degree, and oriented tables are localCheckpointed: they
   * feed 3–6 plan branches each, and without materialization every
   * branch re-derives the caller's whole edge pipeline (measured: 72
   * source scans in one plan on the harness's co-order graph — the
   * shape that re-reads a 100 TB fact table dozens of times). Three
   * bounded materializations replace all of it; the result reads them
   * lazily, so they ride the tracked-checkpoint lifecycle
   * ([[graft.SessionCache]], released with the session's other caches)
   * instead of leaking per invocation.
   */
  def linkPredict(edges: DataFrame): DataFrame = {
    val (e, deg, oriented) = degreeOriented(edges, "linkPredict")
    // wedge (wu, wv) centered at w; the left-semi keeps the wedge row —
    // and with it the center — exactly when the closing edge exists
    val tri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("w"), col("e1.dst").as("wu"), col("e2.dst").as("wv"))
      .join(oriented.select(col("src").as("wu"), col("dst").as("wv")),
        Seq("wu", "wv"), "left_semi")
    // each triangle witnesses one common neighbor on each of its 3 edges
    val contrib = tri.select(explode(array(
        struct(least(col("wu"), col("wv")).as("u"),
          greatest(col("wu"), col("wv")).as("v"), col("w").as("cn")),
        struct(least(col("w"), col("wu")).as("u"),
          greatest(col("w"), col("wu")).as("v"), col("wv").as("cn")),
        struct(least(col("w"), col("wv")).as("u"),
          greatest(col("w"), col("wv")).as("v"), col("wu").as("cn")))).as("t"))
      .select(col("t.u").as("u"), col("t.v").as("v"), col("t.cn").as("cn"))
    val scored = contrib
      .join(deg.select(col("x").as("cn"), col("d")), Seq("cn"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        aggregate(sort_array(collect_list(lit(1.0) / col("d"))),
          lit(0.0), (acc, x) => acc + x).as("ra_score"))
    e.join(scored, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("ra_score"))
  }

  /**
   * k-core decomposition (fixed k) over an undirected simple edge set
   * `edges(u, v)`: iteratively peel every edge with an endpoint of
   * degree < k until the fixpoint, then report each surviving vertex
   * with its degree INSIDE the core — the dense-community extractor
   * (Seidman, Soc. Netw. 1983) a link-graph pipeline runs to isolate
   * template farms and citation cliques from the long peripheral tail.
   *
   * DELTA-PEELED iteration: the per-round state is the DEGREE TABLE
   * (one small row per live vertex), not the edge set. The exploded
   * edge view is shuffled exactly once (the seed degree aggregate);
   * every later wave only (a) filters the degree table for the wave's
   * victims (`d < k`), (b) scans the checkpointed edge view MAP-SIDE
   * for rows whose neighbor is in the wave, and (c) decrements the
   * survivors' degrees by those lost edges — so a wave costs one tiny
   * shuffle over the wave-incident rows instead of re-aggregating both
   * endpoints of every live edge (the pre-round-12 shape paid a
   * 2|E|-row explode shuffle plus an edge checkpoint PER ROUND;
   * measured on the harness graph the delta form runs the same seven
   * waves on decrement inputs three orders of magnitude smaller).
   * Edge liveness never needs materializing: an exploded row is live
   * iff both endpoints are still in the degree table, so a row whose
   * neighbor drops in the CURRENT wave is exactly one live edge its
   * source loses — decrements addressed to already-dead sources join
   * onto nothing and vanish. Wave joins are written WITHOUT a forced
   * broadcast: a first wave on a shallow graph can be a large fraction
   * of the vertex set (shuffle join is then correct), while late wave
   * frames are runtime-small and AQE/statistics pick broadcast on
   * their own.
   *
   * Every wave re-materializes the (tiny) degree table as an eager
   * localCheckpoint — the state is a few thousand (vertex, degree) rows,
   * so the write is noise while the bounded lineage keeps each wave's
   * plan flat.
   * Convergence = an empty wave;
   * a peel that exhausts `maxIter` PRODUCTIVE waves gets one final
   * degree check instead of paying an extra wave to prove the
   * fixpoint, and only a genuinely unfinished peel raises rather than
   * silently returning a non-core. Waves are bounded by the peel
   * depth (7 on the harness graph at k = 12), never by n. The result
   * IS the final degree table (degree inside the core ≡ the maintained
   * count), so the returned plan references only the last tiny
   * checkpoint — the edge view is freed before returning.
   */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // both-direction exploded view: one row per (endpoint, neighbor);
    // degree(x) = row count at src = x. Checkpointed once, scanned
    // map-side by every wave's decrement probe.
    val ex = graft.SessionCache.tracked(
      bothDirections(edges.select(col("u"), col("v")), "u", "v"))
    var cur = graft.SessionCache.tracked( // checkpointed degree state
      ex.groupBy(col("src")).agg(count(lit(1)).as("d")))
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val wave = cur.filter(col("d") < k).select(col("src"))
      if (wave.isEmpty) converged = true
      else {
        // one live edge lost per exploded row whose neighbor is waved
        val dec = ex.join(wave.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("src")).agg(count(lit(1)).as("dec"))
        val next = graft.SessionCache.tracked(cur.join(wave, Seq("src"), "left_anti")
          .join(dec, Seq("src"), "left")
          .select(col("src"),
            (col("d") - coalesce(col("dec"), lit(0L))).as("d"))
          .filter(col("d") > 0)) // isolated survivors leave the live subgraph
        graft.SessionCache.free(cur) // eager successor — cur superseded
        cur = next
        it += 1
      }
    }
    if (!converged) {
      // maxIter productive waves ran; the fixpoint may still have been
      // reached on the LAST one — prove it with a degree check rather
      // than a wave (one empty-probe, no extra round)
      converged = cur.filter(col("d") < k).isEmpty
    }
    if (!converged) {
      // free the working checkpoints BEFORE raising: a caller that
      // catches and retries with a larger maxIter must not accumulate
      // leaked blocks (degree state + edge view)
      val left = cur.agg(sum(col("d"))).head.getLong(0) / 2
      graft.SessionCache.free(cur)
      graft.SessionCache.free(ex)
      throw new IllegalArgumentException(
        s"requirement failed: kCore: no fixpoint after $maxIter rounds ($left edges left)")
    }
    graft.SessionCache.free(ex) // result reads only the degree checkpoint
    cur.select(col("src").as("vertex"), col("d").as("core_degree"))
  }

  /**
   * Per-community Newman modularity decomposition (Newman & Girvan,
   * PRE'04) of a GIVEN vertex partition over an undirected simple edge
   * set `edges(u, v)` (u < v, no self-loops, no duplicates):
   * for each community c, `q_contrib = e_c/m − (d_c/2m)²` where e_c =
   * intra-community edges, d_c = summed degree, m = total edges. Global
   * modularity Q is the sum of `q_contrib` — positive Q means the
   * partition is assortative (links concentrate inside communities),
   * ~0 means the labels are structure-blind. This is the "score a
   * candidate grouping" primitive a curation pipeline runs to check
   * whether an attribute (domain, brand, language) actually explains a
   * link/near-dup graph's clustering before sharding by it.
   *
   * `labels(vertex, community)` must cover every vertex incident to an
   * edge (inner joins drop unlabeled vertices from the vertex/degree
   * sums but their edges still count in m — a silent skew; keep the
   * labeling total). Communities with no intra edges get intra_edges=0
   * rather than dropping out. Empty edge sets yield an empty frame.
   *
   * Exactness: all moments (n_vertices, degree_sum, intra_edges, m) are
   * 64-bit integer aggregates; the final double expression uses only
   * division and multiplication in a fixed shape (no pow, no float
   * accumulation), so `q_contrib` is bit-identical cross-engine.
   *
   * Scale: one degree aggregation, two vertex-keyed equi-joins against
   * the labels table (both sides partitioned by vertex id — co-located
   * after the first shuffle), one community-keyed aggregation, and a
   * scalar-broadcast crossJoin for m. Everything is linear in |E|; no
   * per-community fan-out, so community count and skew never change the
   * shuffle shape.
   */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val lab = labels.select(col("vertex"), col("community"))
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("vertex"))
      .groupBy(col("vertex")).agg(count(lit(1)).as("d"))
    val comm = deg.join(lab, Seq("vertex"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("d")).as("degree_sum"))
    val intra = e
      .join(lab.select(col("vertex").as("u"), col("community").as("cu")), Seq("u"))
      .join(lab.select(col("vertex").as("v"), col("community").as("cv")), Seq("v"))
      .filter(col("cu") === col("cv"))
      .select(col("cu").as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("intra_edges"))
    val dm = col("m").cast("double")
    val half = col("degree_sum").cast("double") / (lit(2.0) * dm)
    comm.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_vertices"), col("degree_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") / dm
          - half * half).as("q_contrib"))
  }

  /**
   * Synchronous label propagation (Raghavan et al., PRE'07) for a FIXED
   * number of rounds over an undirected simple edge set `edges(u, v)`
   * (u < v, no self-loops, no duplicates): every vertex starts as its
   * own label; each round it adopts the most frequent label among its
   * neighbors, ties broken to the SMALLEST label. Fixing the round count
   * (instead of iterating to convergence, which sync LPA does not
   * guarantee — bipartite-ish regions oscillate) makes the operator a
   * deterministic pure function of the input: exactly replayable by an
   * R-step SQL chain, cost-bounded a priori, and stable across runs —
   * the properties a production curation pass needs from its community
   * labels. Output: (vertex, community, community_size).
   *
   * Scale, per round: one equi-join of the oriented edge table against
   * the label table (both partitioned by vertex id), one (vertex, label)
   * count with map-side combine, and one per-vertex argmax as a single
   * `max(struct(count, -label))` aggregate — no window, no sort, no
   * per-vertex fan-out beyond its degree. The oriented edge table is
   * checkpointed once and reused every round; label tables are
   * checkpointed per round so the plan stays R joins deep, not
   * exponential. Vertex ids must be non-negative longs (the negated-
   * label argmax trick), which the callers' id spaces satisfy.
   */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("u"), col("v"))
    // one-Generate orientation: checkpoint materialization previously
    // ran the caller's edge derivation once per union leg
    val orient = graft.SessionCache.tracked(bothDirections(e, "u", "v"))
    var labels = graft.SessionCache.tracked(
      orient.select(col("src").as("vertex")).distinct()
        .select(col("vertex"), col("vertex").as("lab")))
    for (_ <- 1 to rounds) {
      val votes = orient
        .join(labels.select(col("vertex").as("dst"), col("lab")), Seq("dst"))
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
      // argmax by (count DESC, label ASC) as one aggregate: lexicographic
      // max of (c, -lab) — valid because labels are non-negative
      val prev = labels
      labels = graft.SessionCache.tracked(votes
        .groupBy(col("src"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("src").as("vertex"), (-col("m.nl")).as("lab")))
      // the new round materialized — the previous label table is dead
      graft.SessionCache.free(prev)
    }
    // the RESULT references only the final labels; the oriented edge
    // table served its last join in the loop above
    graft.SessionCache.free(orient)
    labels
      .join(labels.groupBy(col("lab")).agg(count(lit(1)).as("community_size")),
        Seq("lab"))
      .select(col("vertex"), col("lab").as("community"), col("community_size"))
  }

  /**
   * Personalized PageRank — random walk with restart onto `seeds` — over
   * a DIRECTED edge list `edges(src, dst)`. Returns (node, rank) for
   * every node appearing as a source, rank in `scale` units (integer
   * fixed point, g02's discipline: div/mod only, so a fixed `iters` makes
   * the operator an exactly SQL-replayable pure function with zero float
   * drift). The one structural difference from uniform PageRank is where
   * restart mass lands: 15% of `scale` on each SEED per round instead of
   * everywhere, so rank decays geometrically with hop distance from the
   * seed set and untouched nodes stay at EXACTLY 0 — a `rank > 0` cut is
   * integer-exact, not a float threshold. This is the seed-expansion
   * relevance pass that grows a small trusted set into a ranked
   * neighborhood (curation's graph-side decontamination twin).
   *
   * Scale: the edge list, out-degree, and node tables are materialized
   * ONCE as tracked localCheckpoints (the kCore/linkPredict posture) —
   * every round re-reads the edge table, and without materialization
   * each round re-runs the CALLER'S edge derivation (g12 passes a
   * distinct-deduped pair set — oriented via [[bothDirections]] since
   * round 12, a two-leg union before that, under which stage metrics
   * showed the dedup finalize re-executed five times across three
   * rounds, because exchange reuse shares only the pre-aggregate
   * shuffle output, not the work above it).
   * The per-round `outdeg` join stays INSIDE the loop on purpose —
   * a round-12 experiment hoisted the loop-invariant edges⋈outdeg into
   * its own src-repartitioned checkpoint and measured it WORSE (wall
   * 2.44→2.95 s on the g12 corpus): `outdeg` rides a per-round
   * BROADCAST (tiny, essentially free), while the hoist paid a full
   * edge-table repartition shuffle plus a wider checkpoint up front AND
   * the rounds' joins still read the hoisted table through a shuffle —
   * the checkpoint's preserved hash partitioning did not survive AQE's
   * re-planning into the per-round joins. Don't re-hoist without stage
   * metrics showing the cache-scan actually goes exchange-free.
   * Beware the control that long justified the lazy shape here:
   * g02's uniform PageRank benches fast under `count()` only because
   * Catalyst ELIMINATES its final left join against the per-round
   * aggregates (unique join key, no right columns referenced) — the
   * rounds never run, so it was never evidence that lazy re-derivation
   * scales. Rank state is FRONTIER-shaped: only nodes the walk has
   * reached carry rows (restart mass enters as union rows, not a
   * per-round all-nodes join), so per-round state is bounded by the
   * seed neighborhood, not the graph — untouched nodes join back as
   * exact 0 ranks once at the end. PERIODIC (every-4-rounds) tracked
   * checkpoints bound the plan's linear deepening on long walks; each
   * superseded segment boundary is freed as soon as the next one
   * materializes. Seeds absent from the node set contribute nothing
   * (documented drop, mirrored by the SQL replay's inner derivation
   * from the edge list).
   */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 100L, s"scale must be >= 100 for the 85/15 split, got $scale")
    val both = graft.SessionCache.tracked(edges.select(col("src"), col("dst")))
    val outdeg = graft.SessionCache.tracked(
      both.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // every source node appears in outdeg, so the node set is its key
    // set — a free projection on the checkpointed aggregate, not a
    // second corpus-wide distinct
    val nodes = outdeg.select(col("src").as("node"))
    // a trusted seed set is metadata next to the graph — broadcast it;
    // the semi-join pins restart mass to seeds that exist as sources
    val sd = seeds.select(col("node")).distinct()
    val seedsIn = nodes.join(broadcast(sd), Seq("node"), "left_semi")
    val restart = seedsIn.select(col("node"),
      lit(0L).as("c"), lit(scale * 15L / 100L).as("r"))
    var active = seedsIn.select(col("node"), lit(scale).as("rank"))
    var lastCp: DataFrame = null
    for (i <- 1 to iters) {
      // rank_i = 15%·scale·[seed] + (85·Σ rank_{i-1} div deg) div 100,
      // assembled as ONE keyed aggregation: edge rows carry (c, 0),
      // restart rows (0, r), and the union feeds a single map-side-
      // combined sum — integer-identical to a join-then-add (absent
      // rows ≡ 0 contributions), one shuffle per round instead of two,
      // and the state stays frontier-sized — nodes the walk hasn't
      // reached have NO row
      active = both
        .join(active.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("node"),
          expr("rank div deg").as("c"), lit(0L).as("r"))
        .unionByName(restart)
        .groupBy(col("node"))
        .agg((expr("(85 * sum(c)) div 100") + sum(col("r"))).as("rank"))
      if (i % 4 == 0 && i < iters) {
        active = graft.SessionCache.tracked(active)
        // the new segment boundary is materialized — the previous
        // boundary's blocks (which this segment's lazy rounds read)
        // are superseded; the final boundary stays tracked because the
        // returned (lazy) tail rounds still read it
        if (lastCp != null) graft.SessionCache.free(lastCp)
        lastCp = active
      }
    }
    // untouched nodes surface with rank exactly 0 (integer fixed point:
    // the `rank > 0` cut downstream is exact, not a float threshold)
    nodes.join(active, Seq("node"), "left")
      .select(col("node"), coalesce(col("rank"), lit(0L)).as("rank"))
  }
}
