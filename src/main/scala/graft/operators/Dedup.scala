package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel

import graft.functions.{Hashing, TextFunctions => TF}

/**
 * Near-duplicate detection operators over a document table — the reusable
 * library surface behind the d03/d04 harness queries (SURVEY.md §7.1 M5).
 * Both pair detectors return (doc_a, doc_b, jaccard) for pairs with exact
 * n-gram-shingle Jaccard ≥ threshold; they differ in how candidates are
 * found:
 *
 *  - [[jaccardPairsExact]]: prefix + length + positional filtering
 *    (AllPairs/PPJoin — Bayardo et al. WWW'07, Xiao et al. WWW'08).
 *    EXACT: zero recall loss, guaranteed. The ground-truth path.
 *  - [[minhashLshPairs]]: MinHash signatures + banded LSH + signature-
 *    estimate prefilter. Probabilistic recall (1−(1−J^r)^bands, ≈1−5e−8
 *    at J=0.8 with the defaults), near-linear candidate volume. The
 *    100 TB path.
 *
 * Data representation: documents are reduced ONCE to sorted distinct
 * 64-bit shingle hashes ([[graft.functions.ShingleHashSet]]) and every
 * downstream stage — df-ranking, prefix join, verification — moves longs,
 * never shingle strings. Output jaccard is always the exact
 * inter/(na+nb−inter) over the distinct shingle sets (integer sizes, one
 * double division) — identical arithmetic to a SQL oracle.
 *
 * Cache lifecycle: the pair detectors ([[jaccardPairsExact]],
 * [[minhashLshPairs]], [[minhashLshPairsAgainst]]) return plain plans —
 * building one runs no Spark job and persists nothing. The caller owns
 * the pair table: one that reads it more than once persists it itself
 * (NorthStar's session memos do, and release it with the session), a
 * one-shot reader leaves it lazy. [[connectedComponents]] persists its
 * input only when the caller has not, and unpersists only that.
 */
object Dedup {

  /**
   * (doc_id, hs): id + sorted distinct shingle-hash array — the shared
   * input of both pair detectors. Not persisted here: the caller decides
   * the lifetime (NorthStar memoizes one per harness dir; one-shot users
   * let it rebuild). Single expression pass — tokens feed ShingleHashSet
   * as a regular expression child (evaluated once per row; no
   * lambda-capture re-evaluation hazard).
   */
  def shingleHashTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      Hashing.shingleHashSet(TF.tokens(col(textCol)), n).as("hs"))

  /**
   * Exact Jaccard pairs ≥ threshold, AllPairs/PPJoin family. Three exact
   * (recall-lossless) filters shrink the candidate set before any pair is
   * verified:
   *
   *  1. PREFIX filter: under the global (df, hash) rarity order, a pair
   *     with J ≥ t must share one of each side's first
   *     n − ⌈t·n⌉ + 1 shingles, so only prefix shingles join.
   *  2. LENGTH filter: J ≤ min(na,nb)/max(na,nb), so J ≥ t requires
   *     min(na,nb) ≥ t·max(na,nb) — applied inside the join condition.
   *  3. POSITIONAL filter (PPJoin): a match at 1-based rank positions
   *     (i, j) bounds the overlap by min(i−1, j−1) + 1 + min(na−i, nb−j)
   *     (shared shingles before the match ≤ min of the counts before it;
   *     shared at-or-after ≤ 1 + min of the remainders). The minimum
   *     bound over a pair's matches must reach the required overlap
   *     ⌈t·(na+nb)/(1+t)⌉ (from J = inter/(na+nb−inter) ≥ t).
   *
   * Scale shape: df counting and prefix ranking are ordinary shuffles on
   * (shingle) and (doc_id); nothing is quadratic in df, and exact
   * verification touches only candidates surviving all three filters.
   */
  def jaccardPairsExact(hsTable: DataFrame, threshold: Double): DataFrame = {
    val sh = hsTable.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("s"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // prefix length n − ⌈t·n⌉ + 1; the epsilon keeps ⌈·⌉ from rounding an
    // exact t·n UP under FP error (a longer prefix is always safe)
    val prefix = sh.join(dfreq, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("rn") <= col("n") - ceil(col("n") * threshold - 1e-6) + 1)
      .select(col("doc_id"), col("s"), col("rn"), col("n"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
        // length filter (epsilon loosens only — never drops a true pair)
        col("a.n") >= col("b.n") * threshold - 1e-6 &&
        col("b.n") >= col("a.n") * threshold - 1e-6)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        (least(col("a.rn"), col("b.rn")) - 1 + lit(1) +
          least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))).as("ub"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(min(col("ub")).as("ub"))
      // positional filter: best overlap bound must reach the minimum
      // overlap t(na+nb)/(1+t) implied by J ≥ t
      .filter(col("ub") >=
        ceil((col("na") + col("nb")) * (threshold / (1.0 + threshold)) - 1e-6))
      .select(col("doc_a"), col("doc_b"))
    exactVerify(cand, hsTable, threshold)
  }

  /**
   * MinHash + banded LSH near-dup pairs: k minhashes straight from the
   * shingle-hash sets, candidates from the (band, band-hash) equi-join, a
   * signature-estimated Jaccard prefilter (O(k) per pair, no shingle
   * rehydration), exact verification last. Banding math at r = k/bands:
   * P(candidate | J) = 1 − (1 − J^r)^bands.
   */
  def minhashLshPairs(hsTable: DataFrame, threshold: Double, k: Int,
                      bands: Int, estFloor: Double): DataFrame = {
    val sig = hsTable
      .select(col("doc_id"), TF.minhashFromHashes(col("hs"), k).as("sig"))
    val banded = sig.select(col("doc_id"),
      posexplode(TF.lshBandHashes(col("sig"), k, bands)).as(Seq("band", "bh")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val survivors = cand
      // keep the O(k)-per-row estimate stage parallel — COUNT-pinned:
      // a bare repartition(col) is AQE-coalescible by bytes, and these
      // few-MB candidate exchanges fan out to CPU-bound per-pair work
      .repartition(cand.sparkSession.sparkContext.defaultParallelism, col("doc_a"))
      .join(sig.toDF("doc_a", "sig_a"), "doc_a")
      .join(sig.toDF("doc_b", "sig_b"), "doc_b")
      .filter(Hashing.sigMatchCount(col("sig_a"), col("sig_b"))
        .cast(DoubleType) / k >= estFloor)
      .select(col("doc_a"), col("doc_b"))
    exactVerify(survivors, hsTable, threshold)
  }

  /**
   * Incremental near-dup probe — the PRODUCTION form of MinHash-LSH
   * dedup at ingest time: new arrivals are checked against an EXISTING
   * corpus's band index (new ⋈ index only — no new×new, no index×index
   * work), which is how a nightly batch joins a 100 TB corpus without
   * re-running the corpus-wide self-join. Same banding/recall math as
   * [[minhashLshPairs]] (P(candidate | J) = 1 − (1 − J^r)^bands), same
   * signature-estimate prefilter, same exact verification; in
   * production the index side's signatures/bands are a PRECOMPUTED
   * table — here they build from the hs table so the operator is
   * self-contained.
   */
  def minhashLshPairsAgainst(hsNew: DataFrame, hsIndex: DataFrame,
                             threshold: Double, k: Int, bands: Int,
                             estFloor: Double): DataFrame = {
    def sigs(hs: DataFrame) = hs
      .select(col("doc_id"), col("hs"), TF.minhashFromHashes(col("hs"), k).as("sig"))
    def banded(sig: DataFrame) = sig.select(col("doc_id"),
      posexplode(TF.lshBandHashes(col("sig"), k, bands)).as(Seq("band", "bh")))
    val sn = sigs(hsNew); val si = sigs(hsIndex)
    val cand = banded(sn).as("a").join(banded(si).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_existing"))
      .distinct()
    cand
      // count-pinned for the same reason as the batch estimate stage
      .repartition(cand.sparkSession.sparkContext.defaultParallelism, col("doc_new"))
      .join(sn.select(col("doc_id").as("doc_new"), col("hs").as("hs_n"),
        col("sig").as("sig_n")), "doc_new")
      .join(si.select(col("doc_id").as("doc_existing"), col("hs").as("hs_e"),
        col("sig").as("sig_e")), "doc_existing")
      .filter(Hashing.sigMatchCount(col("sig_n"), col("sig_e"))
        .cast(DoubleType) / k >= estFloor)
      .select(col("doc_new"), col("doc_existing"),
        (Hashing.sortedIntersectCount(col("hs_n"), col("hs_e")).cast(DoubleType) /
          (size(col("hs_n")) + size(col("hs_e")) -
            Hashing.sortedIntersectCount(col("hs_n"), col("hs_e"))))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Containment pairs: |A ∩ B| / min(|A|, |B|) ≥ t — the ASYMMETRIC
   * overlap relation symmetric Jaccard misses by construction (a short
   * document quoted wholesale inside a long one has containment ≈ 1 but
   * Jaccard ≈ |A|/|B| — arbitrarily small). This is the
   * quote/boilerplate-inclusion detector of an LLM-data pipeline.
   *
   * Candidate scheme: the SMALLER side of a qualifying pair has at most
   * n − ⌈t·n⌉ shingles outside the intersection, so its n − ⌈t·n⌉ + 1
   * rarest shingles (global (df, hash) order — same machinery as
   * [[jaccardPairsExact]]) must hit the intersection. The matching
   * shingle can sit ANYWHERE in the larger side — containment is
   * precisely about unequal sizes, so there is no length filter and the
   * join is prefix ⋈ FULL index (every doc emits a prefix, covering
   * both orientations). Prefix shingles are rare by construction, so
   * the per-shingle fan-out stays bounded. Exact verification on the
   * sorted hash arrays last.
   */
  def containmentPairs(hsTable: DataFrame, threshold: Double): DataFrame = {
    val par = hsTable.sparkSession.sparkContext.defaultParallelism
    // count-pinned spread on the shingle stream (round-12 stage metrics:
    // the df-join, prefix window, and candidate join all ran on 2-4
    // AQE-coalesced tasks with 0.3-2.4 s of cpu each — shingle rows are
    // tiny BYTES, heavy CPU). ONE pinned raw-row exchange on s serves
    // the document-frequency aggregate AND both s-keyed joins
    // (partitioning is preserved through the agg, so they plan
    // exchange-free on this side)
    // r17: the spread shingle stream is MATERIALIZED once (tracked
    // localCheckpoint) instead of left lazy. It feeds three plan
    // branches (df aggregate, prefix-join side, candidate-probe side),
    // and column pruning SPLITS the shared exchange into two narrower
    // ones (different pruned schemas no longer canonicalize equal), so
    // the explode+shuffle of the full corpus shingle stream executed
    // twice per run (r17 stage metrics: two 260k-row map stages plus
    // their cache re-scans). The checkpoint preserves the hash(s)
    // partitioning, so all three consumers still plan exchange-free on
    // this side; 20-byte rows make the materialization cheap at any
    // corpus size relative to the duplicate shuffle it removes.
    val sh = graft.SessionCache.tracked(
      hsTable.select(col("doc_id"), size(col("hs")).as("n"),
          explode(col("hs")).as("s"))
        .repartition(par, col("s")))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfreq, "s")
      // pin the window's doc_id exchange too — the per-doc sort is the
      // single most CPU-expensive stage of the prefix build
      .repartition(par, col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("rn") <= col("n") - ceil(col("n") * threshold - 1e-6) + 1)
      .select(col("doc_id").as("pa"), col("s"))
    val cand = prefix
      .repartition(par, col("s"))
      .join(sh.select(col("doc_id").as("pb"), col("s")), "s")
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"))
      .distinct()
    cand
      // count-pinned spread (bare repartition(col) is AQE-coalescible;
      // each row here runs a sorted-merge intersect — CPU-bound)
      .repartition(cand.sparkSession.sparkContext.defaultParallelism, col("doc_a"))
      .join(hsTable.toDF("doc_a", "hs_a"), "doc_a")
      .join(hsTable.toDF("doc_b", "hs_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Hashing.sortedIntersectCount(col("hs_a"), col("hs_b")).as("inter"),
        least(size(col("hs_a")), size(col("hs_b"))).as("mn"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) / col("mn").cast(DoubleType)).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /**
   * Join candidate (doc_a, doc_b) pairs back to the shingle-hash arrays
   * and keep exact Jaccard ≥ t. The explicit repartition matters: the
   * candidate shuffle is only a few MB, so AQE's bytes-based coalescing
   * would fold it into one partition — but each row here runs a merge
   * intersect, so the stage is CPU-bound and must stay spread across the
   * cluster. One sorted-merge intersect per pair
   * ([[graft.functions.SortedLongIntersectCount]] — primitive longs, no
   * per-row set allocation); jaccard = inter/(na+nb−inter), the oracle's
   * exact arithmetic.
   */
  private def exactVerify(cand: DataFrame, hsTable: DataFrame, threshold: Double): DataFrame =
    cand
      // count-pinned spread (bare repartition(col) is AQE-coalescible;
      // each row here runs a sorted-merge intersect — CPU-bound)
      .repartition(cand.sparkSession.sparkContext.defaultParallelism, col("doc_a"))
      .join(hsTable.toDF("doc_a", "hs_a"), "doc_a")
      .join(hsTable.toDF("doc_b", "hs_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Hashing.sortedIntersectCount(col("hs_a"), col("hs_b")).as("inter"),
        size(col("hs_a")).as("na"), size(col("hs_b")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /**
   * Group near-duplicate pairs into duplicate CLUSTERS — the stage after
   * pair detection in an LLM-data dedup pipeline (keep one doc per
   * cluster): connected components over the pair graph, component = min
   * doc_id in the cluster.
   *
   * Size-adaptive strategy: an iterative distributed algorithm costs
   * O(log n) rounds of jobs, which is pure scheduling overhead when the
   * pair graph is small — near-dup pairs are typically a tiny fraction of
   * the corpus even at 100 TB. Below `localEdgeThreshold` edges (an
   * explicit, documented driver-memory bound) the graph is collected and
   * solved with union-find in one pass; above it, the shuffle-based
   * label-propagation-with-shortcutting loop runs with no driver state.
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          localEdgeThreshold: Long = 4000000L): DataFrame = {
    // read twice (the size dispatch + the solve): cache it unless the
    // caller already does — a caller's cache (a session memo) is not ours
    // to drop, and persisting an already-cached plan is a no-op whose
    // unpersist would uncache the caller's copy
    val own = pairs.storageLevel == StorageLevel.NONE
    val p = if (own) pairs.persist() else pairs
    val out =
      if (p.count() <= localEdgeThreshold) connectedComponentsLocal(p)
      else connectedComponentsDistributed(p, maxIter)
    // both solve paths are eager (collect / checkpointed fixpoint loop),
    // so the input cache can be released before returning
    if (own) p.unpersist()
    out
  }

  /** Small-graph path: one collect (bounded by the caller's threshold),
    * union-find with path compression, min root wins. */
  private[graft] def connectedComponentsLocal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = parent.keys.toSeq.map(x => (x, find(x))).sorted
    spark.createDataset(out).toDF("doc_id", "component")
  }

  /**
   * Large-graph path: min-label propagation WITH POINTER-DOUBLING
   * SHORTCUTTING. Each round does two steps:
   *
   *  1. propagate — every node adopts min(own label, neighbors' labels)
   *     (one join + min-agg on the static edge set): moves labels one hop;
   *  2. shortcut — every node adopts its label's label
   *     (labels joined with themselves + min-agg): doubles the distance
   *     already-propagated information travels, so a component of
   *     diameter D converges in O(log D) rounds rather than D.
   *
   * Convergence is detected by the monotone label-sum checksum (labels
   * only ever decrease, so the sum strictly decreases until fixpoint —
   * one cheap agg per round instead of a join-and-count of changed rows);
   * localCheckpoint (eager) truncates per-iteration plan lineage.
   * Hitting maxIter without convergence THROWS — a partially-propagated
   * labeling is silently wrong data, never worth returning.
   */
  private[graft] def connectedComponentsDistributed(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // one-Generate orientation: the persist sits above this, so with a
    // two-leg union materialization ran the caller's (often expensive)
    // candidate-pair derivation once PER LEG — see Graph.bothDirections
    val edges = Graph.bothDirections(pairs, "doc_a", "doc_b").persist()
    var labels = graft.SessionCache.tracked(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")))
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
    var last = checksum(labels)
    if (last == null) { // sum over zero rows: the edge set was empty
      edges.unpersist()
      return labels.select(col("id").as("doc_id"), col("component"))
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // 1. each node adopts min(own label, neighbors' labels)
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("component"))
      // feeds both sides of the shortcut self-join; tracked so the
      // FINAL round's blocks (which the returned result reads) are
      // released at releaseCaches — superseded rounds are freed below
      // as soon as the successor materializes
      val propagated = graft.SessionCache.tracked(labels.union(viaNeighbor)
        .groupBy(col("id")).agg(min(col("component")).as("component")))
      // 2. shortcut: component := label(component) — the pointer-doubling
      // step that makes the round count logarithmic in the diameter
      val mapping = propagated.select(col("id").as("cid"), col("component").as("cc"))
      val prev = labels
      labels = graft.SessionCache.tracked(propagated
        .join(mapping, col("component") === col("cid"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("cc"), col("component"))).as("component")))
      // the new labels checkpoint is eager — the previous round's
      // labels and this round's propagated are no longer read by anyone
      graft.SessionCache.free(prev)
      graft.SessionCache.free(propagated)
      val cur = checksum(labels)
      converged = cur.compareTo(last) == 0
      last = cur
      i += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
        "the graph has a component of extreme diameter; raise maxIter " +
        "(rounds needed ≈ log2(diameter) + 1) rather than consuming partial labels")
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /**
   * Fuzzy (edit-distance) near-dup pairs: all (doc_a, doc_b, edit_dist)
   * with levenshtein(prefix_a, prefix_b) ≤ maxDist over fixed-length
   * document prefixes — the typo/boilerplate-variant dedup the
   * shingle-Jaccard detectors miss (a handful of single-character edits
   * barely moves token shingles' Jaccard but IS a small edit distance).
   *
   * Scale shape — the PARTITION-based candidate scheme (the Pass-Join
   * family, Li/Deng/Feng ICDE'11), not a gram-signature join and not a
   * cross join. Gram-count filters (Gravano VLDB'01 / Ed-Join) prune by
   * shared rare q-grams, which degenerates toward all-pairs on
   * small-alphabet / low-vocabulary corpora (measured here: a 377-gram
   * vocabulary put ~96% of all pairs through the gram filter). Segment
   * equality keeps its selectivity regardless of vocabulary:
   *
   *  1. SEGMENT (pigeonhole): each prefix a is split into k+1 contiguous
   *     even segments. Any ≤ k edits touch at most k segments, so at
   *     least one segment of a appears VERBATIM in any b with
   *     ed(a,b) ≤ k — at a position shifted by at most k (net
   *     inserts/deletes bound the alignment shift);
   *  2. PROBE: each doc b emits its substrings of the partner-feasible
   *     segment lengths (lengths of k+1-partitions of any La within ±k of
   *     Lb — at most a handful of distinct lengths) at every position;
   *     the candidate join is segment = substring on the raw string key,
   *     then the position (|p − start| ≤ k) and length (|La − Lb| ≤ k)
   *     filters. Emission is ~(#lengths)·|b| rows per doc — linear in
   *     corpus size with a small constant, and exact long-substring
   *     equality is selective on ANY alphabet;
   *  3. exact verify with the THRESHOLD-BOUNDED levenshtein (Spark's
   *     3-arg form computes a banded O(k·n) DP and returns −1 past the
   *     bound, not the full O(n²) matrix) on the DISTINCT candidate
   *     pairs.
   *
   * Recall contract: every prefix needs at least k+1 characters (so all
   * k+1 segments are non-empty — shorter strings would emit empty
   * segments whose "occurrences" are meaningless). Exactness is
   * law-tested against brute-force full-DP levenshtein in
   * SimilaritySpec across random corpora and edit counts.
   */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int, maxDist: Int): DataFrame = {
    val k = maxDist
    val nSeg = (k + 1).toDouble
    val pre = docs.select(col(idCol).as("doc_id"),
      substring(col(textCol), 1, prefixLen).as("pre"))
    // each doc's k+1 even segments with their 1-based start positions;
    // boundary math in doubles is exact (lengths ≤ prefixLen << 2^53)
    val segs = pre
      .withColumn("la", length(col("pre")))
      .select(col("doc_id").as("da"), col("la"),
        explode(filter(transform(sequence(lit(0), lit(k)), i => {
          val s0 = floor(col("la").cast("double") * i.cast("double") / lit(nSeg)).cast("int")
          val e0 = floor(col("la").cast("double") * (i.cast("double") + 1) / lit(nSeg)).cast("int")
          struct((s0 + 1).as("pa"), col("pre").substr(s0 + 1, e0 - s0).as("seg"))
        }), s => length(s.getField("seg")) > 0)).as("s"))
      // join key is the 8-byte FNV of the segment, not the segment text —
      // halves the exchange width; a hash collision only adds a false
      // CANDIDATE, which the exact levenshtein verify removes
      .select(col("da"), col("la"), col("s.pa").as("pa"),
        Hashing.fnvChecksum(col("s.seg").cast("binary")).as("segh"))
    // probe side (r17, tightened r18): only substrings inside the
    // MULTI-MATCH-AWARE window of some feasible partner segment anchor
    // — per 0-based segment index i the window is [pa−i, pa+i] ∩
    // [pa+Δ−(k−i), pa+Δ+(k−i)] (Δ = lb−la), not the uniform ±k.
    // [[graft.functions.PassJoinProbeWindows]] emits the distinct
    // (p, len) union of those windows with the SAME boundary arithmetic
    // as the segment side; its class doc carries the recall proof
    // (every true ed≤k pair still meets at ≥1 segment match inside its
    // window). The candidate set SHRINKS — probes that cannot witness
    // a true pair are no longer enumerated — and the exact
    // bounded-levenshtein verify below keeps the OUTPUT identical
    // (law-pinned vs brute force in SimilaritySpec + the HashingSpec
    // recall property + the DuckDB oracle at sf0.01/sf0.1).
    val probes = pre
      .withColumn("lb", length(col("pre")))
      .select(col("doc_id").as("db"), col("lb"), col("pre"),
        explode(Hashing.passJoinProbeWindows(col("lb"), k)).as("w"))
      .select(col("db"), col("lb"), col("w.p").as("p"),
        Hashing.fnvChecksum(col("pre").substr(col("w.p"), col("w.len")).cast("binary"))
          .as("segh"))
    // hash equality stands in for string equality (equal strings hash
    // equal; collisions only widen the candidate set, verified exactly);
    // position/length windows prune before the distinct
    val cands = segs.join(probes, "segh")
      .filter(col("da") =!= col("db") &&
        abs(col("la") - col("lb")) <= k &&
        abs(col("p") - col("pa")) <= k)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct()
    cands
      // count-pinned spread before the verify (r17 — exactVerify's
      // documented pin applied here too): candidate rows are tiny bytes
      // and AQE coalesced the bounded-levenshtein verify onto ONE task;
      // each row runs an O(k·len) DP band, so the stage must stay
      // spread at corpus scale
      .repartition(cands.sparkSession.sparkContext.defaultParallelism, col("doc_a"))
      .join(pre.select(col("doc_id").as("doc_a"), col("pre").as("pre_a")), "doc_a")
      .join(pre.select(col("doc_id").as("doc_b"), col("pre").as("pre_b")), "doc_b")
      .filter(abs(length(col("pre_a")) - length(col("pre_b"))) <= maxDist)
      .withColumn("edit_dist", levenshtein(col("pre_a"), col("pre_b"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /**
   * Duplicate-SPAN detection: maximal token ranges whose every k-gram
   * occurs more than once in the corpus (Lee et al., "Deduplicating
   * Training Data Makes Language Models Better", ACL'22 — the span-level
   * complement of the whole-document detectors above; repeated boilerplate
   * is removed from otherwise-unique documents instead of dropping whole
   * docs). Output: (doc_id, span_start, span_end, span_tokens), token
   * positions 1-based inclusive.
   *
   * Shape, not a suffix array: the paper's single-node suffix array
   * doesn't distribute, but its output over k-grams is equivalent to
   * "start positions whose k-gram is corpus-duplicated, merged when they
   * overlap or touch" — and that is three narrow shuffles:
   *
   *  1. gram census — explode (doc_id:int, pos:int, gh:long) and
   *     groupBy(gh).count: map-side combine means only distinct hashes
   *     cross the wire; gram STRINGS exist only inside the projection
   *     that hashes them and never shuffle.
   *  2. hit filter — left_semi join of positions against the duplicated
   *     hash set (count > 1): AQE broadcasts it when small, and a hash
   *     collision can only ADD a position (64-bit xxhash over the gram
   *     text; at 100 TB ≈ 2^44 grams the expected extra-position count
   *     from collisions is ≪ 1 per exabyte — and a false hit merely
   *     widens a span by one gram).
   *  3. island merge — per-doc window over pos (gaps-and-islands: break
   *     when pos − lag(pos) > k, running-sum the breaks, group). Shuffle
   *     key doc_id, payload one int.
   *
   * Positions are emitted as a per-row `transform(sequence(...))` — no
   * row explosion before the hash projection, so the explode feeding
   * shuffle 1 is already the narrow (id, pos, hash) shape.
   */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).cast("long").as("doc_id"), TF.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= k) // sequence(1, n<1) would count DOWN in Spark
    val hits = toks
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - lit(k) + 1),
        i => struct(i.cast("long").as("pos"),
          xxhash64(array_join(slice(col("t"), i, lit(k)), " ")).as("gh")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
    val dupGrams = hits.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("gh"))
    val dupPos = hits.join(dupGrams, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("gid", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("gid"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k.toLong) - 1).as("span_end"),
        (max(col("pos")) + lit(k.toLong) - min(col("pos"))).as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_tokens"))
  }

  /**
   * Small-hamming pair search over 64-bit fingerprints (≤ `maxHamming`
   * differing bits) — the shared pair engine behind m09 image near-dup
   * (perceptual aHashes) and m12 audio near-dup (energy-delta-sign
   * fingerprints). Returns (doc_a, doc_b, hamming), doc_a < doc_b.
   *
   * Blocking is by ORDERED BAND PAIR: perceptual hashes of templated
   * media are low-entropy, so a single 8-bit band is a hot key; hamming
   * ≤ 6 leaves AT LEAST TWO of the 8 byte-bands untouched (pigeonhole:
   * 6 errors cannot reach 7 bands), so candidates join on a 16-bit joint
   * chunk (28 keys/hash) — the measured 12× candidate collapse vs
   * single-band blocking on a 10× corpus (see m09). The join runs in
   * distinct hash-VALUE space with doc expansion after the hamming
   * filter; identical-hash rows (the exact-dup mass) pair through one
   * equi-join that never touches a band. The hamming gate runs INSIDE
   * the join's codegen stage, so the dedup `distinct` exchanges only
   * true near-dup value pairs, never the candidate set.
   */
  def bandedHammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                         maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"band-pair blocking is exact only for hamming <= 6, got $maxHamming")
    // the hash table feeds five plan branches (value set, two doc
    // expansions, the identical-hash join's both sides) — materialize
    // the 16-byte rows once instead of re-running the upstream per
    // branch. The RESULT reads these blocks lazily, so they ride the
    // tracked-checkpoint lifecycle (released by releaseCaches) rather
    // than leaking per invocation
    val ph = graft.SessionCache.tracked(hashes
      .select(col(idCol).as("_id"), col(hashCol).as("_h"))
      .filter(col("_h").isNotNull))
    val hv = ph.select(col("_h")).distinct()
    val bandPairs = for { b1 <- 0 until 8; b2 <- b1 + 1 until 8 } yield (b1, b2)
    val banded = hv.select(col("_h"),
      posexplode(array(bandPairs.map { case (b1, b2) =>
        struct(
          shiftright(col("_h"), b1 * 8).bitwiseAND(lit(0xffL)).as("c1"),
          shiftright(col("_h"), b2 * 8).bitwiseAND(lit(0xffL)).as("c2"))
      }: _*)).as(Seq("bp", "cc")))
      .select(col("_h"), col("bp"), col("cc.c1").as("c1"), col("cc.c2").as("c2"))
    // the banded table is a 28× posexplode of the value set — Generate
    // keeps the CHILD's size estimate, so Catalyst undercounts it ~28×
    // and happily BROADCASTS it at corpus scale (measured: the 100×
    // wave6 run spent ~370 s building a 14M-row broadcast relation;
    // hinted shuffle join runs the same corpus in a fraction). Pin the
    // self-join to shuffle: both sides are the same exploded table, so
    // the exchange is linear in banded rows and the per-bucket join is
    // the blocking analysis above.
    // r17: the bucket exchange is additionally COUNT-pinned — banded
    // rows are tiny bytes (20 B), so AQE's byte-based coalescing ran
    // the per-bucket pair join + hamming filter on 4 tasks with the
    // other cores idle (m09 stage metrics: 549 ms cpu / 4 tasks on the
    // 279k-pair read); hash(bp, c1, c2) is the join key, so the pinned
    // spread satisfies the join's distribution with no extra exchange
    val bandedSpread = banded.repartition(
      hashes.sparkSession.sparkContext.defaultParallelism,
      col("bp"), col("c1"), col("c2"))
    val valuePairs = bandedSpread.as("a").hint("shuffle_merge")
      .join(bandedSpread.as("b").hint("shuffle_merge"),
        col("a.bp") === col("b.bp") && col("a.c1") === col("b.c1") &&
        col("a.c2") === col("b.c2") && col("a._h") < col("b._h"))
      .select(col("a._h").as("ha"), col("b._h").as("hb"),
        Hashing.hammingDist(col("a._h"), col("b._h")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val crossValue = valuePairs
      .join(ph.select(col("_id").as("ida"), col("_h").as("ha")), Seq("ha"))
      .join(ph.select(col("_id").as("idb"), col("_h").as("hb")), Seq("hb"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    val sameValue = ph.as("x").join(ph.as("y"),
        col("x._h") === col("y._h") && col("x._id") < col("y._id"))
      .select(col("x._id").as("doc_a"), col("y._id").as("doc_b"),
        lit(0).as("hamming"))
    crossValue.unionByName(sameValue)
  }
}
