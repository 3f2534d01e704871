package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Duplicate-CLUSTER resolution: the step a real dedup pipeline runs after
 * the pair finders (minhash/simhash/embedding LSH emit near-dup PAIRS; the
 * pipeline must keep exactly one document per connected component of the
 * pair graph, so pairs have to be closed into components first — A~B and
 * B~C must collapse to ONE survivor even though (A,C) was never emitted).
 *
 * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14) — the published
 * O(log n)-round dataflow CC that a 100 TB dedup needs, NOT label
 * propagation (whose round count is the graph DIAMETER — a crawl-mirror
 * chain of near-dup pages can be arbitrarily long) and NOT a driver-side
 * union-find (the pair set at web scale does not fit one machine; here the
 * sequential union-find exists only as the spec's ground truth).
 *
 * Edge invariant: after every step each edge is (hi, lo) with hi > lo —
 * self-loops never materialize and the edge count never grows beyond the
 * symmetrized input. Each step is one aggregate (min neighbor per node)
 * plus one co-partitioned join on the same key, then a distinct — three
 * shuffles on node id, no neighbor LISTS ever collected (the hot node in a
 * Zipf-shaped dup graph — e.g. the empty-page cluster — stays a streaming
 * min + fan-out, bounded per task by the partition, which is exactly the
 * skew case large-star exists to split).
 *
 * Convergence is detected by an order-independent edge-set checksum
 * (count + sum of h64(hi,lo)); the checksum aggregate doubles as the job
 * that forces each iteration's pinned frame (LinkRank's pin/retire
 * discipline — never more than one iteration cache live beyond the
 * frontier). At convergence the edge set IS the component map: every node
 * points at its component's minimum id.
 */
object DupClusters {

  private val Hi = "cc_hi"
  private val Lo = "cc_lo"

  /** Large-star: every node u attaches its LARGER neighbors to
    * m = min(Γ(u) ∪ {u}). Skew-splitting step — a hot hub's star is
    * re-rooted at the component min without any per-node list. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col(Hi).as("u"), col(Lo).as("v"))
      .unionAll(edges.select(col(Lo).as("u"), col(Hi).as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      // v > u >= m, so (v, m) keeps the (hi, lo) orientation
      .select(col("v").as(Hi), col("m").as(Lo))
      .distinct()
  }

  /** Small-star: every node u re-points its SMALLER neighbors (and itself)
    * at m = min of those neighbors. Flattens the chains large-star makes. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col(Hi)).agg(min(col(Lo)).as("m"))
    val repointed = edges.join(mins, Hi)
      .where(col(Lo) =!= col("m"))
      .select(col(Lo).as(Hi), col("m").as(Lo))
    // hi > every lo >= m, so (hi, m) is oriented; (lo, m) likewise
    repointed.unionAll(mins.select(col(Hi), col("m").as(Lo))).distinct()
  }

  /** Connected components of the undirected pair graph. Input: one row per
    * pair (any orientation, duplicates fine); output: (node, component)
    * for EVERY node appearing in a pair, component = min node id of its
    * component (so `node === component` marks the representative).
    *
    * The returned frame is pinned and forced; the caller unpersists it. */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIters: Int = 50): DataFrame = {
    // Lineage MUST be truncated every iteration, not merely cached: each
    // step references the previous edge frame ~12× (sym unions + min joins),
    // so a persist-only loop hands the analyzer an O(12^k)-node logical
    // tree — the driver dies planning long before any task runs. Reliable
    // checkpoint when the session has a checkpoint dir (the cluster
    // deployment — survives executor loss, same contract as the crawl
    // loop's cross-round hop, which sets one on every session it runs in);
    // localCheckpoint otherwise (local/test).
    // LAZY in both tiers: the checksum action right after is the first job
    // and doubles as the forcing action — eager would submit a dedicated
    // count() job per iteration just to force it, adding one driver barrier
    // per round (the core-count-independent Amdahl term this loop pays;
    // measured 1→4 efficiency moved with it). localCheckpoint materializes
    // entirely inside that first job (truncation reuses its cached blocks);
    // reliable checkpoint still runs Spark's separate write job afterwards —
    // lazy saves the extra barrier, not the write.
    val sc = pairs.sparkSession.sparkContext
    def truncate(df: DataFrame): DataFrame =
      if (sc.getCheckpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)

    val init = truncate(pairs
      .select(greatest(col(aCol), col(bCol)).as(Hi),
        least(col(aCol), col(bCol)).as(Lo))
      .where(col(Hi) =!= col(Lo))
      .distinct())

    // (count, order-independent hash-xor) — equality certifies an identical
    // edge SET because every step already emits distinct oriented edges
    // (xor, not sum: overflow-free under ANSI mode and just as order-blind)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr(s"bit_xor(xxhash64($Hi, $Lo))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = init
    var cksum = checksum(edges)
    var converged = cksum._1 == 0L
    var it = 0
    while (!converged && it < maxIters) {
      it += 1
      val next = truncate(smallStar(largeStar(edges)))
      val nextSum = checksum(next)
      edges.unpersist() // release the previous hop's blocks
      edges = next
      converged = nextSum == cksum
      cksum = nextSum
    }
    require(converged, s"connectedComponents did not converge in $maxIters iterations")
    // star edges (v -> root) plus the roots themselves
    val labels = edges.select(col(Hi).as("node"), col(Lo).as("component"))
      .unionAll(edges.select(col(Lo).as("node"), col(Lo).as("component")))
      .distinct()
      .persist()
    labels.count()
    edges.unpersist()
    labels
  }

  /** Pair list → per-document cluster assignment:
    * (doc_id, cluster_id, cluster_size, keep) where cluster_id is the
    * component's min doc_id, and `keep` marks the one representative per
    * cluster the pipeline retains (min id — deterministic, engine- and
    * partitioning-independent). cluster_size is a broadcast-sized join by
    * construction (one row per cluster ≤ one per pair).
    *
    * Same cache contract as [[connectedComponents]] / LinkRank: the
    * returned frame is pinned and FORCED (so the iterated CC lineage is
    * never re-executed by consumption), the intermediate label pin is
    * released here, and the small output cache (4 narrow columns, one row
    * per clustered doc) is the caller's to unpersist — the bench harness
    * clearCache()s between queries. */
  def dupClusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
    val sizes = labels.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    val out = labels.join(broadcast(sizes), "component")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"), (col("node") === col("component")).as("keep"))
      .persist()
    out.count() // force while the label pin is still live
    labels.unpersist()
    out
  }

  /** End-to-end near-dup removal: keep every document that is NOT a
    * non-representative member of some dup cluster (docs in no pair pass
    * through untouched — they never enter the CC at all). One anti-join
    * against the clustered ids, broadcast-sized whenever the dup fraction
    * is the few-percent a curated corpus has. */
  def dedupByPairs(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    // the returned frame reads the loser set through dupClusters' pinned
    // output (already forced, so the CC iteration never re-runs); the pin
    // is small (one row per clustered doc) and the caller's to release —
    // same contract as dupClusters itself
    val clusters = dupClusters(pairs)
    val losers = clusters.where(!col("keep")).select(col("doc_id").as("__dup_loser"))
    docs.join(broadcast(losers), docs(idCol) === col("__dup_loser"), "left_anti")
  }

  /** Sequential union-find ground truth for the spec. */
  def componentsReference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
