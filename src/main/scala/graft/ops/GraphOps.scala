package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed connected components — the dedup-pipeline step that turns
  * near-duplicate PAIRS into duplicate CLUSTERS with a canonical
  * representative (min doc_id) per cluster, so "keep one per cluster"
  * becomes a single filter.
  *
  * Algorithm: hash-min label propagation. Every node starts as its own
  * component; each round, every node adopts the minimum label among
  * itself and its neighbors; converged when no label changes. Rounds ≈
  * the graph diameter (log-ish for near-dup clusters, which are small by
  * construction once exact dedup ran first). Each round is one shuffle
  * of (node, label) pairs — edges never rehash, labels do. The driver
  * only checks the per-round convergence COUNT (a scalar), it never
  * collects the graph: this is the standard iterative-algorithm control
  * loop, not a driver-side computation.
  */
object GraphOps extends QueryModule {
  import Tables.documents

  /** Supplier node ids live in a namespace shifted by this offset so the
    * customer–supplier trade graph's two node families never collide.
    * ONE constant, interpolated into both the Spark builders and the
    * DuckDB oracle SQL (r12 ADVICE: the q201 seed boundary used to be an
    * independently hard-coded literal). [[bucketedEdgeTable]] `require`s
    * the customer-key domain actually fits below it, so an SF large
    * enough to breach the namespace fails LOUDLY instead of silently
    * merging node families. */
  val SupplierOffset = 3000000L

  /** Components of an undirected edge list (columns `a`, `b`).
    * Returns (id, component) for every node appearing in an edge, where
    * component = min node id reachable. maxIter bounds runaway graphs
    * (diameter > maxIter leaves labels one round from convergence —
    * callers on unbounded graphs should raise it).
    *
    * Large inputs are cached per-JVM in a write-once edge layout
    * content-addressed by plan + scanned-file sizes/mtimes
    * ([[edgeFrameFingerprint]]): mutating files byte-same-size with a
    * preserved mtime under an identical plan can serve stale edges, so
    * inputs rewritten in place must change size or mtime. Applies to
    * [[pageRank]], [[bfs]] and [[kCore]] equally.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      bucketBytes: Long = BcastNodeBytes): DataFrame = {
    // symmetrize once; labels propagate along both directions
    val symPlan = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    // PHYSICAL DISPATCH (r13 verdict task 2): past `bucketBytes` of
    // estimated node-frame size the propagation runs over bucketed edge
    // storage — the q213 shape, zero edge-side exchanges per round —
    // instead of re-joining the label frame into an unpartitioned edge
    // frame every round. Identical trajectory (same hash-min rounds,
    // same delta frontier); Long.MaxValue pins the in-memory loop, 0
    // forces bucketed.
    val storage = chooseEdgeStorage(
      symPlan.select(col("a").as("src"), col("b").as("dst")), bucketBytes)
    if (storage.isDefined) {
      return componentsBucketedLoop(storage.get, maxIter)
        .select(col("node").as("id"), col("lbl").as("component"))
    }
    val sym = symPlan.localCheckpoint(true)
    var comp = sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    // DELTA FRONTIER (r13, the q213 trick generalized): only labels
    // that CHANGED last round re-propagate — an unchanged neighbor's
    // label was already absorbed by the round that set it, so the
    // trajectory is identical to full propagation round by round
    // (which keeps every caller's oracle/cap contract intact). Round 0
    // fronts every node; once the min labels flood, rounds shrink to
    // the still-moving fringe and total work is O(Σ changes · deg).
    var frontier = comp
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val neighborMin = sym
        .join(frontier, sym("a") === frontier("id"))
        .groupBy(col("b").as("nid"))
        .agg(min(col("component")).as("nmin"))
      val next = comp.join(neighborMin, comp("id") === col("nid"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"),
          // carry the changed flag out of the same pass instead of
          // re-joining old vs new for the convergence check
          (coalesce(col("nmin"), col("component")) < col("component"))
            .as("__chg"))
      // one action per round: the convergence count (a scalar). localCheckpoint
      // truncates the lineage so the plan doesn't deepen each round.
      val materialized = next.localCheckpoint(true)
      frontier = materialized.filter(col("__chg"))
        .select(col("id"), col("component"))
      changed = frontier.count()
      comp = materialized.select("id", "component")
      iter += 1
    }
    comp
  }

  // Gate query: duplicate-cluster canonicalization over a DETERMINISTIC
  // seeded edge list (chains of (i, i+1) per 5th doc and (i, i+2) per
  // 11th doc — components stay small, as they do in real corpora once
  // exact dedup runs first; the data-driven LSH pair set q53 produces is
  // oracle-intractable for transitive closure at soak scale). The oracle
  // computes the same components via a recursive CTE.
  // ============================================================ PageRank
  // Fixed-iteration PageRank over the customer–supplier trade graph
  // (undirected: an order line links its customer to its supplier, both
  // directions materialized; supplier ids live in a shifted namespace).
  // [[PrIters]] synchronous iterations at damping 0.85, entirely on a
  // 1e12 INTEGER grid: ranks are BIGINT "nano-shares", each neighbor
  // contribution is rank div outdeg (truncating integer division —
  // identical in Spark `div` and DuckDB `//` even for the remainder,
  // see SKILL.md), and the damped update is (85·Σ) div 100 plus the
  // teleport term 15%·grid div N. Truncation loses a few units of mass
  // per node per round — identically in both engines, which is the
  // whole trick: PageRank's float sums are order-dependent and would
  // never hash cross-engine; the integer grid is exact and the ranking
  // it induces is the same for any real use at 1e12 resolution.
  //
  // Scale: each iteration is the textbook pair of keyed shuffles
  //   contribs: join(ranks, edges on src) → groupBy(dst) SUM
  // with map-side partial aggregation; edges/degrees are materialized
  // once (localCheckpoint) so iteration R never replans or rescans
  // rounds 1..R−1 — the q90/q178 lineage contract. The loop is
  // CONVERGED-OR-CAPPED like k-core: each round pays one scalar action
  // (did any node's integer rank move?); because the update is a pure
  // function of the previous rank vector, a converged vector is a
  // fixpoint and the oracle's remaining fixed-K rounds are no-ops —
  // early stop can never diverge from the K-round chained-CTE oracle
  // (PageRankSpec proves the early-stop case hash-matches).
  val PrIters = 4
  val PrTopK = 50

  /** Size cap (bytes, conservative ~16 B/id estimate) below which a
    * node-sized frame is explicitly broadcast into the per-round
    * semi/anti joins of the iterative family, and above which the
    * adjacency build (q163) hints shuffled-hash: the driver-side analog
    * of the AQE decision, made where AQE cannot see (checkpointed
    * lineage / hint-pinned plans). Past this size on a real cluster the
    * answer is pre-bucketed edge storage (SPJ, q161), not a bigger
    * broadcast. */
  val BcastNodeBytes: Long = 64L << 20

  /** Eager lineage-truncating checkpoint for EDGE-SIZED graph
    * artifacts, stored DISK_ONLY: the default MEMORY_AND_DISK level
    * parks gigabytes of edge blocks inside the unified manager's
    * protected storage region, and at the organic soaks under the
    * default 8 GB bench heap that starved concurrent hash aggregates
    * into a hard AGGREGATE_OUT_OF_MEMORY (r12, cold-page-cache box
    * state — flaky-boundary before that). Edge artifacts are scanned
    * once or twice sequentially; the OS page cache serves the re-reads,
    * and execution memory stays whole. Node-sized frames keep the
    * default level — they are the broadcast/probe working set. */
  private def diskCheckpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
  private val PrGrid = 1000000000000L // 1e12 integer rank grid

  /** Estimated bytes per node id in the conditioned-broadcast size
    * checks (`rows * NodeIdBytes` vs [[BcastNodeBytes]]). */
  val NodeIdBytes = 16L

  /** Integer-grid PageRank over a directed edge list (`src`, `dst`).
    * Returns (ranks, roundsRun): (node, rank) for every node reached by
    * a contribution, after at most maxIters damped synchronous updates,
    * stopping early when the rank vector reaches a fixpoint.
    *
    * PHYSICAL DISPATCH (r13 verdict task 2 — the public API must never
    * hit the broadcast cliff): past `bucketBytes` of estimated
    * node-frame size (node count × [[NodeIdBytes]]) the loop runs over
    * BUCKETED edge storage — the q210 shape: edges written once
    * (content-addressed, [[bucketEdges]]), every round's contribution
    * join streams the bucketed scan in place, per-round shuffled bytes
    * are O(nodes) at any rank-frame size. Below it, the classic
    * two-keyed-shuffles loop (rank⋈edges on src → groupBy dst), where
    * AQE broadcasts the node-sized side. The two paths compute the
    * IDENTICAL trajectory — same contributions (inner joins on src),
    * same integer-grid update, same fixpoint test — so the dispatch is
    * invisible in results. Pass `Long.MaxValue` to pin the broadcast
    * path (q147 does: it is the deliberate A/B twin of q210) or `0` to
    * force bucketed storage.
    */
  def pageRank(edgesIn: DataFrame, maxIters: Int,
      bucketBytes: Long = BcastNodeBytes): (DataFrame, Int) = {
    val sel = edgesIn.select(col("src"), col("dst"))
    chooseEdgeStorage(sel, bucketBytes) match {
      case Some(be) => pageRankBucketedLoop(be, maxIters)
      case None => pageRankBroadcastLoop(sel, maxIters)
    }
  }

  /** Salt when the hottest node's edge list exceeds this many
    * core-shares of the total edge count (maxdeg · cores >
    * SupernodeCoreShares · m): below it the Zipf-1.2 soak measured the
    * skew fully absorbed (SCALE.md round 14); above it the Zipf-1.5
    * soak measured real 3–4× per-round stragglers that the salted
    * layout flattens. */
  val SupernodeCoreShares = 4L

  /** Storage chooser for the PUBLIC graph helpers. One aggregation
    * pass over the edge plan yields the node count (frame-size
    * estimate vs `bucketBytes`), the max out-degree and the edge count
    * (the supernode test) — so a caller handing the API a 100 TB
    * power-law graph gets the salted layout, a uniform one the plain
    * bucketed layout, and a small one the broadcast loop, without ever
    * hitting either cliff. Sentinels: Long.MaxValue pins the broadcast
    * path, 0 forces plain bucketed, -1 forces salted (specs use them).
    * Returns the edge frame to loop over, or None for broadcast. */
  /** The three layouts [[chooseEdgeStorage]] dispatches between. */
  sealed trait EdgeLayout
  case object BroadcastLayout extends EdgeLayout
  case object BucketedLayout extends EdgeLayout
  final case class SaltedLayout(factor: Int) extends EdgeLayout

  /** The PURE dispatch rule behind [[chooseEdgeStorage]] — extracted so
    * the decision table (empty input, sentinel pins, supernode
    * threshold, non-integral-src fallback, adaptive F) is unit-testable
    * without constructing graphs skewed enough to trip the threshold at
    * a given core count. `mx` is None when the edge frame was empty
    * (max aggregates to NULL). */
  def edgeLayoutFor(n: Long, mx: Option[Long], m: Long, cores: Long,
      bucketBytes: Long, integralSrc: Boolean): EdgeLayout =
    if (bucketBytes == Long.MaxValue) BroadcastLayout
    else if (bucketBytes == 0L) BucketedLayout
    else if (bucketBytes == -1L) SaltedLayout(SaltedEdgeFactor)
    else if (n == 0L || mx.isEmpty || n * NodeIdBytes <= bucketBytes)
      BroadcastLayout
    else if (mx.get * cores > SupernodeCoreShares * m && integralSrc)
      SaltedLayout(adaptiveSaltFactor(mx.get, m, cores))
    else BucketedLayout

  private def chooseEdgeStorage(sel: DataFrame, bucketBytes: Long)
      : Option[DataFrame] = {
    // sentinels need no stats pass
    val stats: (Long, Option[Long], Long) =
      if (bucketBytes == Long.MaxValue || bucketBytes == 0L ||
          bucketBytes == -1L) (0L, None, 0L)
      else {
        val r = sel.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .agg(count(lit(1)).as("n"), max(col("d")).as("mx"),
            sum(col("d")).as("m")).head
        // Empty edge frame: max/sum aggregate to NULL — mx=None routes
        // to the broadcast path (an empty loop yields the correct empty
        // result) instead of NPE-ing on getLong (r14 ADVICE).
        val mxOpt = if (r.isNullAt(1)) None else Some(r.getLong(1))
        (r.getLong(0), mxOpt, if (r.isNullAt(2)) 0L else r.getLong(2))
      }
    val cores =
      sel.sparkSession.sparkContext.defaultParallelism.max(1).toLong
    // salted needs exact integer src arithmetic — string/decimal node
    // ids fall back to the plain bucketed layout (a null src_salt would
    // silently match nothing, r14 ADVICE)
    edgeLayoutFor(stats._1, stats._2, stats._3, cores, bucketBytes,
        hasIntegralSrc(sel)) match {
      case BroadcastLayout => None
      case BucketedLayout => Some(bucketEdges(sel))
      case SaltedLayout(f) => Some(saltEdges(sel, f))
    }
  }

  /** Salt factor sized to the MEASURED skew instead of a fixed
    * constant (r14 negative: F=8 at Zipf-1.5 over-replicated — walls
    * worse than plain; F=4 was parity with the stragglers flattened).
    * Rule: replicate the hottest node just past the absorption
    * threshold — target maxdeg/F ≤ (SupernodeCoreShares/2)·m/cores,
    * i.e. half the dispatch threshold, so the salted sub-keys land
    * comfortably inside the regime the Zipf-1.2 soak measured as
    * fully absorbed. F = ceil(maxdeg·cores / (2·m)) clamped to
    * [2, cores]: Zipf-1.5 (maxdeg·cores/m ≈ 7.4) sizes to the
    * measured-parity F=4; a 10× hotter hub scales F proportionally
    * instead of leaving 4 fixed. */
  def adaptiveSaltFactor(mx: Long, m: Long, cores: Long): Int = {
    val denom = 2L * m
    val f = (mx * cores + denom - 1L) / denom
    f.max(2L).min(cores).toInt
  }

  private def pageRankBroadcastLoop(sel: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    val edges = diskCheckpoint(sel)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val nn = broadcast(deg.agg(count(lit(1)).as("n")))
    val teleport = expr(s"${(PrGrid * 15L) / 100L} div n")
    var r = deg.crossJoin(nn)
      .select(col("src").as("node"), expr(s"$PrGrid div n").as("rank"))
      .localCheckpoint(true)
    var it = 0
    var changed = true
    while (changed && it < maxIters) {
      val next = edges
        .join(r, edges("src") === r("node"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("csum"))
        .crossJoin(nn)
        .select(col("node"),
          (teleport + expr("(85 * csum) div 100")).as("rank"))
        .localCheckpoint(true)
      // fixpoint test: one node-keyed join, short-circuited by LIMIT 1 —
      // the only thing that reaches the driver is a 0/1 count
      changed = next
        .join(r.select(col("node"), col("rank").as("prev")), Seq("node"))
        .filter(col("rank") =!= col("prev"))
        .limit(1).count() > 0
      r = next
      it += 1
    }
    (r, it)
  }

  /** The bucketed-storage twin of [[pageRankBroadcastLoop]] — the q210
    * shape over an arbitrary bucketed edge frame. Degrees come straight
    * off the bucketed scan (zero exchange); each round attaches outdeg
    * to the current ranks (node-sized join) and streams the bucketed
    * scan in place through [[pageRankRound]]. Trajectory-identical to
    * the broadcast loop: contributions are the same inner-join rows,
    * the update and fixpoint test are the same expressions. */
  def pageRankBucketedLoop(be: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    val degRaw =
      if (be.columns.contains("bucket"))
        be.groupBy(col("bucket"), col("src")).agg(count(lit(1)).as("outdeg"))
          .select(col("src"), col("outdeg"))
      else be.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val deg = degRaw.localCheckpoint(true)
    val nn = broadcast(deg.agg(count(lit(1)).as("n")))
    val teleport = expr(s"${(PrGrid * 15L) / 100L} div n")
    var r = deg.crossJoin(nn)
      .select(col("src").as("node"), expr(s"$PrGrid div n").as("rank"))
      .localCheckpoint(true)
    var it = 0
    var changed = true
    while (changed && it < maxIters) {
      val state = r.join(deg, r("node") === deg("src"))
        .select(deg("src"), col("rank"), col("outdeg"))
      val next = pageRankRound(be, state)
        .crossJoin(nn)
        .select(col("node"),
          (teleport + expr("(85 * csum) div 100")).as("rank"))
        .localCheckpoint(true)
      changed = next
        .join(r.select(col("node"), col("rank").as("prev")), Seq("node"))
        .filter(col("rank") =!= col("prev"))
        .limit(1).count() > 0
      r = next
      it += 1
    }
    (r, it)
  }

  register("q147_pagerank", {
    // AS MATERIALIZED on every shared CTE (the q178 contract): DuckDB
    // inlines plain CTEs per reference, so `edges` (referenced by deg,
    // r0, every r_i, and the final select) would be recomputed from the
    // orders⋈lineitem distinct ~7 times — at the 20× soak that
    // re-evaluation is what exhausted spill disk (r6 oracle hole).
    // Materialization changes cost only, never results.
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    (150000000000 // nn.n)
         |      + (85 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 100
         |      AS rank
         |  FROM edges e
         |  JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  CROSS JOIN nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + $SupplierOffset AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY src),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |r0 AS MATERIALIZED (SELECT src AS node, $PrGrid // nn.n AS rank
       |  FROM deg CROSS JOIN nn),
       |$iters
       |SELECT node, rank FROM r$PrIters
       |ORDER BY rank DESC, node ASC LIMIT $PrTopK""".stripMargin
  }) { (s, d) =>
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_suppkey") + SupplierOffset).as("supp"))
      .distinct()
    val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst")))
    // Long.MaxValue pins the conditioned-broadcast loop: q147 is kept
    // deliberately as the A/B measurement twin of q210's bucketed
    // path — the public API default would route it to bucketed storage
    // at the organic soaks and erase the comparison.
    val (r, _) = pageRank(edges, PrIters, bucketBytes = Long.MaxValue)
    r.orderBy(col("rank").desc, col("node").asc).limit(PrTopK)
  }

  register("q90_dup_clusters",
    """WITH RECURSIVE
      |e1 AS (SELECT d.doc_id AS a, d.doc_id + 1 AS b FROM documents d
      |       JOIN documents x ON x.doc_id = d.doc_id + 1
      |       WHERE d.doc_id % 5 = 0),
      |e2 AS (SELECT d.doc_id AS a, d.doc_id + 2 AS b FROM documents d
      |       JOIN documents x ON x.doc_id = d.doc_id + 2
      |       WHERE d.doc_id % 11 = 0),
      |edges AS (
      |  SELECT a, b FROM e1 UNION SELECT a, b FROM e2
      |  UNION SELECT b, a FROM e1 UNION SELECT b, a FROM e2),
      |reach(id, r) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
      |SELECT id AS doc_id, MIN(r) AS component,
      |  CAST(MIN(r) = id AS INTEGER) AS is_representative
      |FROM reach GROUP BY id""".stripMargin) { (s, d) =>
    val ids = documents(s, d).select(col("doc_id"))
    def chain(step: Int, mod: Int): DataFrame = ids
      .filter(col("doc_id") % mod === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + step).as("b"))
      .join(ids.select(col("doc_id").as("b")), Seq("b"))
    val edges = chain(1, 5).select("a", "b")
      .unionAll(chain(2, 11).select("a", "b"))
    connectedComponents(edges)
      .select(col("id").as("doc_id"), col("component"),
        (col("component") === col("id")).cast("int").as("is_representative"))
  }

  // ==================================================== triangle counting
  // Exact triangle count over the part co-occurrence graph (parts sharing
  // an order), via the DEGREE-ORDERED node-iterator: orient every edge
  // from its (degree, id)-smaller endpoint to the larger, enumerate
  // wedges only among each node's OUT-neighbors, close them against
  // oriented edges. Orientation bounds every out-degree by O(√m), so
  // wedge volume is O(m^1.5) instead of Σ deg² — the difference between
  // a skewed hub exploding quadratically and a balanced join at 100 TB.
  // Shuffles: one basket aggregation + one pair distinct for the edge
  // list, then one per keyed join; degree frames are node-sized, so AQE
  // picks their join strategy at runtime (no broadcast hints).
  //
  // The oracle is deliberately INDEPENDENT of the orientation trick: the
  // canonical a<b<c triple-join. Equality of the two formulations is the
  // theorem the gate re-proves on real data at every scale.
  register("q163_triangle_count",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT x.p AS a, y.p AS b
      |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
      |nodes AS (SELECT a AS n FROM e UNION SELECT b AS n FROM e),
      |tri AS (SELECT COUNT(*) AS n FROM e e1
      |        JOIN e e2 ON e2.a = e1.b
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      |  (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles""".stripMargin) {
    (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // Edge list via per-order BASKETS, not a self-join (r6 shave): one
    // shuffle keyed by order id builds sorted distinct part arrays
    // (collect_set dedups inside the partial aggregate, so the old
    // formulation's pre-distinct pass — a full lineitem shuffle — and
    // the join machinery are both gone). All a<b pairs then explode
    // MAP-SIDE from each basket; baskets are order-sized (≤ a few
    // items), so the fan-out is bounded — the q171 rationale. A hot
    // basket (one order with 10^4 parts) would need a size cap exactly
    // like DedupOps.MaxBucketSize; lineitem's per-order line count is
    // bounded by construction.
    val baskets = li.groupBy("o")
      .agg(sort_array(collect_set(col("p"))).as("ps"))
    val pairCol = flatten(transform(col("ps"), (x, i) =>
      transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
        struct(x.as("a"), y.as("b")))))
    // The graph artifacts (edge list, degrees, oriented edges) are each
    // consumed by SEVERAL downstream passes. ReuseExchange dedupes only
    // the exchange subtree — every consumer still re-runs the final
    // aggregation above it (measured r6: the 1.2M-row edge distinct
    // finalized 6×, ~40% of the query). Eagerly localCheckpoint each:
    // they are edge/node-sized (the artifacts any multi-pass graph
    // algorithm materializes — q147/q178/q190 do the same per
    // iteration), computed once, read back by every pass.
    // NOTE (r6 ADVICE): eager localCheckpoint(true) runs three Spark
    // jobs at DataFrame-CONSTRUCTION time, so merely building this
    // query (PlanLint, ShuffleBudgetDump, explain tooling) executes the
    // edge/degree/orientation front; the recorded shuffle budget covers
    // only the post-checkpoint assembly.
    val e = diskCheckpoint(baskets.select(explode(pairCol).as("ab"))
      .select(col("ab.a").as("a"), col("ab.b").as("b")).distinct())

    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val da = deg.select(col("n").as("a"), col("deg").as("dega"))
    val db = deg.select(col("n").as("b"), col("deg").as("degb"))
    val aFirst = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    // oriented edge src→dst. No broadcast hint on the degree tables:
    // they are NODE-sized (one row per graph node — billions at 100 TB),
    // so the keyed sort-merge/AQE choice is the scale path; AQE still
    // broadcasts them when they measure small at runtime.
    val oriented = diskCheckpoint(e.join(da, Seq("a")).join(db, Seq("b"))
      .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst")))

    // ADJACENCY-ARRAY closing (r9 verdict task 1, replacing the
    // wedge-materializing join): with the DAG orientation, every
    // triangle {u,v,w} has exactly one apex u carrying u→v and u→w plus
    // the closing edge v→w — so it is counted EXACTLY ONCE as a common
    // out-neighbor of the endpoints of oriented edge (v→w)'s... more
    // precisely: for each oriented edge (x→y),
    // |N⁺(x) ∩ N⁺(y)| counts the triangles whose closing pair is (x,y).
    // The old plan materialized all O(m^1.5) wedges (41M rows at sf0.1)
    // through an exchange and sorted 2.4 GB for the closing merge join;
    // here the wedge volume never leaves the CPU: out-neighbor sets are
    // node-sized sorted arrays (out-degree ≤ O(√m) by orientation), the
    // per-edge intersection is the zero-allocation merge-walk kernel
    // graft.catalyst.SortedIntersectCount inside whole-stage codegen,
    // and only edge-sized frames (m rows) ever shuffle. The adjacency
    // build reuses its own groupBy(src) partitioning for the src-side
    // join, checkpointed once because TWO joins consume it.
    // MEASURED NEGATIVE (round 10, do not retry): casting the closing
    // pipeline to 32-bit ids (int arrays through the kernel's int
    // variant) is ~10% SLOWER at org-50×/org-100× (116.9 vs 102.0 s,
    // 330.5 vs 297.9 s min-of-2) and within noise at sf0.1 — the
    // shuffle compresses sorted neighbor arrays well at either width,
    // so the halved in-memory bytes don't reach the wire while the
    // extra cast projection does run over every edge.
    // SIZE-CONDITIONED adjacency representation AND join strategy — one
    // decision, two effects, made where AQE cannot (e/deg are eagerly
    // checkpointed, their exact counts are a cache scan):
    //
    //   small graph (packed estimate ≤ 64 MB): plain long-array
    //   adjacency + no hint → AQE broadcasts, and the pack projection's
    //   per-edge cost (~10% at sf0.1, r12 measured) is never paid where
    //   the arrays never hit a wire.
    //
    //   big graph: adjacency DELTA+VARINT-PACKED into BinaryType at the
    //   aggregate (r11 verdict task 2) + shuffle_hash hint. Sorted
    //   neighbor ids pack at 1-3 B/element instead of UnsafeArrayData's
    //   8, and the packing survives to the shuffle FILES — unlike the
    //   r10 32-bit-cast negative, which only narrowed bytes the shuffle
    //   codec was already squeezing. The org-100× 50→100 step was
    //   disk-bound on ~40 GB of array-carrying SHJ shuffle writes;
    //   packing attacks exactly those bytes (297.9 → 47.0 s, SCALE.md
    //   round-12). The intersect kernel walks the packed buffers
    //   directly (PackedIntersectCount — the same zero-allocation merge
    //   walk, varints decoded on the fly), so the arrays are never
    //   materialized back. Both kernels are proven equal to
    //   size(array_intersect) by their specs, so the switch cannot
    //   change results.
    //
    // The hint half (r10): past broadcast size a plain join goes SMJ
    // and the SORT streams the edge×array frame through spill (+1.80
    // pairwise exponent at org 20→50×); shuffle_hash builds on the
    // node-sized adjacency side instead. But hints survive AQE
    // re-planning, so an UNCONDITIONAL hint pins small graphs away from
    // the strictly-better broadcast (+1.2 s at sf0.1) — hence the same
    // size condition gates it.
    // Gate in the units the BELOW-threshold branch actually ships (r12
    // ADVICE): that branch keeps UNPACKED long arrays at ~8 B/edge, so
    // estimating in packed bytes (~3 B/edge) let adjacencies up to ~2.7×
    // the broadcast intent stay broadcast-eligible. One estimate, one
    // decision: once the unpacked form would breach BcastNodeBytes, both
    // the pack and the hint engage together.
    val adjEstBytes = e.count() * 8L + deg.count() * 32L
    val hintShj = adjEstBytes > BcastNodeBytes
    def shjAboveBroadcast(df: DataFrame): DataFrame =
      if (hintShj) df.hint("shuffle_hash") else df
    val nbrsArr = sort_array(collect_list(col("dst")))
    val adj = diskCheckpoint(oriented.groupBy("src")
      .agg((if (hintShj) graft.catalyst.GraftFunctions.packSortedLongs(nbrsArr)
            else nbrsArr).as("nbrs")))
    def intersectCount(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (hintShj) graft.catalyst.GraftFunctions.packedIntersectCount(a, b)
      else graft.catalyst.GraftFunctions.sortedIntersectCount(a, b)
    val adjX = adj.select(col("src").as("x"), col("nbrs").as("nbrs_x"))
    val adjY = adj.select(col("src").as("y"), col("nbrs").as("nbrs_y"))
    val triangles = oriented
      .select(col("src").as("x"), col("dst").as("y"))
      .join(shjAboveBroadcast(adjX), Seq("x")) // x w/o out-list: impossible
      .join(shjAboveBroadcast(adjY), Seq("y")) // y w/o out-edges closes nothing
      .select(intersectCount(col("nbrs_x"), col("nbrs_y")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))

    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    // 1×1 scalar frames — broadcast cross joins (the q09 pattern)
    broadcast(nNodes).crossJoin(broadcast(nEdges)).crossJoin(triangles)
  }

  // ======================================================== k-core
  // k-core decomposition by iterative peeling: drop every node whose
  // degree (within the surviving subgraph) is below k, recompute
  // degrees, repeat to fixpoint. The k-core is the standard "dense
  // enough to matter" filter before community detection or influence
  // ranking, and at 100 TB it is exactly this loop — each round is ONE
  // keyed degree aggregation (map-side combinable) over edges
  // semi-joined to survivors, never a collected node set.
  //
  // Determinism/oracle contract: peeling is a monotone set-shrinking
  // process, so a CONVERGED result is a fixpoint — extra rounds are
  // no-ops. Spark runs early-stopping rounds capped at [[KCoreRounds]];
  // the oracle runs exactly [[KCoreRounds]] chained-CTE rounds. If both
  // converge within the cap the results are the true k-core and
  // identical; if the cap ever bound first, both sides did the same
  // [[KCoreRounds]] rounds and are STILL identical — the gate cannot
  // silently diverge. Edges are materialized once (localCheckpoint) so
  // per-round lineage doesn't re-read parquet; the per-round driver
  // sync is one scalar count (the q90 convergence pattern).
  val KCoreK = 4
  val KCoreRounds = 12

  register("q178_kcore", {
    val rounds = (1 to KCoreRounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT e.src AS v FROM edges e
         |  JOIN s${i - 1} a ON e.src = a.v
         |  JOIN s${i - 1} b ON e.dst = b.v
         |  GROUP BY e.src HAVING COUNT(*) >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + $SupplierOffset AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
       |$rounds
       |SELECT CAST(e.src AS BIGINT) AS node,
       |  CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM edges e
       |JOIN s$KCoreRounds a ON e.src = a.v
       |JOIN s$KCoreRounds b ON e.dst = b.v
       |GROUP BY e.src""".stripMargin
  }) { (s, d) =>
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_suppkey") + SupplierOffset).as("supp"))
      .distinct()
    val edges = diskCheckpoint(
      pairs.select(col("cust").as("src"), col("supp").as("dst"))
        .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst"))))
    var survivors = edges.select(col("src").as("v")).distinct()
      .localCheckpoint(true)
    var prev = survivors.count()
    // SIZE-CONDITIONED broadcast of the node-sized survivor frame (the
    // q163 pattern): between org-50× and org-100× the survivor set
    // crosses AQE's 10 MB broadcast default (562k → 1.13M ids), which
    // silently flips BOTH per-round semi-joins from broadcast (edges
    // never shuffled) to shuffle joins of the full edge frame —
    // measured 17.6 s → 96.8 s for 2× data, heap-insensitive. The
    // per-round count() the convergence check already pays gives the
    // exact size for free; hint broadcast while the estimate fits,
    // fall back to the keyed join beyond [[GraphOps.BcastNodeBytes]]
    // (where the 100 TB path is pre-bucketed edges / SPJ, not a
    // giant broadcast).
    def sem(df: DataFrame, rows: Long): DataFrame =
      if (rows * 16L <= BcastNodeBytes) broadcast(df) else df
    var round = 0
    var changed = true
    while (changed && round < KCoreRounds) {
      val next = edges
        .join(sem(survivors.select(col("v").as("src")), prev), Seq("src"), "left_semi")
        .join(sem(survivors.select(col("v").as("dst")), prev), Seq("dst"), "left_semi")
        .groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCoreK)
        .select("v")
        .localCheckpoint(true)
      val n = next.count()
      changed = n != prev
      prev = n
      survivors = next
      round += 1
    }
    edges
      .join(sem(survivors.select(col("v").as("src")), prev), Seq("src"), "left_semi")
      .join(sem(survivors.select(col("v").as("dst")), prev), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
      .select(col("node").cast(LongType).as("node"), col("core_degree"))
  }

  // ================================================== BFS hop levels
  // Multi-source breadth-first search over the trade graph: exact
  // shortest-hop distance from a seed set (every ~97th customer) to
  // every node within [[BfsMaxHops]] hops — the reachability/blast-
  // radius primitive (influence spheres, contamination spread through
  // a supply graph, N-hop feature neighborhoods).
  //
  // Synchronous frontier expansion: round i semi-joins edges to the
  // current frontier, dedups, and anti-joins the visited set — each
  // round is two keyed shuffles over ids only, no path enumeration
  // (a path-based oracle would be combinatorial; the chained frontier
  // CTEs below dedup per level, so both sides do linear work). Fixed
  // [[BfsMaxHops]] rounds, no driver convergence sync: an empty
  // frontier makes the remaining rounds no-ops identically in both
  // engines (the q178 cap contract). Unreached nodes are absent.
  //
  // Scale: per round, frontier/visited hold node ids only; the
  // localCheckpoint truncates lineage so round R doesn't replan rounds
  // 1..R−1 (the q90 contract). Nothing data-sized ever reaches the
  // driver.
  val BfsMaxHops = 4
  val BfsSeedMod = 97L

  register("q190_bfs_levels", {
    val rounds = (1 to BfsMaxHops).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM vis${i - 1})),
         |vis$i AS MATERIALIZED (
         |  SELECT node FROM vis${i - 1} UNION SELECT node FROM f$i)"""
        .stripMargin
    }.mkString(",\n")
    val levels = (0 to BfsMaxHops)
      .map(i => s"SELECT node, CAST($i AS BIGINT) AS lvl FROM f$i")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + $SupplierOffset AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |f0 AS MATERIALIZED (
       |  SELECT DISTINCT cust AS node FROM pairs
       |  WHERE cust % $BfsSeedMod = 0),
       |vis0 AS (SELECT node FROM f0),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, lvl FROM (
       |  $levels)""".stripMargin
  }) { (s, d) =>
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_suppkey") + SupplierOffset).as("supp"))
      .distinct()
    val edges = diskCheckpoint(
      pairs.select(col("cust").as("src"), col("supp").as("dst"))
        .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst"))))
    var frontier = pairs.select(col("cust").as("node")).distinct()
      .filter(col("node") % BfsSeedMod === 0)
      .localCheckpoint(true)
    var frontierN = frontier.count()
    var visited = frontier
    var visitedN = frontierN
    var out = frontier.select(col("node"), lit(0L).as("lvl"))
    // Size-conditioned broadcast of the node-sized frontier/visited
    // frames (q178 rationale: past AQE's 10 MB default the semi/anti
    // joins silently start shuffling the full edge / dst streams every
    // round — measured at org-100×). The count() rides the frame the
    // round just eagerly checkpointed — a cache scan, not a recompute
    // (and a size probe only, NOT a convergence sync: rounds stay
    // fixed at [[BfsMaxHops]] in both engines).
    def sem(df: DataFrame, rows: Long): DataFrame =
      if (rows * 16L <= BcastNodeBytes) broadcast(df) else df
    for (i <- 1 to BfsMaxHops) {
      val next = edges
        .join(sem(frontier.select(col("node").as("src")), frontierN),
          Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(sem(visited, visitedN), Seq("node"), "left_anti")
        .localCheckpoint(true)
      frontierN = next.count()
      out = out.unionAll(next.select(col("node"), lit(i.toLong).as("lvl")))
      // lazy union of checkpointed frontiers (r19): re-checkpointing
      // visited per hop was a whole job rewriting already-pinned bytes
      visited = visited.unionAll(next)
      visitedN += frontierN
      frontier = next
    }
    out.select(col("node").cast(LongType).as("node"), col("lvl"))
  }

  // ====================================== BFS over BUCKETED edge storage
  // q201 (the number the round-10/11 verdicts reserved): the >64 MB
  // graph story. q190's per-round semi/anti joins are broadcast-
  // conditioned — past [[BcastNodeBytes]] of frontier/visited ids the
  // explicit broadcast stands down and the keyed join shuffles the
  // FULL edge stream every round (the org-100× cliff's shape). The
  // 100 TB answer is pre-bucketed edge storage: the edge table is
  // written ONCE as a Spark bucketed parquet table (bucketBy on src,
  // sorted within buckets), whose scan reports
  // HashPartitioning(src, [[Q201Buckets]]) — so every round's
  // frontier semi-join is ZERO-EXCHANGE on the edge side by storage
  // partitioning: only the node-sized frontier shuffles (to the bucket
  // layout), at ANY frontier size, no broadcast anywhere. The
  // shuffle_hash hints pin the per-round plan away from AQE's
  // broadcast conversions so the property is structural, not
  // size-conditional (BucketedBfsSpec asserts no exchange ever sits
  // above the bucketed scan).
  //
  // Why Spark-native bucketed parquet and not the ClusteredSink (a
  // JSON-lines payload when this family was written): the demonstration is STORAGE PARTITIONING, and at
  // the organic soaks a toy row-format's parse cost would dominate and
  // misrepresent it; bucketBy+saveAsTable is the exact layout a
  // 100 TB warehouse would carry (one-time ETL shuffle amortized over
  // every downstream traversal — here it is charged to the query,
  // which is the honest self-contained cost).
  //
  // Semantics = q190 with a denser seed (every ~53rd customer): fixed
  // [[BfsMaxHops]] rounds, per-level dedup, unreached nodes absent.
  //
  // Q201Buckets is the bucket count of every edge layout. A power-law
  // graph puts a hub's whole edge list in one bucket; with buckets ==
  // cores the hub task IS the round's wall clock, while buckets ≫ cores
  // lets the scheduler pack small buckets around the hub (measured at
  // the Zipf-1.2 soak, SCALE.md round 14). Correctness and the
  // zero-exchange property do not depend on the count.
  val Q201Buckets = 32
  val Q201SeedMod = 53L

  /** In-JVM registry of bucketed edge tables already written this JVM
    * (table name → kept so the content-addressed skip below is a pure
    * map probe) plus the /tmp directories to reap at JVM exit (r13
    * ADVICE: pid-keyed paths leaked across JVMs until /tmp cleanup;
    * long-lived hosts running many bench/verify JVMs accumulate
    * unbounded /tmp usage). */
  private val writtenEdgeTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val edgeEtlLock = new Object

  private def trackEdgeDir(path: String): Unit =
    graft.util.TmpReaper.track(path)

  /** Write-once within this JVM for the native bucketBy layouts: the
    * table `tbl` this JVM already wrote, else the one `write` makes. */
  private def writeOnce(s: SparkSession, tbl: String)(
      write: => DataFrame): DataFrame = edgeEtlLock.synchronized {
    if (writtenEdgeTables.contains(tbl) && s.catalog.tableExists(tbl))
      s.table(tbl)
    else { val out = write; writtenEdgeTables.add(tbl); out }
  }

  /** Write-once for the edge tables on the engine's own sink. The first
    * call in this JVM adopts a complete persisted `ident` (a durable
    * warehouse surviving a restart; adopt drops a partial one a dead
    * writer left), or creates the empty filePerKey table with columns
    * `cols` plus `bucket`, runs `append` to fill it and marks it
    * complete. Later calls are a pure catalog probe. */
  private def adoptOrBuild(iso: SparkSession, ident: String, cols: String)(
      append: => Unit): DataFrame = {
    edgeEtlLock.synchronized {
      if (!writtenEdgeTables.contains(ident)) {
        if (graft.engine.Warehouse.adopt(iso, ident,
            Seq(graft.engine.Warehouse.CompleteProp)).isEmpty) {
          iso.sql(s"CREATE NAMESPACE IF NOT EXISTS $GraftEdgeCat.g")
          iso.sql(s"DROP TABLE IF EXISTS $ident")
          iso.sql(s"CREATE TABLE $ident ($cols, bucket BIGINT) " +
            "PARTITIONED BY (bucket) " +
            "TBLPROPERTIES ('filePerKey'='true', 'sortBy'='src')")
          append
          graft.engine.Warehouse.markComplete(iso, ident)
        }
        writtenEdgeTables.add(ident)
      }
    }
    iso.table(ident)
  }

  /** The storage bucket of an edge or probe row:
    * pmod(src, [[Q201Buckets]]). */
  private def bucketOfSrc: Column =
    pmod(col("src"), lit(Q201Buckets.toLong)).cast(LongType)

  /** Content address of a dataset's edge inputs: name, size, and mtime
    * of every orders/lineitem parquet part under `d`. Same content →
    * same table name → the write is skipped; a regenerated dataset
    * (soak dirs are rewritten in place between runs) changes the
    * fingerprint and forces a fresh ETL — the skip can never serve
    * stale edges. */
  private def datasetFingerprint(d: String): String = {
    val files = Seq("orders.parquet", "lineitem.parquet").flatMap { n =>
      val f = new java.io.File(d, n)
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Seq(f))
      else Seq(f)
    }
    // the bucket count stays in the address: a durable warehouse adopts
    // the edge tables it already holds by this name
    val sig = d + "|b" + Q201Buckets + "|" + files.map(f =>
      s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
  }

  /** Shared bucketed-table writer: (re)writes `edges` as a parquet table
    * bucketed and bucket-sorted on `key` and returns the catalog-read
    * frame whose scan carries the bucket partitioning. */
  private def writeBucketedEdges(s: SparkSession, tbl: String,
      edges: DataFrame, key: String = "src"): DataFrame = {
    // repartition by the bucket expression first: each write task then
    // emits exactly one file per bucket instead of numBuckets small
    // files per task (the classic bucketBy write blow-up)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    edges.repartition(Q201Buckets, col(key))
      .write.format("parquet")
      .bucketBy(Q201Buckets, key).sortBy(key)
      .option("path",
        s"${graft.engine.Warehouse.assetDir("edges_native")}/$tbl")
      .mode("overwrite")
      .saveAsTable(tbl)
    trackEdgeDir(
      s"${graft.engine.Warehouse.assetDir("edges_native")}/$tbl")
    s.table(tbl)
  }

  /** One-time ETL: build the trade-graph edge list and write it as a
    * bucketed, bucket-sorted parquet table; returns the catalog-read
    * frame whose scan carries the bucket partitioning.
    *
    * CONTENT-ADDRESSED, WRITE-ONCE (r13 verdict task 1): the table name
    * is keyed by the dataset's file fingerprint (names+sizes+mtimes of
    * the orders/lineitem parts — see [[datasetFingerprint]]) AND by the
    * JVM's pid (r12 ADVICE: a fixed global name let concurrent benches
    * clobber each other; the catalog entry is per-JVM but /tmp is
    * host-global). Within a JVM the first bucketed-graph query pays the
    * ETL; every later call (q201 BFS, q209 k-core, q210 PageRank, q213
    * components — and every bench rep) gets the table back as a pure
    * catalog probe, which is the production cost model: edges are laid
    * out once and amortized over every traversal. Directories are
    * reaped by a JVM shutdown hook (r13 ADVICE / verdict task 7).
    */
  def bucketedEdgeTable(s: SparkSession, d: String): DataFrame = {
    val tbl = s"graft_edges_${datasetFingerprint(d)}" +
      s"_p${ProcessHandle.current().pid()}"
    writeOnce(s, tbl)(writeBucketedEdges(s, tbl, tradeEdgesPlan(s, d)))
  }

  /** The symmetrized trade-graph edge plan (orders⋈lineitem →
    * customer↔supplier, supplier ids shifted), shared by every edge
    * storage backend. */
  private def tradeEdgesPlan(s: SparkSession, d: String): DataFrame = {
    // LOUD namespace check: the supplier shift only separates the two
    // node families while every custkey sits below the offset. One
    // single-column parquet scan — cheap next to the ETL shuffle, and
    // it rides the write path only (a skipped call was already checked
    // when its content was written).
    val maxCust =
      Tables.orders(s, d).agg(max(col("o_custkey"))).head.getLong(0)
    require(maxCust < SupplierOffset,
      s"custkey domain (max $maxCust) breaches SupplierOffset " +
        s"$SupplierOffset — the shifted supplier namespace would " +
        "collide; raise SupplierOffset")
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_suppkey") + SupplierOffset).as("supp"))
      .distinct()
    pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst")))
  }

  // ================= edge storage on the engine's OWN sink (GraftCatalog)
  // r13 verdict task 5: the bucketed-graph family demonstrated storage
  // partitioning on native parquet bucketBy while the engine's own
  // table format proved SPJ separately (q211) — two storage stories.
  // [[graftEdgeTable]] closes the gap: the SAME trade-graph edges, laid
  // out by GraftCatalog/ClusteredSink with filePerKey (one file per
  // bucket, manifest-proven single-key), whose scan reports
  // KeyGroupedPartitioning(identity(bucket)). With one-side-shuffle SPJ
  // (`spark.sql.sources.v2.bucketing.shuffle.enabled`) every per-round
  // frontier join shuffles ONLY the node-sized frame to the key-group
  // layout and streams the edge scan in place — the exact q209/q210
  // plan shape, now on the engine's own storage. The graph loops accept
  // either backend: a `bucket` column on the edge frame switches the
  // probe joins to (bucket, src) and the degree aggregates to
  // (bucket, src) grouping (both satisfied by the reported
  // partitioning; results identical since bucket is a pure function of
  // src).

  /** SPJ-configured child session for [[graftEdgeTable]] frames — the
    * "edges" family of the UNIFIED engine warehouse
    * ([[graft.engine.Warehouse]], r15 verdict task 4): one durable
    * root shared with the ANN indexes, same adopt-or-rebuild and
    * completeness discipline. `-Dgraft.warehouse` makes edge layouts
    * survive the JVM and reload as pure catalog probes. */
  def graftEdgeSession(s: SparkSession): SparkSession =
    graft.engine.Warehouse.spjSession(s, GraftEdgeCat, "edges")
  val GraftEdgeCat = "graft_cat_edges"

  /** TEST ONLY: clear the in-JVM write-once memo — the state a fresh
    * JVM starts with — while the warehouse survives. WarehouseSpec
    * drives the cross-JVM edge-table adoption path through this. */
  private[graft] def resetEdgeMemoryForTest(): Unit =
    edgeEtlLock.synchronized { writtenEdgeTables.clear() }

  /** The trade-graph edge table on the engine's own sink — same
    * content-addressed write-once contract as [[bucketedEdgeTable]]
    * (the warehouse is a per-JVM temp dir, so no pid in the name).
    * Returns (src, dst, bucket) from the SPJ-configured child session;
    * bucket = pmod(src, [[Q201Buckets]]). Segments are parquet, the
    * sink's only payload; a table left in a durable warehouse by the
    * deleted JSON-lines payload under the same name fails to load, so
    * adopt skips it and [[adoptOrBuild]] drops and rebuilds it. */
  def graftEdgeTable(s: SparkSession, d: String): DataFrame = {
    val iso = graftEdgeSession(s)
    val ident = s"$GraftEdgeCat.g.edges_${datasetFingerprint(d)}"
    adoptOrBuild(iso, ident, "src BIGINT, dst BIGINT") {
      tradeEdgesPlan(iso, d)
        .select(col("src").cast(LongType).as("src"),
          col("dst").cast(LongType).as("dst"))
        .withColumn("bucket", bucketOfSrc)
        .writeTo(ident).append()
    }
  }

  /** Attach the storage bucket id to a node-keyed probe frame when the
    * edge frame carries one (the GraftCatalog layout keys SPJ on the
    * explicit bucket column; parquet bucketBy keys on src directly).
    * Returns the adapted frame and the join keys. */
  private def edgeProbe(be: DataFrame, f: DataFrame)
      : (DataFrame, Seq[String]) =
    if (be.columns.contains("src_salt")) {
      // salted layout (supernode regime): replicate the node-sized
      // probe per salt — every edge matches exactly one replica
      val fac = saltFactorOf(be)
      (f.withColumn("__salt", explode(sequence(lit(0), lit(fac - 1))))
        .withColumn("src_salt",
          (col("src") * fac + col("__salt")).cast(LongType))
        .drop("__salt"),
        Seq("src_salt"))
    } else if (be.columns.contains("bucket"))
      (f.withColumn("bucket", bucketOfSrc), Seq("bucket", "src"))
    else (f, Seq("src"))

  // ===================== SALTED bucket layout for SUPERNODE graphs
  // SCALE.md round-14 residual risk, closed with machinery: bucketing
  // on src puts a hub's ENTIRE edge list in one bucket — one task per
  // round. When a single node's degree approaches a core-share of
  // total work (maxdeg ≳ m/cores — Zipf exponents past ~1.2, web-graph
  // supernodes), that task IS the round's wall clock and no bucket
  // count fixes it (the hub is one key). The salted layout splits
  // every node's edge list across `factor` sub-keys:
  //
  //   src_salt = src * F + pmod(hash(dst), F)
  //
  // written bucketBy(Q201Buckets, src_salt), so the hub's edges spread
  // over F buckets/tasks. Probes compensate by REPLICATING the
  // node-sized frame F× (ops/Salting's replication side, composed into
  // storage): each probe row fans to (src, salt = 0..F−1) and joins on
  // src_salt — every edge still matches EXACTLY ONE probe replica (the
  // one carrying its dst-hash salt), so inner-join contribution rows
  // and semi-join survivorship are identical to the unsalted layout
  // (SaltedGraphSpec pins row-equality for all three loops). Cost:
  // node frames shuffle F× the bytes (node-sized — cheap), and
  // degree/init aggregates keyed by bare src pay one node-sized
  // exchange (the src_salt partitioning cannot satisfy them).
  //
  // MEASURED at the Zipf-1.5 supernode soak (one node = 23% of edges,
  // bucket max/mean 4.47 — SCALE.md round 14): salting flattens
  // per-round task skew from 2.9–4× to ~1.0× at every F tried; wall
  // clock on a SATURATED local[32] is F-sensitive (F=8 pays more
  // probe replication than the stragglers cost; F=4 is wall-parity
  // with plain while removing them). On a barrier-per-round cluster
  // where a straggler idles whole waves, the flattening is the win —
  // F=4 default, tune upward only past maxdeg ≫ m/cores.
  val SaltedEdgeFactor = 4

  /** The trade-graph edge table in the SALTED layout — content
    * addressed and write-once like [[bucketedEdgeTable]]. Columns
    * (src_salt, src, dst); the salt factor rides the src_salt field's
    * metadata so the probe side recovers it from the frame alone. */
  def saltedEdgeTable(s: SparkSession, d: String,
      factor: Int = SaltedEdgeFactor): DataFrame = {
    val tbl = s"graft_edges_${datasetFingerprint(d)}_s$factor" +
      s"_p${ProcessHandle.current().pid()}"
    writeOnce(s, tbl)(writeSaltedEdges(s, tbl, tradeEdgesPlan(s, d), factor))
  }

  /** True when the frame's `src` column is an integral type — the only
    * key shape the salted layout supports: `src * F + h(dst) % F` needs
    * exact integer arithmetic (a string src casts to null and every
    * probe join silently matches nothing; a float src loses low bits).
    * [[chooseEdgeStorage]] falls back to the plain bucketed layout for
    * everything else. */
  private def hasIntegralSrc(edges: DataFrame): Boolean =
    edges.schema.fields.find(_.name == "src").map(_.dataType).exists {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }

  /** Shared salted-table writer: [[writeBucketedEdges]] on src_salt. */
  private def writeSaltedEdges(s: SparkSession, tbl: String,
      edgesIn: DataFrame, factor: Int): DataFrame = {
    require(hasIntegralSrc(edgesIn),
      s"salted edge layout requires an integral src column; got " +
        edgesIn.schema.fields.find(_.name == "src").map(_.dataType)
          .getOrElse("no src column") +
        " — use the plain bucketed layout for non-integer node ids")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("saltFactor", factor.toLong).build()
    val edges = edgesIn
      .select(
        (col("src") * factor + pmod(hash(col("dst")), lit(factor)))
          .cast(LongType).as("src_salt", md),
        col("src"), col("dst"))
    writeBucketedEdges(s, tbl, edges, "src_salt")
  }

  /** SALTED bucketed storage for an ARBITRARY (src, dst) edge frame —
    * the [[bucketEdges]] twin for supernode graphs; same
    * [[edgeFrameFingerprint]] content address (+ factor). Requires an
    * integral `src` column (loud require in the writer). */
  def saltEdges(edges: DataFrame, factor: Int = SaltedEdgeFactor)
      : DataFrame = {
    val s = edges.sparkSession
    val tbl = s"graft_edges_g${edgeFrameFingerprint(edges)}" +
      s"_s${factor}_b$Q201Buckets" + s"_p${ProcessHandle.current().pid()}"
    writeOnce(s, tbl)(
      writeSaltedEdges(s, tbl, edges.select(col("src"), col("dst")), factor))
  }

  private def saltFactorOf(be: DataFrame): Int = {
    val f = be.schema.fields.find(_.name == "src_salt")
      .getOrElse(sys.error("not a salted edge frame"))
    require(f.metadata.contains("saltFactor"),
      "salted edge frame lost its saltFactor metadata")
    f.metadata.getLong("saltFactor").toInt
  }

  /** Content address of an arbitrary edge frame: the canonicalized
    * logical plan's `semanticHash` (stable across separately-built but
    * identical query trees, the CacheManager discipline) MIXED with the
    * plan's schema and the (name, size, mtime) of every file the plan
    * scans — the [[datasetFingerprint]] discipline. The file component
    * means data regenerated in place under an identical plan changes
    * the address (no stale serve); the schema+file component means two
    * different plans that collide on the 32-bit semanticHash cannot
    * alias unless they also scan byte-identical inputs with identical
    * schemas. Frames with NO file sources (pure in-memory
    * LocalRelation) degrade to semanticHash+schema — their content is
    * part of the plan, so the hash already covers it. */
  private def edgeFrameFingerprint(edges: DataFrame): String = {
    val key = edges.queryExecution.analyzed.semanticHash()
    val files = edges.inputFiles.sorted.map { p =>
      val f = new java.io.File(p.stripPrefix("file:"))
      s"$p:${f.length}:${f.lastModified}"
    }
    val sig = s"h$key|${edges.schema.catalogString}|" + files.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
  }

  /** Bucketed storage for an ARBITRARY (src, dst) edge frame — the
    * generic-helper analog of [[bucketedEdgeTable]] (r13 verdict task
    * 2). Content-keyed by [[edgeFrameFingerprint]] (canonical plan hash
    * + schema + scanned-file sizes/mtimes), so a helper invoked
    * repeatedly on the same logical edges (bench reps, multi-query
    * pipelines) writes once per JVM, while files regenerated in place
    * under an identical plan change the address and force a fresh ETL.
    * The only unaddressed staleness window is a file mutated
    * byte-for-byte-same-size with a preserved mtime. */
  def bucketEdges(edges: DataFrame): DataFrame = {
    // DEFAULT backend (r15 verdict task 1): the engine's OWN storage —
    // a GraftCatalog/ClusteredSink parquet table, filePerKey + sorted,
    // whose scan reports KeyGroupedPartitioning(identity(bucket)) and
    // SPJ keeps every per-round probe join edge-side-in-place. Key
    // types the sink can't cluster (string / decimal node ids) keep the
    // native-bucketBy layout, which hash-buckets any type.
    def sqlType(dt: org.apache.spark.sql.types.DataType): Option[String] =
      dt match {
        case LongType => Some("BIGINT")
        case IntegerType => Some("INT")
        case _ => None
      }
    val srcT = edges.schema.fields.find(_.name == "src").map(_.dataType)
      .flatMap(sqlType)
    val dstT = edges.schema.fields.find(_.name == "dst").map(_.dataType)
      .flatMap(sqlType)
    if (srcT.isEmpty || dstT.isEmpty) return bucketEdgesNative(edges)
    val iso = graftEdgeSession(edges.sparkSession)
    val fp = edgeFrameFingerprint(edges)
    val ident = s"$GraftEdgeCat.g.edges_g${fp}_b$Q201Buckets"
    adoptOrBuild(iso, ident, s"src ${srcT.get}, dst ${dstT.get}") {
      // writeTo resolves its identifier against the FRAME's session,
      // where the edge catalog isn't registered — bridge the caller's
      // frame into the iso session through a global temp view
      val view = s"graft_edges_stage_$fp"
      edges.select(col("src"), col("dst"))
        .createOrReplaceGlobalTempView(view)
      try {
        iso.table(s"global_temp.$view")
          .withColumn("bucket", bucketOfSrc)
          .writeTo(ident).append()
      } finally {
        edges.sparkSession.catalog.dropGlobalTempView(view)
      }
    }
  }

  /** The native parquet-bucketBy layout for an arbitrary edge frame —
    * [[bucketEdges]]' fallback for key types the sink can't cluster
    * (Spark's bucketBy hash-buckets any type), and the A/B twin of the
    * default graft-backed layout. */
  def bucketEdgesNative(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    val tbl = s"graft_edges_g${edgeFrameFingerprint(edges)}" +
      s"_b$Q201Buckets" + s"_p${ProcessHandle.current().pid()}"
    writeOnce(s, tbl)(
      writeBucketedEdges(s, tbl, edges.select(col("src"), col("dst"))))
  }

  /** One BFS round against the bucketed edge table: semi-join the
    * frontier (zero exchange on the edge side — the scan's bucket
    * partitioning satisfies the join), dedup the expansion, anti-join
    * the visited set. shuffle_hash hints keep the plan broadcast-free
    * at every frontier size. */
  def q201Round(be: DataFrame, frontier: DataFrame, visited: DataFrame): DataFrame = {
    val (probe, keys) = edgeProbe(be, frontier.select(col("node").as("src")))
    be.join(probe.hint("shuffle_hash"), keys, "left_semi")
      .select(col("dst").as("node")).distinct()
      .join(visited.hint("shuffle_hash"), Seq("node"), "left_anti")
  }

  register("q201_bucketed_bfs", {
    val rounds = (1 to BfsMaxHops).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM vis${i - 1})),
         |vis$i AS MATERIALIZED (
         |  SELECT node FROM vis${i - 1} UNION SELECT node FROM f$i)"""
        .stripMargin
    }.mkString(",\n")
    val levels = (0 to BfsMaxHops)
      .map(i => s"SELECT node, CAST($i AS BIGINT) AS lvl FROM f$i")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + $SupplierOffset AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |f0 AS MATERIALIZED (
       |  SELECT DISTINCT cust AS node FROM pairs
       |  WHERE cust % $Q201SeedMod = 0),
       |vis0 AS (SELECT node FROM f0),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node, lvl FROM (
       |  $levels)""".stripMargin
  }) { (s, d) =>
    // r15 verdict task 1: the engine's OWN storage (GraftCatalog +
    // ClusteredSink parquet, filePerKey + SPJ) is the DEFAULT graph
    // backend; bucketedEdgeTable remains the native-bucketBy A/B twin
    val be = graftEdgeTable(s, d)
    // seeds straight off the bucketed table: the customer-side nodes
    // are exactly the src ids below the supplier offset (every pair
    // customer appears as a src in the cust→supp direction) — one
    // bucket-partitioned scan, no second pass over the raw tables
    val seeds = be.select(col("src").as("node"))
      .filter(col("node") % Q201SeedMod === 0 && col("node") < SupplierOffset)
      .distinct()
    bfsBucketedLoop(be, seeds, BfsMaxHops)
      .select(col("node").cast(LongType).as("node"), col("lvl"))
  }

  /** Frontier-expansion BFS over a bucketed edge frame — the q201 loop,
    * shared with the generic [[bfs]] dispatch. Returns (node, lvl):
    * exact shortest-hop level from the seed set within maxHops;
    * unreached nodes absent. */
  def bfsBucketedLoop(be: DataFrame, seeds: DataFrame, maxHops: Int)
      : DataFrame = {
    var frontier = seeds.select(col("node")).localCheckpoint(true)
    // visited stays a LAZY union of the already-checkpointed frontiers
    // (r19, guide §1.2): re-checkpointing it per round rewrote bytes
    // every level had already pinned — one whole job per hop for
    // nothing; the anti-join consumer reads the ≤maxHops-way union of
    // node-sized checkpoint scans directly.
    var visited = frontier
    var out = frontier.select(col("node"), lit(0L).as("lvl"))
    for (i <- 1 to maxHops) {
      val next = q201Round(be, frontier, visited).localCheckpoint(true)
      out = out.unionAll(next.select(col("node"), lit(i.toLong).as("lvl")))
      visited = visited.unionAll(next)
      frontier = next
    }
    out
  }

  /** Multi-source BFS over a directed edge list (`src`, `dst`) from a
    * seed frame (`node`) — the PUBLIC entry point (r13 verdict task 2),
    * dispatched on estimated node-frame size like [[pageRank]] /
    * [[kCore]]: past `bucketBytes` the per-round semi/anti joins stream
    * a bucketed edge table in place (the q201 shape); below it the
    * frontier/visited frames ride size-conditioned broadcasts (the q190
    * shape). Identical trajectory either way. Returns (node, lvl). */
  def bfs(edgesIn: DataFrame, seeds: DataFrame, maxHops: Int,
      bucketBytes: Long = BcastNodeBytes): DataFrame = {
    val sel = edgesIn.select(col("src"), col("dst"))
    val storage = chooseEdgeStorage(sel, bucketBytes)
    if (storage.isDefined) bfsBucketedLoop(storage.get, seeds, maxHops)
    else {
      val edges = diskCheckpoint(sel)
      var frontier = seeds.select(col("node")).localCheckpoint(true)
      var frontierN = frontier.count()
      var visited = frontier
      var visitedN = frontierN
      var out = frontier.select(col("node"), lit(0L).as("lvl"))
      def sem(df: DataFrame, rows: Long): DataFrame =
        if (rows * NodeIdBytes <= BcastNodeBytes) broadcast(df) else df
      for (i <- 1 to maxHops) {
        val next = edges
          .join(sem(frontier.select(col("node").as("src")), frontierN),
            Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
          .join(sem(visited, visitedN), Seq("node"), "left_anti")
          .localCheckpoint(true)
        frontierN = next.count()
        out = out.unionAll(next.select(col("node"), lit(i.toLong).as("lvl")))
        // lazy union of checkpointed frontiers (r19, q190 rationale)
        visited = visited.unionAll(next)
        visitedN += frontierN
        frontier = next
      }
      out
    }
  }

  // ================================ k-core over BUCKETED edge storage
  // q209 (round-12 verdict task 1): the >64 MB k-core. q178's per-round
  // recompute semi-joins are broadcast-conditioned — past
  // [[BcastNodeBytes]] of survivor ids both joins reshuffle the FULL
  // edge stream every round (measured 17.6 → 96.8 s for 2× data at the
  // org-50×→100× step). Two changes remove the cliff:
  //
  //   1. BUCKETED storage (the q201 table): the initial degree
  //      aggregation and every per-round probe run over the
  //      bucketBy(src) scan — the edge stream NEVER crosses an
  //      exchange; only node-sized frames shuffle (to the bucket
  //      layout), at any survivor-set size, no broadcast anywhere.
  //   2. DELTA PEELING instead of per-round recompute: maintain
  //      deg(v) = degree within the surviving subgraph; each round
  //      remove deg<k nodes and DECREMENT their neighbors (one
  //      semi-join of the shrinking removal frame against the bucketed
  //      scan + one groupBy over only the removal-incident edges).
  //      Total work across ALL rounds is O(m) — each edge contributes
  //      at most one decrement ever — where recompute pays O(m) PER
  //      round. That is the asymptotic 100 TB answer, not just an
  //      exchange shave.
  //
  // Equivalence to the q178 recompute oracle, by induction on rounds:
  // state_0.deg is the full degree (= degree within s0); if state_{i-1}
  // holds exactly s_{i-1} with degrees within s_{i-1}, then
  // removed_i = {deg < k} and remaining = s_i by the oracle's HAVING,
  // and subtracting each survivor's removed-neighbor count yields its
  // degree within s_i. Converged-or-capped inherits q178's contract:
  // a converged state is a fixpoint (empty removal ⇒ no-op rounds),
  // and if the cap binds both sides did identical rounds. The final
  // filter deg > 0 mirrors the oracle's edge-join output shape: a
  // survivor whose last qualifying neighbors all left in the final
  // round produces no rows there.
  register("q209_bucketed_kcore", {
    val rounds = (1 to KCoreRounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT e.src AS v FROM edges e
         |  JOIN s${i - 1} a ON e.src = a.v
         |  JOIN s${i - 1} b ON e.dst = b.v
         |  GROUP BY e.src HAVING COUNT(*) >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + $SupplierOffset AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
       |$rounds
       |SELECT CAST(e.src AS BIGINT) AS node,
       |  CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM edges e
       |JOIN s$KCoreRounds a ON e.src = a.v
       |JOIN s$KCoreRounds b ON e.dst = b.v
       |GROUP BY e.src""".stripMargin
  }) { (s, d) =>
    // r15 verdict task 1: the engine's OWN storage (GraftCatalog +
    // ClusteredSink parquet, filePerKey + SPJ) is the DEFAULT graph
    // backend; bucketedEdgeTable remains the native-bucketBy A/B twin
    val be = graftEdgeTable(s, d)
    kcoreBucketedLoop(be, KCoreK, KCoreRounds)
      .select(col("v").cast(LongType).as("node"), col("deg").as("core_degree"))
  }

  /** Delta-peeling k-core over a bucketed edge frame — the q209 loop,
    * shared with the generic [[kCore]] dispatch. Returns (v, deg):
    * every node of the k-core with its degree within it (deg > 0 —
    * the q178 edge-join output shape). */
  def kcoreBucketedLoop(be: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    var state = kcoreDegrees(be).localCheckpoint(true)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // removed stays a LAZY filter over the checkpointed state (r19):
      // its own checkpoint was one more job per round rewriting rows
      // the state checkpoint already pins; both consumers (the count
      // and the probe) re-run only a trivial filter over cached blocks
      val removed = state.filter(col("deg") < k).select("v")
      if (removed.count() == 0L) converged = true
      else state = kcoreRound(be, state, removed, k).localCheckpoint(true)
      round += 1
    }
    state.filter(col("deg") > 0)
  }

  /** Iterative k-core over a directed-symmetrized edge list (`src`,
    * `dst`) — the PUBLIC entry point (r13 verdict task 2): delta
    * peeling (degrees maintained by decrement, O(m) total work across
    * all rounds) in both physical shapes, dispatched on estimated
    * node-frame size. Past `bucketBytes` the loop runs over bucketed
    * edge storage (the q209 shape — zero edge-side exchanges per
    * round); below it the removal frame broadcasts into the decrement
    * semi-join so the edge frame never shuffles either. Identical
    * trajectory either way. Returns (node, core_degree) for every node
    * of the k-core, degree measured within it. */
  def kCore(edgesIn: DataFrame, k: Int, maxRounds: Int,
      bucketBytes: Long = BcastNodeBytes): DataFrame = {
    val sel = edgesIn.select(col("src"), col("dst"))
    val storage = chooseEdgeStorage(sel, bucketBytes)
    val out =
      if (storage.isDefined) kcoreBucketedLoop(storage.get, k, maxRounds)
      else {
        val edges = diskCheckpoint(sel)
        var state = edges.groupBy(col("src").as("v"))
          .agg(count(lit(1)).as("deg")).localCheckpoint(true)
        var round = 0
        var converged = false
        while (!converged && round < maxRounds) {
          // lazy filter over the checkpointed state (r19, bucketed-loop
          // rationale): the per-round removal checkpoint was a job for
          // rows the state checkpoint already pins
          val removed = state.filter(col("deg") < k).select("v")
          if (removed.count() == 0L) converged = true
          else {
            // node-sized removal frame, explicitly broadcast (it fits
            // by the dispatch estimate) — the edge frame stays in place
            val dec = edges
              .join(broadcast(removed.select(col("v").as("src"))),
                Seq("src"), "left_semi")
              .groupBy(col("dst").as("v")).agg(count(lit(1)).as("dec"))
            state = state.filter(col("deg") >= k)
              .join(dec, Seq("v"), "left")
              .select(col("v"),
                (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
              .localCheckpoint(true)
          }
          round += 1
        }
        state.filter(col("deg") > 0)
      }
    out.select(col("v").as("node"), col("deg").as("core_degree"))
  }

  /** Initial k-core state: every node with its full degree. groupBy(src)
    * is satisfied by the bucketed scan's partitioning — zero exchange.
    * (GraftCatalog backend: grouping by (bucket, src) keeps the reported
    * KeyGroupedPartitioning satisfying the distribution; bucket is a
    * pure function of src, so the groups are identical.) */
  def kcoreDegrees(be: DataFrame): DataFrame =
    if (be.columns.contains("bucket"))
      be.groupBy(col("bucket"), col("src").as("v"))
        .agg(count(lit(1)).as("deg")).select(col("v"), col("deg"))
    else be.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))

  /** One delta-peeling round: survivors of the k-filter, degrees
    * decremented by their removed-neighbor counts. The removal frame
    * (node-sized, shrinking) shuffles to the bucket layout; only
    * removal-incident edges reach the decrement aggregate. */
  def kcoreRound(be: DataFrame, state: DataFrame, removed: DataFrame,
      k: Int = KCoreK): DataFrame = {
    val (probe, keys) = edgeProbe(be, removed.select(col("v").as("src")))
    val dec = be
      .join(probe.hint("shuffle_hash"), keys, "left_semi")
      .groupBy(col("dst").as("v")).agg(count(lit(1)).as("dec"))
    state.filter(col("deg") >= k)
      .join(dec, Seq("v"), "left")
      .select(col("v"), (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
  }

  // ============================== PageRank over BUCKETED edge storage
  // q210 (round-12 verdict task 1, second half): the >64 MB PageRank.
  // q147's per-round rank⋈edges join reshuffles the edge stream once
  // rank frames exceed the conditioned broadcast. Here each round's
  // join streams the bucketBy(src) scan in place: only the NODE-sized
  // state frame (rank + outdeg, keyed by src) shuffles to the bucket
  // layout, and the contribution aggregate's map-side combine reduces
  // the dst stream to node-size before its exchange — per-round
  // shuffled bytes are O(nodes), never O(edges), at any rank-frame
  // size, no broadcast anywhere (the shuffle_hash hint pins it).
  // Semantics and oracle are exactly q147's integer-grid formulation.
  register("q210_bucketed_pagerank", {
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    (150000000000 // nn.n)
         |      + (85 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 100
         |      AS rank
         |  FROM edges e
         |  JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  CROSS JOIN nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + $SupplierOffset AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY src),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |r0 AS MATERIALIZED (SELECT src AS node, $PrGrid // nn.n AS rank
       |  FROM deg CROSS JOIN nn),
       |$iters
       |SELECT node, rank FROM r$PrIters
       |ORDER BY rank DESC, node ASC LIMIT $PrTopK""".stripMargin
  }) { (s, d) =>
    // r15 verdict task 1: the engine's OWN storage (GraftCatalog +
    // ClusteredSink parquet, filePerKey + SPJ) is the DEFAULT graph
    // backend; bucketedEdgeTable remains the native-bucketBy A/B twin
    val be = graftEdgeTable(s, d)
    // out-degrees off the bucketed scan: zero exchange, node-sized
    val deg = be.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val nn = broadcast(deg.agg(count(lit(1)).as("n")))
    val teleport = expr(s"${(PrGrid * 15L) / 100L} div n")
    // state carries rank AND outdeg so each round joins the bucketed
    // scan against ONE node frame (the graph is symmetrized, so every
    // ranked node has outdeg > 0 and the inner deg-join loses nothing)
    var state = deg.crossJoin(nn)
      .select(col("src"), expr(s"$PrGrid div n").as("rank"), col("outdeg"))
      .localCheckpoint(true)
    var it = 0
    var changed = true
    while (changed && it < PrIters) {
      val next = pageRankRound(be, state)
        .crossJoin(nn)
        .select(col("node").as("src"),
          (teleport + expr("(85 * csum) div 100")).as("rank"))
        .join(deg, Seq("src"))
        .select(col("src"), col("rank"), col("outdeg"))
        .localCheckpoint(true)
      // fixpoint test (q147's early-stop contract): one node-keyed join,
      // LIMIT-1 short-circuited — only a 0/1 count reaches the driver
      changed = next
        .join(state.select(col("src"), col("rank").as("prev")), Seq("src"))
        .filter(col("rank") =!= col("prev"))
        .limit(1).count() > 0
      state = next
      it += 1
    }
    state.select(col("src").as("node"), col("rank"))
      .orderBy(col("rank").desc, col("node").asc).limit(PrTopK)
  }

  /** One PageRank round against the bucketed edge table: join the
    * node-sized (src, rank, outdeg) state into the bucketed scan (zero
    * exchange on the edge side), emit per-edge contributions, combine
    * map-side, shuffle only the node-sized partial sums. */
  def pageRankRound(be: DataFrame, state: DataFrame): DataFrame = {
    val (probe, keys) = edgeProbe(be, state)
    be.join(probe.hint("shuffle_hash"), keys)
      .select(col("dst"), expr("rank div outdeg").as("contrib"))
      .groupBy(col("dst").as("node"))
      .agg(sum(col("contrib")).as("csum"))
  }

  // ================== connected components over BUCKETED edge storage
  // q213 completes the bucketed-graph family (BFS q201, k-core q209,
  // PageRank q210): hash-min label propagation over the TRADE graph —
  // the whole-graph clustering primitive (q90 runs it on the small
  // seeded document chains; this is the same algorithm at the scale
  // where the label frame outgrows any broadcast). Every round joins
  // the node-sized label frame into the bucketed scan (zero exchange on
  // the edge side), takes the per-destination MIN (map-side combinable
  // — the exchange carries node-sized partial minima), and folds it
  // into the state with LEAST. Converged-or-capped: min-propagation is
  // monotone, so a converged labeling is a fixpoint and the oracle's
  // remaining fixed-[[CcRounds]] chained-CTE rounds are no-ops; if the
  // cap binds, both sides did the same rounds (the q178 contract).
  val CcRounds = 8

  register("q216_salted_components", oComponentsSql) { (s, d) =>
    // the SALTED supernode layout under the oracle gate: identical
    // semantics to q213 (SaltedGraphSpec proves loop equality; this
    // gate proves it against DuckDB end-to-end, ETL included)
    val be = saltedEdgeTable(s, d)
    componentsBucketedLoop(be, CcRounds)
      .select(col("node").cast(LongType).as("node"),
        col("lbl").cast(LongType).as("component"))
  }

  register("q213_bucketed_components", oComponentsSql) { (s, d) =>
    // r15 verdict task 1: the engine's OWN storage (GraftCatalog +
    // ClusteredSink parquet, filePerKey + SPJ) is the DEFAULT graph
    // backend; bucketedEdgeTable remains the native-bucketBy A/B twin
    val be = graftEdgeTable(s, d)
    componentsBucketedLoop(be, CcRounds)
      .select(col("node").cast(LongType).as("node"),
        col("lbl").cast(LongType).as("component"))
  }

  /** Shared oracle for q213 AND q216 (salted layout) — the two compute
    * identical results by construction; one chained-CTE twin gates
    * both. */
  private def oComponentsSql: String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT p.node, LEAST(p.lbl, COALESCE(n.m, p.lbl)) AS lbl
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT e.dst AS node, MIN(l.lbl) AS m
         |    FROM edges e JOIN l${i - 1} l ON e.src = l.node
         |    GROUP BY e.dst) n ON p.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + $SupplierOffset AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node,
       |  CAST(lbl AS BIGINT) AS component
       |FROM l$CcRounds""".stripMargin
  }

  /** Hash-min label propagation over a bucketed edge frame — the q213
    * loop, shared with the generic [[connectedComponents]] dispatch.
    * Returns (node, lbl) in the input key types.
    *
    * Label init runs straight off the bucketed scan: the groupBy-free
    * distinct on the bucket column is satisfied by the storage
    * partitioning. DELTA FRONTIER (the q209 trick applied to label
    * propagation): only nodes whose label CHANGED last round
    * re-propagate. An unchanged neighbor's contribution was already
    * folded into the round that changed it — label_r(v) absorbed min
    * over label_{r-1}(N(v)) — so skipping it cannot alter any round's
    * labeling: the delta trajectory is IDENTICAL to full propagation,
    * round by round, which is what keeps the capped chained-CTE oracle
    * (full recompute) a valid twin. Round 0's frontier is every node,
    * so round 1 is the one full-edge pass; after the min labels flood
    * (fast on a dense trade graph), rounds shrink to the still-moving
    * fringe — total work O(Σ changes · deg), not O(m · rounds). */
  def componentsBucketedLoop(be: DataFrame, maxIter: Int): DataFrame = {
    // GraftCatalog backend: distinct over (bucket, src) is satisfied by
    // the reported partitioning (zero exchange); bucket is a function of
    // src so the node set is identical
    val ids =
      if (be.columns.contains("bucket"))
        be.select(col("bucket"), col("src").as("node")).distinct()
          .select(col("node"))
      else be.select(col("src").as("node")).distinct()
    var state = ids
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(true)
    var frontier = state
    var moving = 1L
    var it = 0
    while (moving > 0 && it < maxIter) {
      val nm = componentsRound(be, frontier)
      val merged = state.join(nm, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"),
          // carry the changed flag out of the same pass (q90 pattern)
          (coalesce(col("m"), col("lbl")) < col("lbl")).as("__chg"))
        .localCheckpoint(true)
      frontier = merged.filter(col("__chg")).select(col("node"), col("lbl"))
      moving = frontier.count()
      state = merged.select(col("node"), col("lbl"))
      it += 1
    }
    state
  }

  /** One hash-min propagation round against the bucketed edge table:
    * min-label contributions from the (node, lbl) FRONTIER frame — the
    * frontier shuffles to the bucket layout, the edge stream stays in
    * place, and only node-sized partial minima cross the
    * post-aggregation exchange. Returns (node, m). */
  def componentsRound(be: DataFrame, frontier: DataFrame): DataFrame = {
    val (probe, keys) =
      edgeProbe(be, frontier.select(col("node").as("src"), col("lbl")))
    be.join(probe.hint("shuffle_hash"), keys)
      .groupBy(col("dst").as("node")).agg(min(col("lbl")).as("m"))
  }
}
