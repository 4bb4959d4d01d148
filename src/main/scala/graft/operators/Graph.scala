package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — PageRank as the canonical
  * power-iteration shape (Page et al. 1999; the Pregel/GraphX pattern
  * re-expressed as DataFrame joins so Catalyst owns the physical plan).
  * Complements [[Dedup]]'s frontier label propagation (q39): that walks
  * components to a fixpoint, this iterates a fixed number of weighted
  * rounds.
  *
  * ## Exactness: fixed-point integers
  * Float PageRank is hash-hostile twice over (order-dependent double sums
  * and libm division ulps), so ranks live in integer fixed-point: a node
  * starts at `scale` (10⁶ = one "micro-rank"), each round routes
  * `rank DIV outdeg` along every edge (exact floor division) and damps
  * with integer arithmetic: `new = (scale·(den−num)) DIV den +
  * (num·Σcontrib) DIV den`. Every operation is BIGINT on both engines, so
  * a DuckDB oracle chaining the same rounds through CTEs is bit-exact —
  * same trick as LmScore's micro-nats, pushed through an iteration.
  * Truncation loses < 1 micro-rank per edge per round — noise three
  * orders below any ranking use; determinism is what the gate (and any
  * reproducible pipeline) needs.
  *
  * ## Scale shape (100 TB)
  * Per round: one equi-join of the rank table (node-sized) against the
  * edge list on src, one partial-aggregable sum on dst, one left join
  * back onto the node table (sinks and sources keep receiving the
  * teleport mass). Edges are the big side and are REUSED unchanged every
  * round — `iterate` repartitions them on src once and persists, so
  * rounds 2+ join against cached co-partitioned edges with no fresh
  * edge-scale exchange (on a cluster: bucket the edge table on src, same
  * effect durable across jobs). Ranks are localCheckpointed per round —
  * the iteration-count lineage blowup (and re-execution risk) dies
  * there. Nothing is ever quadratic; no driver-side collect of anything
  * data-sized. */
object Graph {

  /** Lineage-cut cadence for the iterative operators: a round's state is
    * localCheckpointed only every CutEvery-th round (plus implicitly via
    * the materialized edge table). Measured r13 (sf0.1, local[32]): a
    * per-round eager checkpoint is a per-round JOB BARRIER — pageRankInt
    * 3 rounds ran 5.7 s with per-round cuts vs 1.6 s letting the rounds
    * plan as one lazy job; the barrier bought nothing at ≤ 6 rounds
    * because the per-round state is node-sized and the edge table below
    * it is already materialized. Deep iterations still need the cut (an
    * unbounded lineage re-executes from the scan on retry and the plan
    * grows without bound — the original reason for per-round cuts), so
    * the cadence bounds lineage depth at CutEvery rounds instead of
    * paying a materialization per round. */
  private val CutEvery = 5

  /** The edge table is built once and read every round: materialize it
    * EAGERLY (localCheckpoint) instead of lazily caching. A lazy
    * `persist` let the first action's parallel stages race to compute
    * the (often expensive) edge construction — measured r13: weighted
    * labelPropagation 6.2 s with lazy persist vs 4.2 s with per-round
    * barriers, BOTH beaten by the eager edge cut + lazy rounds shape.
    * Inside [[Lineage.uncut]] the table is lazily persisted instead, so
    * the cached co-partitioned edge reuse stays visible in one executed
    * plan. */
  private def cutEdges(df: DataFrame): DataFrame =
    if (Lineage.cutting) Lineage.cut(df) else df.persist()

  private def cutRound(round: Int, df: DataFrame): DataFrame =
    if (round % CutEvery == 0) Lineage.cut(df) else df

  /** `iterations` rounds of damped integer PageRank over a directed edge
    * list (dedup'd internally). Nodes = src ∪ dst. Returns (node,
    * rank_fp) with rank_fp in fixed-point `scale` units. Dangling nodes
    * (no out-edges) leak their mass — the classic simplification; the
    * teleport term keeps every node positive. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int, dampNum: Long = 85L, dampDen: Long = 100L,
                  scale: Long = 1000000L,
                  seeds: Option[DataFrame] = None,
                  weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < dampNum < dampDen")
    // WEIGHTED variant: a src splits its rank proportionally to integer
    // edge weights — contribution = rank_fp·w DIV strength(src), still
    // pure BIGINT (exact while rank_fp·max(w) < 2^63; with the default
    // scale that allows weights into the billions). Parallel edges
    // aggregate their weights; weightCol = None keeps the unweighted
    // arithmetic bit-for-bit (w = 1, strength = out-degree).
    val e = cutEdges((weightCol match {
      case Some(wc) =>
        edges.groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
          .agg(sum(col(wc)).cast("long").as("w"))
      case None =>
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
          .withColumn("w", lit(1L))
    })
      // one shuffle up front; every round's src-join reuses this layout
      .repartition(col("src")))
    // PERSONALIZED variant (TrustRank — Gyöngyi et al., VLDB 2004): when a
    // seed set is given, both the initial mass and the per-round teleport
    // land ONLY on seeds, so rank measures damped reachability FROM the
    // trusted set (label/quality propagation from vetted domains); nodes
    // unreachable from any seed stay at exactly 0. With seeds = None every
    // node is a seed and the arithmetic reduces bit-for-bit to plain
    // damped PageRank.
    val nodes = (seeds match {
      case Some(sd) =>
        val sn = sd.select(col(sd.columns.head).as("node")).distinct()
          .withColumn("_seed", lit(true))
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .join(sn, Seq("node"), "left")
          .select(col("node"), coalesce(col("_seed"), lit(false)).as("_seed"))
      case None =>
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .withColumn("_seed", lit(true))
    })
    // nodes fans into the initial ranks AND every round's left join —
    // cut it with the edge table (node-sized, one tiny job)
    val nodesC = cutEdges(nodes)
    val outdeg = e.groupBy(col("src")).agg(sum(col("w")).as("deg"))
    val teleport = (scale * (dampDen - dampNum)) / dampDen

    var ranks = nodesC.select(col("node"),
      when(col("_seed"), lit(scale)).otherwise(lit(0L)).as("rank_fp"))
    for (i <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        // DIV keeps everything BIGINT — `/` on longs would detour through
        // double and lose exactness past 2^53
        .select(col("dst"), expr("(rank_fp * w) DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_fp"))
      // rounds stay LAZY (one job plans them all); lineage is bounded by
      // the CutEvery cadence over the materialized edge/node tables
      ranks = cutRound(i, nodesC
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          expr(s"(CASE WHEN _seed THEN ${teleport}L ELSE 0L END) + " +
            s"(${dampNum}L * coalesce(in_fp, 0L)) DIV ${dampDen}L")
            .as("rank_fp")))
    }
    ranks
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007),
    * DETERMINIZED: labels start as node ids; each round every node adopts
    * the most frequent label among its neighbors PLUS itself (the
    * self-vote damps the classic bipartite oscillation), ties broken by
    * the SMALLEST label; all nodes update simultaneously for a FIXED
    * number of rounds. Fixed-round synchronous updates make the result a
    * pure function of the graph — no convergence race, no arrival order —
    * so unlike textbook LPA the output is reproducible AND
    * oracle-checkable by replaying the identical rounds (the q105
    * pattern). Communities differ from [[Dedup]]'s connected components
    * (q39 merges anything connected; LPA separates densely-knit regions
    * joined by weak bridges) and from [[kCore]] (a global density filter,
    * not a partition).
    *
    * ## Scale shape (100 TB)
    * [[pageRankInt]]'s iteration skeleton: the directed-both-ways edge
    * list is repartitioned on src ONCE and cached; each round is one
    * co-partitioned equi-join (labels onto edges), one partial-aggregable
    * (node, label) count, and one partial-aggregable `max_by` argmax — no
    * windows, no per-node sort, nothing quadratic; labels are
    * localCheckpointed per round. Returns `(node, label)`. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int,
                       weightCol: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // WEIGHTED variant: votes carry the edge weight instead of 1 — a
    // strong tie outvotes many weak ones (the natural rule when edges are
    // co-occurrence counts); duplicate/reversed weighted edges merge by
    // SUMMING weights, while the unweighted form keeps its contract of
    // deduplicating them (a repeated input edge must not double-vote).
    // The self-vote weighs the node's MAX incident edge: weight 1 damps
    // the unweighted bipartite flip but cannot damp a heavy PAIR (two
    // nodes joined by weight w >> 1 would swap labels forever); matching
    // the strongest tie makes the node exactly as sticky as its
    // strongest pull — ties then resolve by the min-label rule, once,
    // instead of oscillating. On unweighted graphs max incident = 1, so
    // the behavior is unchanged.
    val canon = weightCol match {
      case Some(wc) =>
        edges.select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"),
            col(wc).cast("long").as("w"))
          .where(col("a") =!= col("b"))
          .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      case None =>
        edges.select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") =!= col("b")).distinct()
          .withColumn("w", lit(1L))
    }
    val e = cutEdges(
      canon.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(canon.select(col("b").as("src"), col("a").as("dst"), col("w")))
        .repartition(col("src")))
    val nodes = cutEdges(
      e.groupBy(col("src")).agg(max(col("w")).as("sw"))
        .withColumnRenamed("src", "node"))
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (r <- 1 to rounds) {
      val votes = e
        .join(labels.withColumnRenamed("node", "src")
          .withColumnRenamed("label", "nl"), Seq("src"))
        .select(col("dst").as("node"), col("nl"), col("w"))
        .unionAll(labels.join(nodes, Seq("node"))
          .select(col("node"), col("label").as("nl"), col("sw").as("w")))
        .groupBy(col("node"), col("nl")).agg(sum(col("w")).as("c"))
      // argmax by (weight desc, label asc): max_by over (c, -label) — a
      // partial-aggregable aggregate, never a per-node sort/window.
      // Rounds stay lazy over the materialized edge/node tables; lineage
      // is bounded by the CutEvery cadence (see the helpers' scaladoc).
      labels = cutRound(r, votes.groupBy(col("node"))
        .agg(max_by(col("nl"), struct(col("c"), (-col("nl")).as("neg")))
          .as("label")))
    }
    labels
  }

  /** Exact triangle count over an undirected graph, by DEGREE-ORDERED
    * orientation (Schank & Wagner 2005 "forward"; the MapReduce form is
    * Suri & Vassilvitskii, WWW 2011 — the standard way to make triangle
    * counting survive skew). Input edges may be directed/duplicated/
    * self-looped; they are canonicalized to distinct undirected pairs
    * first.
    *
    * Why orientation matters at 100 TB: the naive wedge join generates
    * Σ deg(v)² candidates — a single celebrity node with 10⁸ neighbors
    * yields 10¹⁶ wedges. Orienting every edge from the lower-(degree, id)
    * endpoint to the higher one makes each triangle countable exactly once
    * from its lowest-ranked vertex, and bounds every node's OUT-degree by
    * O(√m): the wedge join becomes Σ outdeg(v)² ≤ m·√m total work no
    * matter how skewed the in-degrees are. All three steps are plain
    * equi-joins Catalyst can plan (wedge join on the pivot, closing join
    * on the (v, w) pair key — both partial-hash-partitionable); nothing is
    * quadratic in a partition.
    *
    * Returns a single row `(n_nodes, n_edges, n_triangles)` — all exact
    * BIGINTs, oracle-checkable against the a<b<c triple join. */
  /** The k-CORE of an undirected graph: the (unique) maximal subgraph in
    * which every node has degree ≥ k (Seidman 1983; the standard
    * "structurally embedded" filter — in pipeline terms: keep entities
    * with enough robust connectivity that their signals corroborate each
    * other, drop the peripheral tail). Computed by PEELING: repeatedly
    * delete every node of current degree < k until none remains — order
    * never matters, the fixpoint is unique, so the result is
    * deterministic and oracle-checkable by replaying the same peels.
    *
    * Input edges may be directed/duplicated/self-looped (canonicalized
    * first). Returns `(node, core_deg)` — the survivors with their degree
    * INSIDE the core (all ≥ k by definition); empty when the graph has no
    * k-core.
    *
    * ## Scale shape (100 TB)
    * Each round is one partial-aggregable degree count plus two left-semi
    * equi-joins of the edge list against the surviving-node set — all
    * hash-partitioned, nothing quadratic, no data-sized driver state (the
    * per-round convergence probe is a scalar edge count, same protocol as
    * connectedComponents). Rounds are data-dependent but peeling removes
    * at least one node per non-final round; real graphs converge in a
    * handful (the denser the graph, the fewer) — `maxRounds` bounds the
    * pathological chain and failure is LOUD, not a silent partial answer.
    * The surviving edges are cut every round. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
    var e = Lineage.cut(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    // scalar convergence probe: removing any node removes >= 1 of its
    // edges (degree-0 nodes never appear in an edge list), so a stable
    // edge count IS a stable node set
    var nEdges = e.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // (r13 note: batching TWO peels per materialization/probe cycle was
      // measured and reverted — the duplicate lazy re-execution of the
      // first peel's semi-joins cost more than the saved job barriers)
      val keep = degrees(e).where(col("core_deg") >= k).select(col("node"))
      val next = Lineage.cut(e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"))
      val n2 = next.count()
      if (n2 == nEdges) converged = true
      else { e = next; nEdges = n2 }
      rounds += 1
    }
    require(converged,
      s"k-core peeling did not reach a fixpoint within $maxRounds rounds")
    degrees(e)
  }

  /** CORE NUMBERS for every node — the full degeneracy profile that
    * [[kCore]] answers only one slice of (core(v) = the largest k whose
    * k-core contains v). Computed by the H-INDEX ITERATION of Lü et al.
    * (Nature Communications 7:10168, 2016): start each node at its
    * degree; each round every node's value becomes the H-index of its
    * neighbors' values (the largest h such that ≥ h neighbors hold value
    * ≥ h); the sequence is monotone non-increasing and its fixpoint IS
    * the core number. A FIXED round count keeps the operator a pure
    * function of the graph — the q105/q109 determinization — so a DuckDB
    * oracle replaying the identical rounds hash-matches whether or not
    * the iteration has converged; convergence itself is a separate,
    * spec-checked property (`rounds` vs `rounds+1` equality), not a gate
    * precondition. Real graphs converge in a handful of rounds (the
    * paper's datasets: < 20 even at 10⁸ edges).
    *
    * ## Scale shape (100 TB)
    * [[pageRankInt]]'s skeleton: edges canonicalized, doubled, hash-
    * partitioned on src once and cached; each round is one co-partitioned
    * equi-join (values onto edges) and one per-node H-index reduction.
    * The H-index is computed from the neighbor-value HISTOGRAM, not a
    * per-neighbor rank window: `H = max over distinct values v of
    * min(v, s_v)` with `s_v` the count of neighbors valued ≥ v — the
    * per-edge rows collapse through a partial-aggregable
    * `groupBy(node, value)` count BEFORE any window, so the only sorted
    * frame is over a node's DISTINCT neighbor values. That frame is
    * bounded by 2·√m for ANY graph (D distinct degree values need
    * Σ degrees ≥ D²/2 edge-endpoints, so D ≤ 2√m — and per-round values
    * only collapse further): a celebrity node with 10⁸ same-valued
    * neighbors is ONE histogram row, where the old rank window would
    * have serialized a 10⁸-row sort in a single task. Values are
    * localCheckpointed per round. Returns `(node, core_h)` — the core
    * number once converged. */
  def coreNumbers(edges: DataFrame, srcCol: String, dstCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val e = cutEdges(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")))
    var h = e.groupBy(col("src")).agg(count(lit(1)).as("core_h"))
      .withColumnRenamed("src", "node")
    // suffix counts over the per-node value histogram: running sum down
    // the distinct values sorted desc
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("nh").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    for (r <- 1 to rounds) {
      // H-index of the neighbor multiset from its value histogram:
      // H = max{h : #neighbors valued ≥ h  ≥  h}
      //   = max over distinct v of min(v, s_v)
      // (each min(v, s_v) is feasible since s(min) ≥ s_v; the optimum is
      // attained at the smallest distinct value ≥ H) — tie-free math, no
      // per-neighbor rank anywhere. Rounds stay lazy over the
      // materialized edge table; lineage bounded by the CutEvery cadence.
      h = cutRound(r, e
        .join(h.select(col("node").as("src"), col("core_h").as("nh")), Seq("src"))
        .select(col("dst").as("node"), col("nh"))
        .groupBy(col("node"), col("nh")).agg(count(lit(1)).as("_c"))
        .withColumn("_s", sum(col("_c")).over(ws))
        .groupBy(col("node"))
        .agg(max(least(col("nh"), col("_s"))).as("core_h")))
    }
    h
  }

  /** Canonical distinct undirected edge list `(a < b)`. */
  private def canonEdges(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  /** Triangle core over an ALREADY-canonical edge list: returns the
    * 1-row `(n_nodes, n_edges, n_triangles)` plus the degree table, so
    * [[triangleCount]] and [[clusteringCoefficient]] share one canon/deg
    * computation instead of re-deriving it per consumer.
    *
    * Counting is degree-ordered orientation + ADJACENCY INTERSECTION
    * (the edge-iterator refinement of Schank & Wagner's "forward"): each
    * node's oriented out-neighbors (bounded O(√m) by the orientation)
    * are collected once, and every oriented edge (u, v) counts
    * `|N⁺(u) ∩ N⁺(v)|` — each triangle exactly once, at the edge joining
    * its two lowest-ranked vertices. vs the explicit wedge join + closing
    * semi-join this never materializes (or shuffles) the Σ outdeg² wedge
    * rows: the widest thing exchanged is the m-row edge list carrying
    * packed neighbor arrays, and the intersection is one codegen'd
    * ArrayIntersect per edge. Measured at the gate scale (sf0.1
    * co-purchase graph): the wedge shape shuffled 24.6M wedge rows where
    * this shuffles 2×1.18M array-carrying rows (plan evidence:
    * plans/r13/q94_triangles_{before,after}.txt). */
  private def triangleCore(canon: DataFrame): (DataFrame, DataFrame) = {
    // canon fans into deg (twice), oriented and the edge count — cut it
    // so the (often expensive) upstream edge construction runs ONCE
    val canonC = Lineage.cut(canon)
    // undirected degree: each canonical edge contributes to both endpoints
    val deg = canonC.select(col("a").as("node"))
      .union(canonC.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id): bounds every out-degree by
    // O(√m) regardless of in-degree skew (the celebrity-node guard)
    val oriented = Lineage.cut(canonC
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "deg_a"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "deg_b"), Seq("b"))
      .select(
        when(struct(col("deg_a"), col("a")) < struct(col("deg_b"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v")))
    // out-adjacency arrays: ≤ O(√m) entries per node by the orientation,
    // so no array (and no single task) can go celebrity-sized
    val adj = oriented.groupBy(col("u")).agg(collect_list(col("v")).as("ns"))
    val tri = oriented
      .join(adj, Seq("u"))
      .join(adj.select(col("u").as("v"), col("ns").as("ns2")), Seq("v"), "left")
      .select(when(col("ns2").isNull, lit(0L))
        .otherwise(size(array_intersect(col("ns"), col("ns2"))).cast("long"))
        .as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    val core = canonC.select(count(lit(1)).as("n_edges")).crossJoin(
        deg.select(count(lit(1)).as("n_nodes")))
      .crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
    (core, deg)
  }

  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleCore(canonEdges(edges, srcCol, dstCol))._1

  /** Global clustering coefficient (transitivity) — the one-number
    * summary of how "community-like" a graph is: `C = 3·T / W` with `T`
    * the triangle count ([[triangleCount]]'s degree-ordered orientation —
    * never all-pairs) and `W = Σ_v deg(v)·(deg(v)−1)/2` the wedge count.
    * Both T and W are exact BIGINTs (deg·(deg−1) is always even, so the
    * halving is exact integer division), and C is ONE IEEE division of
    * exact integers — hash-checkable cross-engine. A wedge-free graph
    * (a matching) has C = NULL rather than a lying 0.
    *
    * Scale: the wedge sum is one partial-aggregable pass over the degree
    * table (node-count rows); everything heavy is [[triangleCount]]'s
    * audited shape. Output: one row `(n_nodes, n_edges, n_triangles,
    * n_wedges, global_cc)`. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    // ONE canon/deg computation feeds both the triangle core and the
    // wedge sum (pre-r13 this called triangleCount AND re-derived
    // canon+deg itself — the whole co-purchase edge construction ran
    // twice in the executed plan)
    val (core, deg) = triangleCore(canonEdges(edges, srcCol, dstCol))
    val wedges = deg.agg(
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    core
      .crossJoin(wedges)
      .withColumn("global_cc",
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double")))
  }

  /** INCREMENTAL triangle maintenance — the number of triangles CREATED
    * by a batch of new edges, so a live graph's triangle count (and
    * everything derived: clustering coefficient, cohesion monitors,
    * link-spam alarms) updates per batch without ever recounting the
    * accumulated graph: `T(old ∪ new) = T(old) + increment`, and this
    * computes the increment touching only the new edges' neighborhoods.
    *
    * Counting discipline (each new triangle exactly once): a new
    * triangle has 1-3 fresh edges; it is counted at its
    * lexicographically-SMALLEST fresh edge — for each fresh base (u, v),
    * common neighbors w where each closing edge is either old, or fresh
    * with a canonical key strictly greater than (u, v). Any other fresh
    * base of the same triangle sees the smaller fresh side and skips.
    * Exact BIGINT count; new edges already present in the old set are
    * dropped first (re-deliveries are no-ops).
    *
    * ## Scale shape (100 TB)
    * Per-batch work is Σ over FRESH edges of deg(u)+deg(v) candidate
    * rows (two equi-joins against the tagged union adjacency) — the
    * accumulated graph is scanned, never self-joined; nothing quadratic,
    * no re-count. The streaming wrapper
    * ([[graft.streaming.Streams]] triangle maintenance) holds the
    * accumulated canonical edges in a parquet store and folds this
    * increment per micro-batch. Returns ONE row
    * `(n_old_edges, n_fresh_edges, new_triangles)`. */
  def triangleIncrement(oldEdges: DataFrame, newEdges: DataFrame,
                        srcCol: String, dstCol: String): DataFrame = {
    def canon(df: DataFrame) = df
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    // oldC fans into the tagged union, the anti-join, AND the edge count —
    // uncheckpointed, an expensive upstream (e.g. a co-purchase self-join)
    // would run three times (the q170 lesson)
    val oldC = Lineage.cut(canon(oldEdges))
    val fresh = Lineage.cut(canon(newEdges).join(oldC, Seq("a", "b"), "left_anti"))
    val tagged = oldC.select(col("a"), col("b"), lit(false).as("fr"))
      .union(fresh.select(col("a"), col("b"), lit(true).as("fr")))
    val adj = tagged
      .select(col("a").as("node"), col("b").as("nbr"),
        col("fr"), col("a").as("ka"), col("b").as("kb"))
      .union(tagged.select(col("b").as("node"), col("a").as("nbr"),
        col("fr"), col("a").as("ka"), col("b").as("kb")))
    def sideOk(fr: org.apache.spark.sql.Column, ka: org.apache.spark.sql.Column,
               kb: org.apache.spark.sql.Column, bu: org.apache.spark.sql.Column,
               bv: org.apache.spark.sql.Column) =
      !fr || struct(ka, kb) > struct(bu, bv)
    // MIN-DEGREE expansion (r13): enumerate each fresh base's common-
    // neighbor candidates from its SMALLER-degree endpoint — the
    // candidate row count drops from Σ deg(bu) to Σ min(deg(bu), deg(bv))
    // over fresh bases (common-neighborhood is symmetric, so which side
    // expands is free). deg is node-sized and attaches by broadcast. The
    // closing join carries a SHUFFLE_HASH hint: its probe side is the
    // candidate stream — the batch's one big intermediate — and a
    // sort-merge plan would sort it; hashing the node-bounded adjacency
    // side instead is the guide §3.1 build-side choice.
    // deg is NODE-cardinality, consumed by BOTH endpoint attaches — cut it
    // once. The broadcast is GATED on its exact materialized count
    // (Broadcast.rowBudget): an unconditional hint was a
    // driver/executor OOM on a billions-of-node graph (r13 advice), while
    // no hint at all left the static planner on SortMergeJoin — sorting
    // the batch side twice, measured 4.8->14.1 s at sf0.1 (r14). With the
    // gate, a graph whose degree table fits broadcasts (bench scale, and
    // any graph small enough that this operator isn't shuffle-bound
    // anyway); past the budget it falls back to the shuffled equi-join.
    val deg = Lineage.cut(adj.groupBy(col("node")).agg(count(lit(1)).as("_d")))
    val nDeg = deg.count()
    val bases = fresh.select(col("a").as("bu"), col("b").as("bv"))
      .join(Broadcast.ifFits(deg.select(col("node").as("bu"), col("_d").as("_du")), nDeg),
        Seq("bu"))
      .join(Broadcast.ifFits(deg.select(col("node").as("bv"), col("_d").as("_dv")), nDeg),
        Seq("bv"))
      .select(col("bu"), col("bv"),
        when(col("_du") <= col("_dv"), col("bu")).otherwise(col("bv")).as("lo"),
        when(col("_du") <= col("_dv"), col("bv")).otherwise(col("bu")).as("hi"))
    val closed = bases
      .join(adj.select(col("node").as("lo"), col("nbr").as("w"),
        col("fr").as("f1"), col("ka").as("ka1"), col("kb").as("kb1")), Seq("lo"))
      .where(sideOk(col("f1"), col("ka1"), col("kb1"), col("bu"), col("bv")))
      .join(adj.select(col("node").as("hi"), col("nbr").as("w"),
        col("fr").as("f2"), col("ka").as("ka2"), col("kb").as("kb2"))
        .hint("shuffle_hash"), Seq("hi", "w"))
      .where(sideOk(col("f2"), col("ka2"), col("kb2"), col("bu"), col("bv")))
    oldC.agg(count(lit(1)).as("n_old_edges"))
      .crossJoin(fresh.agg(count(lit(1)).as("n_fresh_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("new_triangles")))
  }

  /** `iterations` rounds of HITS (Kleinberg, JACM 1999) in exact integer
    * fixed-point over a DIRECTED edge list: per round, authority(v) =
    * Σ hub(u) over in-edges then hub(u) = Σ authority(v) over out-edges,
    * each half-round MAX-normalized back to `scale` (`x·scale DIV max` —
    * exact floor division; the textbook L2 norm would force a sqrt and
    * libm non-determinism, and any positive rescaling preserves the HITS
    * ranking order, so max-norm is the hash-stable choice). Hubs are
    * "points at the good stuff" (a curation crawler's seed-list quality),
    * authorities "pointed at by good hubs" (domain endorsement) — the
    * complement of [[pageRankInt]]'s single endorsement score.
    *
    * ## Exactness / overflow budget
    * Every value is BIGINT: raw half-round sums are ≤ maxDeg·scale and
    * the normalization multiply ≤ maxDeg·scale², so the default 10⁶
    * scale is exact while maxDeg < 9·10⁶; beyond that, lower `scale`
    * (10⁴ buys maxDeg < 9·10¹⁰). Normalized scores are back in
    * [0, scale] every half-round, so the budget never compounds across
    * iterations. Zero in/out-degree nodes sit at exactly 0 — never NULL.
    *
    * ## Scale shape (100 TB)
    * [[pageRankInt]]'s skeleton verbatim: edges repartitioned on src
    * once and persisted; each half-round is one co-partitioned equi-join
    * + one partial-aggregable sum + a 1-row max attached by broadcast
    * crossJoin (a scalar, never a data-sized collect); the raw half-round
    * sums AND the scores are localCheckpointed (the raw frame feeds its
    * max agg plus the data path, and Spark does not reuse the exchange
    * across those consumers — uncut, the join+agg re-executes per
    * consumer, measured ~2x on a 300k-edge graph).
    * Returns `(node, hub_fp, auth_fp)`. */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              iterations: Int, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 1L, s"scale must be >= 1, got $scale")
    val e = cutEdges(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct()
        .repartition(col("src")))
    val nodes = cutEdges(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    var scores = nodes.select(col("node"),
      lit(scale).as("hub_fp"), lit(scale).as("auth_fp"))
    for (_ <- 1 to iterations) {
      // authority half-round: pull hub mass along in-edges, max-normalize.
      // rawAuth/rawHub are CUT per half-round: each feeds its own max agg
      // AND the data path (and auth additionally the next half-round plus
      // the round's score assembly) — Spark does NOT reuse the exchange
      // across those consumers (measured 1.7-2x on a 300k-edge graph), so
      // without the cut the join+agg re-executes per consumer. The frames
      // are node-sized, the one case checkpointing is for.
      val rawAuth = Lineage.cut(e
        .join(scores.select(col("node").as("src"), col("hub_fp")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("hub_fp")).as("raw")))
      val auth = rawAuth
        .crossJoin(rawAuth.agg(max(col("raw")).as("mx")))
        .select(col("dst").as("node"),
          expr(s"(raw * ${scale}L) DIV mx").as("auth_fp"))
      // hub half-round: pull the NEW authority mass back along out-edges
      val rawHub = Lineage.cut(e
        .join(auth.select(col("node").as("dst"), col("auth_fp")), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("auth_fp")).as("raw")))
      val hub = rawHub
        .crossJoin(rawHub.agg(max(col("raw")).as("mx")))
        .select(col("src").as("node"),
          expr(s"(raw * ${scale}L) DIV mx").as("hub_fp"))
      // scores stays LAZY: its one extra re-execution (next round's
      // rawAuth join reads hub/auth again) is three node-sized joins of
      // already-cut frames, where the eager cut was a per-round job
      // barrier (the r13 pageRank measurement); rawAuth/rawHub keep
      // their cuts — each genuinely fans into its max agg AND the data
      // path (measured 1.7-2x re-execution uncut, the round-12 note)
      scores = nodes
        .join(hub, Seq("node"), "left")
        .join(auth, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
          coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
    }
    scores
  }

  /** Multi-source BFS hop distances: the minimum number of edges from any
    * seed to each reachable node, explored `maxHops` rounds — the "hops
    * from a trusted set" feature a curation pipeline tiers domains by
    * (TrustRank's q124 gives damped mass; this gives the crisp integer
    * distance). Directed: edges are followed src→dst (feed both
    * directions for an undirected read). Unreachable-within-maxHops
    * nodes are simply ABSENT from the output — no ∞ sentinel to corrupt
    * downstream aggregates.
    *
    * ## Scale shape (100 TB)
    * [[pageRankInt]]'s iteration skeleton with a FRONTIER twist: each
    * round expands only the nodes discovered last round (frontier-sized
    * join against the src-repartitioned cached edges, partial-aggregable
    * min per dst, anti-join against the settled set — BFS never
    * re-expands settled nodes, so total work is O(Σ frontier out-degree)
    * = O(m) across ALL rounds, not O(m·rounds)); the settled set is
    * localCheckpointed per round. Returns `(node, dist)` with dist in
    * [0, maxHops]. */
  /** Single-source (multi-seed) WEIGHTED shortest paths — Bellman-Ford
    * relaxation rounds with non-negative integer weights: after `rounds`
    * rounds each node carries the exact minimum-cost path from any seed
    * using at most `rounds` edges ([[bfsDistances]] is the w ≡ 1
    * special case; this is the cost tier — cheapest referral chain,
    * lowest-latency route, minimum-toll supply path). Negative weights
    * are refused IN-PLAN (raise_error — they would silently turn the
    * bounded-rounds answer into a lie near negative cycles); parallel
    * edges collapse to their cheapest copy first.
    *
    * ## Scale shape (100 TB)
    * The [[bfsDistances]] frontier skeleton carried to weights: each
    * round relaxes ONLY the nodes whose distance improved last round
    * (a node whose distance is unchanged re-offers candidates already
    * merged — the classic delta optimization, provably equal to full
    * relaxation at every round count), so total join work is
    * O(Σ improved-frontier out-degree) against the src-repartitioned
    * cached edges; candidate min and the merge min are both
    * partial-aggregable; distances localCheckpointed per round.
    * Returns `(node, dist)` — nodes unreached within `rounds` edges are
    * absent. */
  def ssspInt(edges: DataFrame, srcCol: String, dstCol: String,
              weightCol: String, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = cutEdges(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("_w0"))
      .withColumn("_wc",
        when(col("_w0") < 0L, raise_error(concat(
          lit(s"ssspInt: negative weight in $weightCol: "),
          col("_w0").cast("string")))).otherwise(col("_w0")))
      .groupBy(col("src"), col("dst")).agg(min(col("_wc")).as("w"))
      .repartition(col("src")))
    // dist carries `_r`, the round at which each node's distance last
    // IMPROVED: round r's frontier is simply `dist WHERE _r = r-1`, read
    // straight off the just-materialized distance table. The r13 shape
    // kept the improved frontier as a LAZY plan chaining through every
    // prior round's candidate join (frontier_r referenced frontier_{r-1},
    // never cut), so round r's single cut re-executed all r prior edge
    // joins — O(rounds²) edge-join work on deep traversals. Here every
    // round's plan reads ONLY materialized state: one cut per round,
    // O(m) join work per round, frontier-sized by the same delta
    // argument (a node whose distance is unchanged re-offers candidates
    // already merged).
    var dist = Lineage.cut(
      seeds.select(col(seeds.columns.head).as("node")).distinct()
        .withColumn("dist", lit(0L)).withColumn("_r", lit(0)))
    for (r <- 1 to rounds) {
      val frontier = dist.where(col("_r") === r - 1)
        .select(col("node"), col("dist"))
      val cand = e
        .join(frontier.select(col("node").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      // full-outer min merge ≡ the union+groupBy-min merge, plus the
      // improvement flag needed to read next round's frontier off dist
      dist = Lineage.cut(dist
        .select(col("node"), col("dist").as("_od"), col("_r").as("_or"))
        .join(cand.select(col("node"), col("dist").as("_nd")), Seq("node"), "full")
        .select(col("node"),
          least(coalesce(col("_od"), col("_nd")),
            coalesce(col("_nd"), col("_od"))).as("dist"),
          when(col("_od").isNull ||
            (col("_nd").isNotNull && col("_nd") < col("_od")), lit(r))
            .otherwise(col("_or")).as("_r")))
    }
    dist.select(col("node"), col("dist"))
  }

  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = cutEdges(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct()
        .repartition(col("src")))
    var settled = Lineage.cut(
      seeds.select(col(seeds.columns.head).as("node")).distinct()
        .withColumn("dist", lit(0L)))
    var hop = 1L
    while (hop <= maxHops) {
      // hop h's frontier IS the settled rows at dist = h-1, read off the
      // just-materialized settled table — a lazy `next` frontier variable
      // would chain through every prior hop's edge join (the ssspInt
      // O(rounds²) note); this way each hop's plan reads only
      // materialized state. ONE cut per hop, as before.
      val frontier = settled.where(col("dist") === hop - 1L)
      val next = e
        .join(frontier.select(col("node").as("src")), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(hop))
      settled = Lineage.cut(settled.union(next))
      hop += 1L
    }
    settled
  }
}
