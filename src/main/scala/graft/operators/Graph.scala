package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Graph analytics over relational edge lists. [[Dedup.connectedComponents]]
  * covers the clustering half; this adds the importance-scoring half —
  * PageRank (Brin & Page 1998) with a FIXED iteration count, the form a
  * batch pipeline actually runs (power iteration to convergence is a
  * driver-synced loop; k fixed rounds is one declarative plan Catalyst can
  * see end-to-end, and k≈5–10 is within 1% of converged rank order on
  * power-law graphs).
  *
  * Determinism at scale: ranks are integer MICRO-probabilities (longs).
  * Each transfer is floor(r·dampNum / (dampDen·outdeg)) — integer-exact on
  * any engine (the double division of two ≤2^53 integers is either exact or
  * ≥1/denominator away from an integer, so its floor never straddles an
  * engine boundary) — and every aggregation is a long sum:
  * partition-order independent, bit-identical across engines and clusters.
  * The floored remainders leak ≤1 micro of mass per (node, round) — the
  * documented price of exactness; rank ORDER is unaffected at micro scale.
  *
  * Storage discipline (same as [[Dedup]]): the edge+degree list and node
  * list are pinned (persist + materialize) ONCE — every iteration then
  * reads the cached blocks instead of re-deriving them (lazy evaluation
  * would otherwise re-run the edge derivation per round: the first cut of
  * this operator showed 272 parquet scans in one q93 plan). The result is
  * `localCheckpoint(true)`-materialized and all intermediates unpersisted
  * before returning; on a multi-node cluster swap the final checkpoint for
  * a table write (localCheckpoint blocks are not fault-tolerant).
  *
  * Scale shape per iteration: one shuffle join (ranks ⋈ cached edges on
  * src) + one map-side-combined agg on dst. Both hash-partition on the
  * SAME node key, so consecutive iterations reuse the partitioning; k
  * iterations = k joins in one materialization, no per-round driver
  * round-trips beyond the two pin jobs. Dangling nodes (outdeg 0) keep
  * only their base rank — callers wanting mass conservation should
  * symmetrize edges first (an undirected graph has no dangling nodes). */
object Graph {

  private def pin(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** k-iteration fixed-point PageRank over `edges` (srcCol, dstCol longs).
    * Damping = dampNum/dampDen (default 85/100). Ranks start at
    * floor(1e6/N) micro; each round: r(v) = floor((dampDen-dampNum)·1e6 /
    * (dampDen·N)) + Σ_{u→v} floor(r(u)·dampNum/(dampDen·outdeg(u))).
    * Output: node, rank_micro (long), both exact. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, iterations: Int,
      dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampDen > dampNum, "need 0 < dampNum < dampDen")
    val e = pin(edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")).distinct())
    // outdeg is node-cardinality — attach it to the edge list ONCE with a
    // plain shuffle join (both sides hash on src; never broadcast: a
    // web-graph's node table does not fit an executor). The cached layout
    // is hash-partitioned AND sorted on src, so every iteration's
    // sort-merge join streams the big cached side with NO exchange and NO
    // re-sort — only the (node-cardinality) rank frame moves per round.
    val eDeg = pin(e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(col("src")).sortWithinPartitions("src"))
    val nodeList = pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    e.unpersist(blocking = false) // eDeg + nodeList carry all the loop needs
    // N rides along as a broadcast scalar — never collected to the driver
    val n = nodeList.agg(count(lit(1)).as("N"))
    val base = floor(lit((dampDen - dampNum).toLong * 1000000L) / (lit(dampDen) * col("N")))
      .cast(LongType)
    val r0 = floor(lit(1000000L) / col("N")).cast(LongType)
    // The round state is the INFLOW table only — (node, in_micro) for
    // nodes with ≥1 in-edge; rank(u) = base + coalesce(inflow(u), 0) is a
    // scalar expression, not a node-sized frame (rank_0 = r0 uniformly).
    // Each round is therefore ONE left join of the cached src-sorted edge
    // side against the previous agg (both keyed on the node id — no
    // exchange on either side) feeding ONE map-side-combined agg on dst:
    // one node-cardinality exchange per round, vs the three the former
    // ranks-frame formulation paid (ranks re-shuffle onto src + agg +
    // the per-round nodeBase fill join — guide §2.4). The fill join that
    // gives zero-inflow nodes their base rank runs ONCE, at the end.
    // floor(base + inflow) arithmetic is unchanged — bit-identical ranks.
    var inflow: DataFrame = null
    for (r <- 1 to iterations) {
      val joined =
        if (r == 1) eDeg.crossJoin(broadcast(n))
        else eDeg.join(inflow, eDeg("src") === inflow("node"), "left")
          .crossJoin(broadcast(n))
      val rank = if (r == 1) r0 else base + coalesce(col("in_micro"), lit(0L))
      inflow = joined
        .select(col("dst").as("node"),
          floor(rank * lit(dampNum.toLong) / (lit(dampDen.toLong) * col("outdeg")))
            .cast(LongType).as("contrib"))
        .groupBy("node").agg(sum(col("contrib")).as("in_micro"))
    }
    val out = nodeList.crossJoin(broadcast(n))
      .join(inflow, Seq("node"), "left")
      .select(col("node"),
        (base + coalesce(col("in_micro"), lit(0L))).as("rank_micro"))
      .localCheckpoint(true) // executes the k-join plan ONCE
    eDeg.unpersist(blocking = false)
    nodeList.unpersist(blocking = false)
    out
  }

  /** Personalized (topic-sensitive) PageRank — Haveliwala 2002: the
    * teleport mass returns ONLY to the `seeds` node set, so rank measures
    * random-walk proximity to the seeds rather than global importance.
    * This is the quality-propagation shape a crawl pipeline runs: seed
    * with trusted domains, let scores flow over the link graph, harvest
    * the high-rank frontier (and its inverse — spam seeds — for demotion).
    *
    * Identical integer-micro determinism and per-iteration scale shape as
    * [[pageRank]] (one cached-edge join + one map-side-combined agg per
    * round, consecutive rounds reusing the node partitioning). Seeds enter
    * as a node-keyed left-join flag, never a driver-side set: seed rank
    * starts at floor(1e6/|S|), non-seeds at 0, and the per-round teleport
    * base floor((dampDen−dampNum)·1e6/(dampDen·|S|)) lands on seeds only.
    * Nodes = graph nodes ∪ seeds (an edgeless seed still holds teleport
    * mass). Output: (node, rank_micro), exact longs. */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int,
      dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampDen > dampNum, "need 0 < dampNum < dampDen")
    val sd = pin(seeds.select(col(seedCol).cast(LongType).as("node")).distinct())
    require(sd.limit(1).count() == 1L, "seeds must be non-empty")
    val e = pin(edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")).distinct())
    // the src node's seed flag rides ON the cached edge layout (one extra
    // node-keyed join at build time), so each round's rank expression
    // rank(u) = is_seed(u)·base + coalesce(inflow(u), 0) needs no
    // node-sized rank frame — the [[pageRank]] inflow-only round shape:
    // one cached-edge left join + one map-side-combined agg per round.
    val eDeg = pin(e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .join(sd.select(col("node").as("src"), lit(1).as("src_seed")), Seq("src"), "left")
      .repartition(col("src")).sortWithinPartitions("src"))
    val nodeList = pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd.select(col("node"))).distinct())
    e.unpersist(blocking = false)
    val sN = sd.agg(count(lit(1)).as("S"))
    val seedBase = floor(lit((dampDen - dampNum).toLong * 1000000L) /
      (lit(dampDen) * col("S"))).cast(LongType)
    val r0 = floor(lit(1000000L) / col("S")).cast(LongType)
    var inflow: DataFrame = null
    for (r <- 1 to iterations) {
      val joined =
        if (r == 1) eDeg.crossJoin(broadcast(sN))
        else eDeg.join(inflow, eDeg("src") === inflow("node"), "left")
          .crossJoin(broadcast(sN))
      val rank =
        if (r == 1) when(col("src_seed") === 1, r0).otherwise(lit(0L))
        else when(col("src_seed") === 1, seedBase).otherwise(lit(0L)) +
          coalesce(col("in_micro"), lit(0L))
      inflow = joined
        .select(col("dst").as("node"),
          floor(rank * lit(dampNum.toLong) / (lit(dampDen.toLong) * col("outdeg")))
            .cast(LongType).as("contrib"))
        .groupBy("node").agg(sum(col("contrib")).as("in_micro"))
    }
    val out = nodeList.crossJoin(broadcast(sN))
      .join(sd.select(col("node"), lit(1).as("is_seed")), Seq("node"), "left")
      .join(inflow, Seq("node"), "left")
      .select(col("node"),
        (when(col("is_seed") === 1, seedBase).otherwise(lit(0L)) +
          coalesce(col("in_micro"), lit(0L))).as("rank_micro"))
      .localCheckpoint(true)
    eDeg.unpersist(blocking = false)
    nodeList.unpersist(blocking = false)
    sd.unpersist(blocking = false)
    out
  }

  /** Synchronous semi-supervised label propagation (Zhu & Ghahramani 2002
    * lineage, hard-label variant): labels spread from a clamped seed set
    * over an edge list in fixed rounds — the weak-supervision shape of a
    * curation pipeline (a small hand-labeled set propagates domain/quality
    * labels through the near-dup or co-occurrence graph so unlabeled
    * members inherit them).
    *
    * Per round, every UNLABELED-so-far node adjacent to ≥1 labeled node
    * takes the argmax neighbor label by (count DESC, label ASC) — an
    * integer count argmax, engine- and partition-exact; seeds are clamped
    * (their labels never change), and once a node is labeled its label is
    * frozen (label-once frontier growth: each round only extends the
    * frontier, so `iterations` bounds the propagation RADIUS and the
    * result is order-deterministic — the oscillation classic async LPA
    * suffers cannot occur).
    *
    * Scale shape per round: one shuffle join (labels ⋈ edges on src) + one
    * map-side-combined count agg + one per-node argmax window — the
    * [[pageRank]] eager-iteration discipline with the same reused node
    * partitioning. Output: (node, label, round) for every node reached
    * within `iterations` rounds (round 0 = seeds). */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      seedLabels: DataFrame, nodeCol: String, labelCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // cached hash-partitioned AND sorted on src (the [[pageRank]] eDeg
    // discipline): every round's vote join streams the edge side with no
    // exchange and no re-sort — only the (node-sized) label frame moves
    val e = pin(edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")).distinct()
      .repartition(col("src")).sortWithinPartitions("src"))
    var labeled = seedLabels
      .select(col(nodeCol).cast(LongType).as("node"),
        col(labelCol).cast("string").as("label"), lit(0L).as("round"))
      .localCheckpoint(true)
    for (i <- 1 to iterations) {
      val votes = labeled
        .join(e, labeled("node") === e("src"))
        .select(col("dst").as("cand"), col("label"))
        .join(labeled.select(col("node").as("cand")), Seq("cand"), "left_anti")
        .groupBy(col("cand"), col("label")).agg(count(lit(1)).as("n"))
      val newly = votes
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cand")).orderBy(col("n").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("cand").as("node"), col("label"), lit(i.toLong).as("round"))
      labeled = labeled.unionByName(newly).localCheckpoint(true)
    }
    e.unpersist(blocking = false)
    labeled
  }

  /** Per-node triangle counts over an undirected graph given as an edge
    * list (any orientation, self-loops and duplicates tolerated). Returns
    * (node, n_tri) for EVERY node of the graph, 0 included — total
    * triangle count = sum(n_tri)/3.
    *
    * Degree-ordered enumeration (Suri & Vassilvitskii 2011 "Counting
    * triangles and the curse of the last reducer"): orient every edge from
    * its lower endpoint to its higher under the total order
    * π = (degree, node id), enumerate wedges only AT the π-smaller vertex,
    * and close each wedge against the oriented edge set. Each triangle
    * {a,b,c} with π(a)<π(b)<π(c) is found exactly once, as wedge (b,c)
    * centered at a closed by edge b→c. The orientation bounds per-vertex
    * wedge fan-out by the number of HIGHER-degree neighbors ≤ O(√m), so
    * total wedge volume is O(m^{3/2}) even on power-law graphs where the
    * naive center-at-every-vertex plan melts on the max-degree hub (the
    * "last reducer"). Scale shape: two shuffle joins — the wedge self-join
    * keyed on the center vertex, then wedge⋈edge keyed on the (b,c) pair —
    * both map-side-combinable aggregations afterwards; no step ever holds
    * a neighborhood in memory. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast(LongType).as("eu"), col(dstCol).cast(LongType).as("ev"))
      .filter(col("eu") =!= col("ev"))
      .select(least(col("eu"), col("ev")).as("eu"), greatest(col("eu"), col("ev")).as("ev"))
      .distinct()
    val e = pin(e0)
    // pinned: deg feeds THREE consumers (both endpoint-degree joins and
    // the final zero-fill frame) — unpinned, each re-ran the 2|E| union
    // aggregation from the cached edges (r15)
    val deg = pin(e.select(col("eu").as("node")).union(e.select(col("ev").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // attach both endpoint degrees (two shuffle joins on a node key — the
    // degree table is node-cardinality, never broadcast by assumption)
    val withDeg = e
      .join(deg.select(col("node").as("eu"), col("deg").as("du")), "eu")
      .join(deg.select(col("node").as("ev"), col("deg").as("dv")), "ev")
    // orient low-π → high-π; carry the far endpoint's π-key for wedge order
    // (struct fields named identically so the CASE branches share a type)
    def pk(d: Column, n: Column) = struct(d.as("pd"), n.as("pn"))
    val lowIsU = pk(col("du"), col("eu")) < pk(col("dv"), col("ev"))
    val oriented = pin(withDeg.select(
      when(lowIsU, col("eu")).otherwise(col("ev")).as("a"),
      when(lowIsU, col("ev")).otherwise(col("eu")).as("b"),
      when(lowIsU, pk(col("dv"), col("ev"))).otherwise(pk(col("du"), col("eu"))).as("pb")))
    // wedges at the π-smallest vertex: unordered pair {x,y} of higher
    // neighbors, emitted once with π(x) < π(y)
    val e1 = oriented.select(col("a"), col("b").as("x"), col("pb").as("px"))
    val e2 = oriented.select(col("a"), col("b").as("y"), col("pb").as("py"))
    val wedges = e1.join(e2, Seq("a")).filter(col("px") < col("py"))
      .select(col("a"), col("x"), col("y"))
    // close: the (x,y) edge, if present, is oriented x→y (π(x) < π(y))
    val tri = wedges.join(
      oriented.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    val perNode = tri
      .select(explode(array(col("a"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val out = deg.select(col("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    oriented.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    out
  }

  /** `rounds`-round k-core peeling over an undirected edge list: repeat
    * "drop every node of degree < k (and its edges)" a FIXED number of
    * rounds — the same bounded-iteration contract as [[pageRank]], so the
    * result is a pure function of (edges, k, rounds) and SQL-replayable by
    * unrolling. The true k-core is the fixed point; peeling removes at
    * least one node per non-converged round, so `rounds` ≥ the peel depth
    * (rarely more than tens on real graphs) returns the exact core.
    * Output: (node, deg) for surviving nodes with their degree inside the
    * surviving subgraph.
    *
    * Scale shape per round: one map-side-combined degree aggregation +
    * two shuffle semi-joins keying edges on each endpoint — node- and
    * edge-cardinality frames only, nothing broadcast (a web graph's node
    * table does not fit an executor). The surviving edge set is eagerly
    * `localCheckpoint`ed per round (the [[labelPropagation]] discipline):
    * the edge frame appears ~5× in each round's plan (degrees twice, both
    * semi-joins, itself), so carrying lineage would grow the LOGICAL plan
    * ~5^r and melt the optimizer long before any executor is busy —
    * measured 13 s of pure driver planning by round 4 on a 3.6k-edge
    * graph. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    var und = edges
      .select(col(srcCol).cast(LongType).as("eu"), col(dstCol).cast(LongType).as("ev"))
      .filter(col("eu") =!= col("ev"))
      .select(least(col("eu"), col("ev")).as("eu"), greatest(col("eu"), col("ev")).as("ev"))
      .distinct()
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val deg = und.select(col("eu").as("node")).union(und.select(col("ev").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val alive = deg.filter(col("deg") >= k).select(col("node"))
      und = und
        .join(alive.select(col("node").as("eu")), Seq("eu"), "left_semi")
        .join(alive.select(col("node").as("ev")), Seq("ev"), "left_semi")
        .select(col("eu"), col("ev"))
        .localCheckpoint(true)
    }
    und.select(col("eu").as("node")).union(und.select(col("ev").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
  }

  /** k-round HITS (Kleinberg 1999) hubs-and-authorities over a directed
    * graph — the bipartite-friendly centrality [[pageRank]] isn't: an
    * authority is pointed at by good hubs, a hub points at good
    * authorities. Nodes are STRINGS (both endpoint columns are cast), so
    * heterogeneous graphs — user→topic, doc→entity — need no id
    * remapping. The iteration is UNNORMALIZED pure-integer (h₀ = 1;
    * aᵣ(v) = Σ_{u→v} hᵣ₋₁(u); hᵣ(v) = Σ_{v→w} aᵣ(w)) in Decimal(38,0) —
    * values grow like degreeᵏ but 38 digits absorb any real k ≤ 3–4 —
    * and only the FINAL report divides, normalizing each score by its
    * max, micro-quantized: score ratios are exactly what normalized HITS
    * converges on, without per-round float renormalization (which would
    * compound rounding engine-dependently). Output: node, `auth_micro`,
    * `hub_micro` (null when the graph is empty).
    *
    * Scale shape: the [[pageRank]] discipline — edges pinned once, each
    * round is two shuffle joins + two map-side-combined aggs on the node
    * key, the whole k-round plan materialized by ONE localCheckpoint. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    // ADVICE r9 §1: unnormalized sums grow like degree^(2k); 38 decimal
    // digits absorb k ≤ 4 for any real graph (degree 10⁴ → 10³²), and a
    // mid-loop overflow is UNDETECTABLE downstream (sum ignores the null it
    // produces), so bound the rounds instead of trusting the arithmetic.
    require(iterations >= 1 && iterations <= 4,
      "hits(): iterations must be in [1, 4] - unnormalized Decimal(38,0) " +
        "sums grow like degree^(2k) and overflow silently beyond that; " +
        "for deeper propagation use pageRank (per-round normalized)")
    val dec = DecimalType(38, 0)
    val e = pin(edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst")).distinct())
    val nodes = pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // rounds carry only the NONZERO frontier: a node absent from the agg
    // contributes nothing to the next round's sums anyway, so the
    // zero-filled node frame is joined exactly once, at the report —
    // halving the per-round join count (12.4 s → 8.1 s at sf0.1)
    var hub = nodes.select(col("node"), lit(1).cast(dec).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      auth = e.join(hub, e("src") === hub("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
      hub = e.join(auth, e("dst") === auth("node"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
    }
    // the zero-fill coalesce applies ONLY to the left-join miss case: a
    // node PRESENT in the agg frame with a null sum can only mean decimal
    // overflow in the final round (sum of non-null values), and silently
    // scoring it 0 would be wrong output with no error (ADVICE r9 §1) —
    // fail loudly instead (codegen'd raise_error: free when it never fires)
    val scores = nodes
      .join(auth.withColumn("__hit_a", lit(1)), Seq("node"), "left")
      .join(hub.withColumn("__hit_h", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("__hit_a") === 1 && col("a").isNull, raise_error(lit(
          "hits(): Decimal(38,0) overflow in authority sums - lower iterations")))
          .otherwise(coalesce(col("a"), lit(0).cast(dec))).as("a"),
        when(col("__hit_h") === 1 && col("h").isNull, raise_error(lit(
          "hits(): Decimal(38,0) overflow in hub sums - lower iterations")))
          .otherwise(coalesce(col("h"), lit(0).cast(dec))).as("h"))
    val mx = scores.agg(max(col("a")).as("ma"), max(col("h")).as("mh"))
    val out = scores.crossJoin(broadcast(mx))
      .select(col("node"),
        when(col("ma") > 0, round(col("a").cast("double")
          / col("ma").cast("double") * 1e6).cast(LongType)).as("auth_micro"),
        when(col("mh") > 0, round(col("h").cast("double")
          / col("mh").cast("double") * 1e6).cast(LongType)).as("hub_micro"))
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Multi-source breadth-first hop distance — the crawl-depth /
    * blast-radius primitive: hops(v) = length of the shortest directed
    * edge path from ANY seed to v, as `maxHops` synchronous frontier
    * rounds (the Pregel BFS; exact, no damping). Unreached nodes emit no
    * row; seeds emit hops = 0 (even edgeless ones). Entirely integral —
    * identical on any engine.
    *
    * Scale shape per round: ONE shuffle join of the (shrinking) frontier
    * against the pinned edge list — hash-partitioned AND sorted on src,
    * so the cached side streams with no exchange and no re-sort — plus a
    * node-keyed left-anti join against the settled set. The frontier is
    * only the nodes FIRST reached last round, so total work is O(edges
    * touched once per hop band), not O(rounds·edges): the reason this
    * beats `maxHops` self-joins at 100 TB. Each round's newly-settled
    * band is `localCheckpoint(true)`-pinned (the [[pageRank]] lineage
    * discipline — the settled set is a union of ≤ maxHops materialized
    * bands, never a deep iterative plan). A round that settles nothing
    * short-circuits the loop (the band is already materialized, so the
    * emptiness probe is a cached-partition `head(1)`, not a recompute) —
    * later rounds can only ever settle ∅, so skipping them is exact and
    * saves O(maxHops − diameter) empty scheduled jobs (ADVICE r11). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e = pin(edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .distinct()
      .repartition(col("src")).sortWithinPartitions("src"))
    var dist = seeds.select(col(seedCol).cast(LongType).as("node"))
      .distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint(true)
    var frontier = dist.select("node")
    var h = 1
    var settled = false
    while (h <= maxHops && !settled) {
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
      val newly = reached
        .join(dist.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(h.toLong))
        .localCheckpoint(true) // pin the band: dist stays a shallow union
      if (newly.isEmpty) settled = true
      else {
        dist = dist.unionByName(newly)
        frontier = newly.select("node")
      }
      h += 1
    }
    val out = dist.localCheckpoint(true)
    e.unpersist(blocking = false)
    out
  }
}
