package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph primitives over edge-list DataFrames — the shapes a
  * training-data pipeline needs when documents/users/domains form a graph
  * (link graphs for quality propagation, co-citation clustering, fraud
  * rings in event streams). Connected components already lives in
  * [[Dedup.connectedComponents]]; this module adds triangle counting and
  * PageRank, both expressed as declarative joins/aggregations so Catalyst
  * plans the shuffles (AQE handles skew at runtime).
  */
object Graph {

  /** Canonicalize an undirected edge list: order endpoints (a < b), drop
    * self-loops and duplicate edges. One shuffle (the distinct). */
  def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Per-node triangle participation counts.
    *
    * Algorithm: degree-oriented node-iterator. Each undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher one;
    * under that total order every triangle {x,y,z} is counted exactly
    * once as a wedge (u→v, u→w) closed by the edge (v→w). Orienting by
    * DEGREE (not id) bounds each node's out-degree by O(sqrt(m)) on any
    * graph — the wedge self-join fans out per-node as out-deg², so the
    * worst case drops from O(n·d_max²) (a celebrity node with 10M
    * followers would generate 10¹⁴ wedges under id-orientation) to
    * O(m^1.5), the provable node-iterator bound. All joins are hash
    * equi-joins on node ids; nothing is collected to the driver.
    *
    * Input must be canonical (see [[canonicalEdges]]): columns `a`, `b`
    * with a < b, no dups. Output: (node, n_triangles) for every node in
    * at least one triangle.
    *
    * Plan-duplication note: the self-joins reference the oriented edge
    * subtree three times, but the identical shuffles collapse at runtime
    * — the adaptive plan shows ReusedExchange for the canonical-edge
    * (a,b) exchange, the degree aggregate, and the wedge join's by-u
    * exchange (audited via graft.Explain EXPLAIN_RUN=1), so the edge
    * plan is computed once per DISTINCT partitioning, not once per
    * reference. Exchange reuse only deduplicates within one action;
    * persist the canonical frame yourself if you also consume it
    * elsewhere. */
  def triangleCounts(canonical: DataFrame): DataFrame = {
    // degree of every endpoint: one explode + hash agg (map-side combined)
    val deg = canonical
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge low→high under the (deg, id) total order
    val aDeg = deg.select(col("node").as("a"), col("deg").as("deg_a"))
    val bDeg = deg.select(col("node").as("b"), col("deg").as("deg_b"))
    // uniform field names so the CASE branches carry the same struct type
    val rankA = struct(col("deg_a").as("d"), col("a").as("n"))
    val rankB = struct(col("deg_b").as("d"), col("b").as("n"))
    val oriented = canonical.join(aDeg, "a").join(bDeg, "b")
      .select(
        when(rankA < rankB, col("a")).otherwise(col("b")).as("u"),
        when(rankA < rankB, col("b")).otherwise(col("a")).as("v"),
        // rank of the head endpoint under the same order, for wedge dedup
        when(rankA < rankB, rankB).otherwise(rankA).as("v_rank"))
    // wedges (u→v, u→w) with rank(v) < rank(w): each unordered pair once
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("v_rank").as("r1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("v_rank").as("r2"))
    val wedges = e1.join(e2, Seq("u")).filter(col("r1") < col("r2"))
      .select(col("u"), col("v1"), col("v2"))
    // close the wedge: (v1, v2) must be an oriented edge. v1 precedes v2
    // under the order, so the closing edge is exactly (u=v1, v=v2).
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val triangles = wedges.join(closing, Seq("v1", "v2"))
    // each triangle contributes one count to each of its three corners
    triangles
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient over a canonical (a < b)
    * undirected edge set: C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — the
    * fraction of a node's neighbor pairs that are themselves adjacent,
    * the standard "how cliquish is this node's neighborhood" signal
    * (community cores score high, hub-and-spoke centers score 0).
    * Nodes of degree ≤ 1 have no neighbor pair; C is 0 there by
    * convention.
    *
    * Scale shape: [[triangleCounts]]' O(m^1.5) degree-oriented wedge
    * census plus one degree aggregate and ONE left join keyed on the
    * node id — no new pair generator; the coefficient is a row-local
    * expression off two exact longs. Returns
    * (node, deg, n_triangles, coeff). */
  def clusteringCoefficients(canonical: DataFrame): DataFrame = {
    val deg = canonical
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(triangleCounts(canonical), Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("coeff",
        when(col("deg") > 1,
          col("n_triangles").cast("double") * 2.0 /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Multi-source shortest paths within `maxHops` over an undirected
    * canonical edge list (see [[canonicalEdges]]): (node, dist) for
    * every node reachable from the seed set, dist = minimum hop count
    * (0 for seeds); nodes further than `maxHops` are absent.
    *
    * Per hop: ONE join of the distance frame against the weighted
    * adjacency + a min-aggregate. The adjacency carries weight-0
    * SELF-LOOPS so a node's current distance and its neighbors' +1
    * offers fold in the same aggregate — the distance frame is
    * referenced exactly ONCE per iteration, keeping the lazy lineage
    * LINEAR in `maxHops` (the [[Dedup.connectedComponents]] trick; the
    * textbook union-then-min formulation references it twice and
    * replays exponentially). Seeds that appear in no edge have no
    * adjacency row (not even a self-loop) and drop out — seed the graph,
    * not arbitrary ids. */
  def shortestPaths(canonical: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops must be in [1, 50], got $maxHops")
    val adj = canonical
      .select(col("a").as("u"), col("b").as("v"), lit(1L).as("w"))
      .unionByName(canonical.select(col("b").as("u"), col("a").as("v"), lit(1L).as("w")))
    val nodes = canonical.select(explode(array(col("a"), col("b"))).as("n")).distinct()
    val adjSelf = adj.unionByName(
      nodes.select(col("n").as("u"), col("n").as("v"), lit(0L).as("w")))
    var dist = seeds.select(col("node")).distinct().withColumn("dist", lit(0L))
    for (_ <- 1 to maxHops) {
      dist = adjSelf.join(dist, adjSelf("u") === dist("node"))
        .groupBy(adjSelf("v").as("node"))
        .agg(min(col("dist") + col("w")).as("dist"))
    }
    dist
  }

  /** Landmark harmonic centrality (Boldi & Vigna 2014's exact-landmark
    * special case): HC(v) = Σ_{s ∈ seeds, 0 < d(s,v) ≤ maxHops} 1/d(s,v)
    * — "how close is v to everywhere", robust to disconnection where
    * closeness centrality degenerates (unreachable pairs contribute 0,
    * not ∞). Exact over a SAMPLED landmark set: the standard estimator
    * at graph scales where all-pairs distances are off the table.
    *
    * Scale shape: the [[shortestPaths]] relaxation with the frontier
    * keyed by (node, SEED) instead of node — each hop is one equi-join
    * + a map-side-combined min, but state is |landmarks| × reachable
    * nodes, the landmark method's documented cost (pick the sample to
    * fit; HC quality degrades gracefully with fewer landmarks). The
    * final census is one aggregate over that state. A seed's own
    * d = 0 row is excluded by definition. Returns
    * (node, n_seeds_reached, harmonic). */
  def harmonicCentrality(canonical: DataFrame, seeds: DataFrame,
                         maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops must be in [1, 50], got $maxHops")
    val adj = canonical
      .select(col("a").as("u"), col("b").as("v"), lit(1L).as("w"))
      .unionByName(canonical.select(col("b").as("u"), col("a").as("v"), lit(1L).as("w")))
    val nodes = canonical.select(explode(array(col("a"), col("b"))).as("n")).distinct()
    val adjSelf = adj.unionByName(
      nodes.select(col("n").as("u"), col("n").as("v"), lit(0L).as("w")))
    var dist = seeds.select(col("node")).distinct()
      .select(col("node"), col("node").as("seed"), lit(0L).as("dist"))
    for (_ <- 1 to maxHops) {
      dist = adjSelf.join(dist, adjSelf("u") === dist("node"))
        .groupBy(adjSelf("v").as("node"), col("seed"))
        .agg(min(col("dist") + col("w")).as("dist"))
    }
    dist.filter(col("dist") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_seeds_reached"),
        sum(lit(1.0) / col("dist")).as("harmonic"))
  }

  /** PageRank with a FIXED iteration count over a directed edge list.
    *
    * Formulation: nodes = the set of SOURCE nodes; edges whose target is
    * not itself a source are dropped, and their mass genuinely LEAVES the
    * node set: out-degree is counted over the FULL distinct edge list
    * (kept + dropped), so a node with 3 edges of which 1 leaves the set
    * emits rank/3 along each surviving edge and loses the third share —
    * the "edges-only" PageRank without dangling-mass redistribution
    * (the paired oracle SQL replays the identical formula, and ranks
    * remain a well-defined fixpoint of the same linear map). Per
    * iteration:
    *   r'(v) = (1-d)/N + d · Σ_{(u→v)} r(u) / outdeg(u)
    *
    * Shape per iteration: one equi-join (ranks ⋈ edges on src — both
    * sides hash-partitioned on the node id, so a pre-partitioned edge
    * frame reuses its exchange) + one hash agg on dst + one left join
    * back to the node list for nodes with no in-edges. The returned plan
    * is LAZY and linear in `iters` — it references the edge plan once per
    * iteration, so a caller whose edge derivation is expensive should
    * persist it for the duration of their action (the library does not
    * persist: a persist that outlives the returned lazy plan would leak
    * executor storage with no sound unpersist point — the
    * connectedComponents contract).
    *
    * @param edges directed edges, columns `src`, `dst` (duplicates allowed
    *              and deduplicated here)
    * @return (node, rank) for every source node */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
    val nodes = e.select(col("src").as("node")).distinct()
    // keep only edges whose target is also a node (mass to non-source
    // sinks is dropped by construction — documented above); out-degree
    // is counted over the FULL edge set so the dropped edges' shares
    // actually leave rather than being renormalized onto survivors
    val inEdges = e.join(nodes.select(col("node").as("dst")), Seq("dst"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val contribEdges = inEdges.join(outDeg, Seq("src"))
    // N is needed as a literal inside every iteration's base term; it is
    // ONE count over the (tiny relative to the edge set) node list, and
    // making it a crossJoined 1-row frame instead would re-evaluate the
    // node plan once per iteration anyway — the count is the cheaper,
    // clearer choice (aggregate-sized driver value, not row data).
    val n = nodes.count()
    val base = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val flowed = contribEdges
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("in_mass"))
      ranks = nodes.join(flowed, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Fixed-round synchronous k-core peeling over a canonical
    * (id_a < id_b) edge set: each round computes degrees on the
    * SURVIVING subgraph and removes every node with degree < k (and its
    * edges). Returns the surviving (id, degree) frame after `rounds`
    * rounds — once peeling converges, further rounds are no-ops, so a
    * caller that over-provisions `rounds` gets the true k-core and an
    * external engine can replay exactly `rounds` rounds either way
    * (the same fixed-round contract as [[labelPropagation]]).
    *
    * Edge rules: a duplicated edge counts once per copy toward both
    * endpoints' degrees, and a self-loop counts twice toward its node.
    * An edge with a null endpoint counts toward its other endpoint's
    * round-1 degree and is then dropped.
    *
    * Scale shape: one `groupBy(a, b).count` folds duplicates into a
    * multiplicity `m`. Each round then explodes every edge into its two
    * endpoint rows, takes the degree as `sum(m)` over a window
    * partitioned by node id, and keeps an edge iff the smaller endpoint
    * degree is >= k (one group-by on the edge). Each round reads the
    * previous round's edges exactly once, so the lazy plan has the
    * input's leaves at any `rounds`, and its size grows by one window
    * and one aggregate per round. The window buffers one node's
    * endpoint rows at a time; Spark spills that buffer for a hub. */
  def kCore(canonical: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1, 10], got $rounds")
    val ends = explode(array(col("a"), col("b"))).as("id")
    var edges = canonical.groupBy(col("id_a").as("a"), col("id_b").as("b"))
      .agg(count(lit(1)).as("m"))
    for (_ <- 1 to rounds) {
      edges = edges.select(col("a"), col("b"), col("m"), ends)
        .withColumn("deg", sum(col("m")).over(Window.partitionBy("id")))
        .filter(col("a").isNotNull && col("b").isNotNull)
        // m is one value per (a, b): grouping on it just carries it along
        .groupBy("a", "b", "m").agg(min(col("deg")).as("deg"))
        .filter(col("deg") >= k)
    }
    // coalesce only keeps `degree` non-nullable, as the count it sums is
    edges.select(ends, col("m"))
      .groupBy("id").agg(coalesce(sum(col("m")), lit(0L)).as("degree"))
  }

  /** Adamic-Adar link prediction over a canonical (id_a < id_b) edge
    * set: for every NON-adjacent pair (x, y) sharing at least one
    * neighbor, score Σ_{z ∈ N(x)∩N(y)} 1/ln(deg(z)) — common neighbors
    * weighted down by their promiscuity. A shared neighbor has degree
    * ≥ 2 by construction, so 1/ln(deg) is always finite.
    *
    * Scale shape: the wedge self-join keyed by the shared neighbor z
    * fans out as Σ deg(z)² — the classic two-hop blow-up. `maxDegree`
    * caps it: hubs above the cap contribute no wedges (their AA terms
    * are the smallest anyway — 1/ln(deg) vanishes exactly where the
    * fan-out explodes), the standard production trade. Existing edges
    * are removed with an anti-join on the canonical pair. Returns
    * (id_a, id_b, n_common, aa_score). */
  def adamicAdar(canonical: DataFrame, maxDegree: Int = Int.MaxValue): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val edges = canonical.select(col("id_a").as("a"), col("id_b").as("b"))
    val und = edges.select(col("a").as("z"), col("b").as("n"))
      .union(edges.select(col("b").as("z"), col("a").as("n")))
    val deg = und.groupBy(col("z")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDegree)
    val hub = und.join(deg, Seq("z"))
    val left = hub.select(col("z"), col("n").as("x"), col("deg"))
    val right = hub.select(col("z"), col("n").as("y"))
    left.join(right, Seq("z")).filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("deg").cast("double"))).as("aa_score"))
      .join(edges, col("x") === col("a") && col("y") === col("b"), "left_anti")
      .select(col("x").as("id_a"), col("y").as("id_b"),
        col("n_common"), col("aa_score"))
  }

  /** Degree assortativity over a canonical (id_a < id_b) undirected
    * edge set: the Pearson correlation of (deg_u, deg_v) across edge
    * endpoints, both directions counted (the standard Newman r) — do
    * high-degree nodes link to other hubs (r > 0, social graphs) or to
    * leaves (r < 0, hub-and-spoke link farms, which is exactly the
    * shape a citation-ring or SEO cluster leaves in a crawl graph)?
    *
    * Scale shape: one degree census (map-side-combined), two keyed
    * joins to put endpoint degrees on each edge, ONE aggregate over
    * edges. Degrees are integers, so every power sum folds as
    * DECIMAL(38,0) — exact, order-independent, replayed bit-for-bit
    * by the oracle; the final correlation is one double expression.
    * Returns one row: (n_edges, r_assortativity); r NULL when either
    * marginal is constant (e.g. a regular graph). */
  def assortativity(canonical: DataFrame): DataFrame = {
    val edges = canonical.select(col("id_a").as("a"), col("id_b").as("b"))
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy(col("u").as("z")).agg(count(lit(1)).as("deg"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val sums = und
      .join(deg.select(col("z").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("z").as("v"), col("deg").as("dv")), Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum(dec(col("du"))).as("__sx"), sum(dec(col("dv"))).as("__sy"),
        sum(dec(col("du")) * dec(col("dv"))).as("__sxy"),
        sum(dec(col("du")) * dec(col("du"))).as("__sxx"),
        sum(dec(col("dv")) * dec(col("dv"))).as("__syy"))
    val md = col("m").cast("double")
    val den = sqrt(md * col("__sxx").cast("double") -
        col("__sx").cast("double") * col("__sx").cast("double")) *
      sqrt(md * col("__syy").cast("double") -
        col("__sy").cast("double") * col("__sy").cast("double"))
    sums.select(col("m").as("n_edges"),
      when(den > 0,
        (md * col("__sxy").cast("double") -
          col("__sx").cast("double") * col("__sy").cast("double")) / den)
        .as("r_assortativity"))
  }

  /** Rich-club coefficient over a canonical (a < b) undirected edge
    * set: for each degree threshold k, φ(k) = 2·E_k / (N_k(N_k−1))
    * where N_k counts nodes of degree > k and E_k the edges with BOTH
    * endpoints above — "do the hubs preferentially wire to each
    * other?" (φ near 1 at high k = an elite densely-connected core;
    * compare against a degree-preserving null before reading social
    * meaning into it — Colizza et al. 2006).
    *
    * Scale shape: the corpus reduces to a (deg → node count) census
    * and a (min endpoint degree → edge count) census (one degree
    * aggregate + the assortativity-style two degree joins), and the
    * per-threshold suffix counts are a theta join of the ≤|distinct
    * degrees| threshold rows against those censuses — report-sized
    * work, broadcast both ways, never touching rows again. Thresholds
    * are the distinct degrees below the maximum (φ undefined past it).
    * Returns (k, n_nodes, n_edges, phi); phi NULL when N_k < 2. */
  def richClub(canonical: DataFrame): DataFrame = {
    val edges = canonical.select(col("a"), col("b"))
    val deg = edges.select(explode(array(col("a"), col("b"))).as("z"))
      .groupBy("z").agg(count(lit(1)).as("deg"))
    val degCensus = deg.groupBy("deg").agg(count(lit(1)).as("cnt")).persist()
    try {
      val edgeMin = edges
        .join(deg.select(col("z").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("z").as("b"), col("deg").as("db")), Seq("b"))
        .select(least(col("da"), col("db")).as("mdeg"))
        .groupBy("mdeg").agg(count(lit(1)).as("ecnt"))
      // empty edge set -> null max -> zero thresholds -> empty result
      // frame with the right schema (never an NPE on a filtered-out
      // subgraph)
      val maxDegRow = degCensus.agg(max("deg")).head()
      val maxDeg = if (maxDegRow.isNullAt(0)) 0L else maxDegRow.getLong(0)
      val ks = degCensus.select(col("deg").as("k")).filter(col("k") < maxDeg)
      val nk = ks.join(broadcast(degCensus), col("deg") > col("k"))
        .groupBy("k").agg(sum("cnt").as("n_nodes"))
      val ek = ks.join(broadcast(edgeMin), col("mdeg") > col("k"), "left")
        .groupBy("k").agg(coalesce(sum("ecnt"), lit(0L)).as("n_edges"))
      nk.join(ek, Seq("k"))
        .select(col("k"), col("n_nodes"), col("n_edges"),
          when(col("n_nodes") >= 2,
            col("n_edges").cast("double") * 2.0 /
              (col("n_nodes") * (col("n_nodes") - 1)).cast("double"))
            .as("phi"))
    } finally degCensus.unpersist()
  }

  /** Jaccard link prediction over a canonical (id_a < id_b) undirected
    * edge set — [[adamicAdar]]'s normalized sibling: for each
    * non-adjacent pair sharing ≥1 neighbor,
    * J = |Γ(x) ∩ Γ(y)| / |Γ(x) ∪ Γ(y)|, with the union denominator by
    * inclusion-exclusion off the two endpoint degrees (so no second
    * pair-level set materializes). Adamic-Adar weights rare shared
    * neighbors up; Jaccard asks how much of each node's neighborhood
    * the overlap covers — the better screen when degree skew itself is
    * the signal to normalize away.
    *
    * Scale shape: the [[adamicAdar]] wedge census (self-join on the
    * shared neighbor, hub side capped at `maxDegree` so a celebrity
    * node cannot emit O(deg²) wedges), one anti-join against the edge
    * set, then two degree joins keyed on the endpoint id. The
    * ENDPOINT degrees come from the UNCAPPED degree table — the cap
    * bounds which wedges are counted (documented approximation under
    * skew, exact when no node exceeds it), never the denominators.
    * Returns (id_a, id_b, n_common, deg_a, deg_b, jaccard). */
  def jaccardScores(canonical: DataFrame, maxDegree: Int = Int.MaxValue): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val edges = canonical.select(col("id_a").as("a"), col("id_b").as("b"))
    val und = edges.select(col("a").as("z"), col("b").as("n"))
      .union(edges.select(col("b").as("z"), col("a").as("n")))
    val deg = und.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val hub = und.join(deg.filter(col("deg") <= maxDegree).select("z"), Seq("z"))
    val left = hub.select(col("z"), col("n").as("x"))
    val right = hub.select(col("z"), col("n").as("y"))
    left.join(right, Seq("z")).filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"))
      .join(edges, col("x") === col("a") && col("y") === col("b"), "left_anti")
      .join(deg.select(col("z").as("x"), col("deg").as("deg_a")), Seq("x"))
      .join(deg.select(col("z").as("y"), col("deg").as("deg_b")), Seq("y"))
      .select(col("x").as("id_a"), col("y").as("id_b"),
        col("n_common"), col("deg_a"), col("deg_b"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Synchronous label propagation over a canonical (id_a < id_b)
    * undirected edge set — the community-detection companion to
    * [[graft.ops.Dedup.connectedComponents]] (components merge
    * everything reachable; LPA keeps densely-linked neighborhoods
    * apart). Every node starts labeled with its own id; each round
    * EVERY node simultaneously adopts the most frequent label among
    * its neighbors, ties to the SMALLEST label — fully deterministic,
    * which is what makes a fixed-round run externally replayable
    * (asynchronous/randomized LPA variants are not).
    *
    * Scale shape per round: one edge-to-label join (shuffle keyed by
    * node id) + two map-side-combined aggregations ((node, label)
    * census, then the min-struct mode pick — the [[Quantiles]]
    * groupedMode shape on a graph). Nothing ever buffers a
    * neighborhood; `iters` is small by LPA convention (labels
    * stabilize in a few rounds; each round extends lineage by one
    * join, two analyzed-plan leaves for the two-direction edge union,
    * so very large budgets should checkpoint — out of scope for the
    * ≤10 this accepts). Returns (id, label). */
  def labelPropagation(canonical: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters must be in [1, 10], got $iters")
    val und = canonical.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(canonical.select(col("id_b").as("src"), col("id_a").as("dst")))
    val nodes = und.select(col("src").as("id")).distinct()
    var labels = nodes.withColumn("label", col("id"))
    for (_ <- 1 to iters) {
      labels = und
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("__c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("__c")).as("nc"), col("label").as("l"))).as("__b"))
        .select(col("src").as("id"), col("__b.l").as("label"))
    }
    labels
  }

  /** Fixed-round HITS (hubs and authorities) over a DIRECTED edge set
    * (src, dst), started from h₀ ≡ 1: each round sets
    * a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v} a(v).
    *
    * Determinism: per-round L1 normalization factors OUT of the power
    * iteration (the scale constants commute through the linear maps),
    * so this runs the recursion on RAW scores — exact integers from the
    * h₀ ≡ 1 start, immune to float-summation order — and divides by the
    * L1 totals exactly once at the end. An external engine replays the
    * rounds join-for-join on integers (the [[labelPropagation]] replay
    * contract); the per-round-normalized classic produces the same
    * final direction.
    *
    * Scale shape per round: two edge-keyed join + map-side-combined sum
    * passes; score frames stay |nodes|-sized. Lineage grows by four
    * joins (six edge-frame reads) per round. The final step joins the
    * two score frames, each holding the whole round chain, and
    * cross-joins that with its own L1 totals, so the analyzed plan reads
    * the chain four times and grows by 24 leaves per round — linear,
    * under the same ≤ small-iters contract as [[pageRank]].
    * Returns (node, authority, hub) L1-normalized; nodes with no
    * in-edges (resp. out-edges) score 0. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters must be in [1, 10], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var hub = nodes.withColumn("h", lit(1.0))
    var auth = nodes.withColumn("a", lit(0.0))
    for (_ <- 1 to iters) {
      auth = nodes.join(
          e.join(hub.select(col("node").as("src"), col("h")), Seq("src"))
            .groupBy(col("dst").as("node")).agg(sum("h").as("__in")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__in"), lit(0.0)).as("a"))
      hub = nodes.join(
          e.join(auth.select(col("node").as("dst"), col("a")), Seq("dst"))
            .groupBy(col("src").as("node")).agg(sum("a").as("__out")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__out"), lit(0.0)).as("h"))
    }
    // final L1 totals ride a 1-row broadcast, not a global window (a
    // partition-all window would funnel the node frame to one task)
    val scored = auth.join(hub, Seq("node"))
    scored.crossJoin(broadcast(
        scored.agg(sum("a").as("__ta"), sum("h").as("__th"))))
      .select(col("node"),
        when(col("__ta") > 0, col("a") / col("__ta")).otherwise(lit(0.0))
          .as("authority"),
        when(col("__th") > 0, col("h") / col("__th")).otherwise(lit(0.0))
          .as("hub"))
  }
}
