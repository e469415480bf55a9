package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.table
import graft.ops.{Dedup, Graph}
import Shared.docs

/** Graph primitives (`g*`) over planted document graphs and the `orders`
  * customer graph. */
object GraphQueries {

  /** The g1/g11 shared planted doc-adjacency graph, canonical (a < b):
    * chain edges (i, i+1), chords (i, i+2) at i%3==0 and i%5==0
    * (overlapping at i%15==0 — exercises the canonical dedup), and
    * triangle-free (i, i+4) edges at i%7==0. */
  private def plantedDocGraph(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).select(col("doc_id").as("i"))
    val raw = ids.select(explode(array(
        struct(col("i").as("src"), (col("i") + 1).as("dst"), lit(true).as("k")),
        struct(col("i").as("src"), (col("i") + 2).as("dst"), (col("i") % 3 === 0).as("k")),
        struct(col("i").as("src"), (col("i") + 2).as("dst"), (col("i") % 5 === 0).as("k")),
        struct(col("i").as("src"), (col("i") + 4).as("dst"), (col("i") % 7 === 0).as("k")))).as("e"))
      .filter(col("e.k"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Graph.canonicalEdges(raw, "src", "dst")
  }

  def all: Seq[Query] = Seq(
    Query("g10_assortativity", Some(
      // degree census on both directions, HUGEINT power sums, one
      // double correlation with the identical operand order
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48), " +
        "und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT u AS z, count(*)::BIGINT AS dg FROM und GROUP BY u), " +
        "j AS (SELECT du.dg AS du, dv.dg AS dv FROM und " +
        "JOIN deg du ON du.z = und.u JOIN deg dv ON dv.z = und.v), " +
        "s AS (SELECT count(*)::BIGINT AS m, sum(du::HUGEINT) AS sx, sum(dv::HUGEINT) AS sy, " +
        "sum(du::HUGEINT * dv) AS sxy, sum(du::HUGEINT * du) AS sxx, " +
        "sum(dv::HUGEINT * dv) AS syy FROM j) " +
        "SELECT m AS n_edges, " +
        "round(CASE WHEN sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
        "sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0 " +
        "THEN (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / " +
        "(sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
        "sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) END + 5e-10, 6) AS r_assortativity " +
        "FROM s")))((s, dir) => {
      // hub-mixing of the g7 chain+band graph: exact decimal degree
      // power sums over both edge directions, one double correlation
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.assortativity(chain.union(band))
        .select(col("n_edges"),
          round(col("r_assortativity") + lit(5e-10), 6).as("r_assortativity"))
    }),
    Query("g12_rich_club", Some(
      // g1's edge replay + degree census; suffix counts via the same
      // greater-than joins in census space
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "raw AS (SELECT i AS a, i + 1 AS b FROM ids " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 3 = 0 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 5 = 0 " +
        "UNION ALL SELECT i, i + 4 FROM ids WHERE i % 7 = 0), " +
        "ce AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b), " +
        "deg AS (SELECT node, count(*)::BIGINT AS deg FROM " +
        "(SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY node), " +
        "dc AS (SELECT deg, count(*)::BIGINT AS cnt FROM deg GROUP BY deg), " +
        "em AS (SELECT least(da.deg, db.deg) AS mdeg, count(*)::BIGINT AS ecnt " +
        "FROM ce JOIN deg da ON da.node = ce.a JOIN deg db ON db.node = ce.b GROUP BY 1), " +
        "ks AS (SELECT deg AS k FROM dc WHERE deg < (SELECT max(deg) FROM dc)), " +
        "nk AS (SELECT k, CAST(sum(cnt) AS BIGINT) AS n_nodes FROM ks " +
        "JOIN dc ON dc.deg > ks.k GROUP BY k), " +
        "ek AS (SELECT k, CAST(coalesce(sum(ecnt), 0) AS BIGINT) AS n_edges FROM ks " +
        "LEFT JOIN em ON em.mdeg > ks.k GROUP BY k) " +
        "SELECT nk.k, n_nodes, n_edges, " +
        "round(CASE WHEN n_nodes >= 2 THEN n_edges::DOUBLE * 2.0 / (n_nodes * (n_nodes - 1)) END " +
        "+ 5e-10, 6) AS phi FROM nk JOIN ek USING (k) ORDER BY k")))((s, dir) =>
      // hub wiring audit over the g1 planted graph: per degree
      // threshold, the edge density among the above-threshold nodes —
      // two censuses + report-sized theta joins, rows touched once
      Graph.richClub(plantedDocGraph(s, dir))
        .select(col("k"), col("n_nodes"), col("n_edges"),
          round(col("phi") + lit(5e-10), 6).as("phi"))
        .orderBy("k")),

    // ---- graph primitives ----------------------------------------------
    Query("g1_triangles", Some(
      // replay the planted edge generation, canonicalize (least/greatest
      // + DISTINCT), enumerate each triangle once via the x<y<z three-way
      // join, then fan each triangle out to its three corners
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "raw AS (SELECT i AS a, i + 1 AS b FROM ids " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 3 = 0 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 5 = 0 " +
        "UNION ALL SELECT i, i + 4 FROM ids WHERE i % 7 = 0), " +
        "ce AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ce e1 " +
        "JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "corner AS (SELECT unnest([x, y, z]) AS node FROM tri) " +
        "SELECT node, count(*)::BIGINT AS n_triangles FROM corner " +
        "GROUP BY node ORDER BY node")))((s, dir) => {
      // per-node triangle counts over a planted doc-adjacency graph:
      // chain edges (i, i+1) for every doc, chords (i, i+2) at i%3==0
      // and i%5==0 (overlapping at i%15==0 — exercises the canonical
      // dedup), and (i, i+4) at i%7==0 (edges that close NO triangle —
      // must contribute nothing). Triangles {i, i+1, i+2} appear exactly
      // at the chord positions; the oracle replays the generation and
      // counts via the three-way a<b<c join.
      Graph.triangleCounts(plantedDocGraph(s, dir)).orderBy("node")
    }),
    Query("g11_clustering_coeff", Some(
      // g1's triangle replay plus the degree census; nodes outside any
      // triangle left-join to 0, and the class average replays as the
      // same single exact-long division
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "raw AS (SELECT i AS a, i + 1 AS b FROM ids " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 3 = 0 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 5 = 0 " +
        "UNION ALL SELECT i, i + 4 FROM ids WHERE i % 7 = 0), " +
        "ce AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b), " +
        "deg AS (SELECT node, count(*)::BIGINT AS deg FROM " +
        "(SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY node), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ce e1 " +
        "JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "tc AS (SELECT node, count(*)::BIGINT AS t FROM " +
        "(SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node), " +
        "pn AS (SELECT deg.deg, coalesce(tc.t, 0) AS t FROM deg LEFT JOIN tc USING (node)) " +
        "SELECT deg, count(*)::BIGINT AS n_nodes, CAST(sum(t) AS BIGINT) AS n_triangles, " +
        "round(CASE WHEN deg > 1 THEN CAST(sum(t) AS DOUBLE) * 2.0 / " +
        "(count(*) * deg * (deg - 1)) ELSE 0.0 END + 5e-10, 6) AS avg_coeff " +
        "FROM pn GROUP BY deg ORDER BY deg")))((s, dir) => {
      // per-degree local-clustering report over the g1 planted graph:
      // within a degree class the coefficient denominator d(d-1) is
      // constant, so the class average folds EXACTLY as
      // 2*sum_triangles / (n_nodes*d*(d-1)) — one double division per
      // output row off exact longs, no float accumulation to drift
      val byDeg = Graph.clusteringCoefficients(plantedDocGraph(s, dir))
        .groupBy("deg")
        .agg(count(lit(1)).as("n_nodes"), sum("n_triangles").as("n_triangles"))
      byDeg.select(col("deg"), col("n_nodes"), col("n_triangles"),
          round(when(col("deg") > 1,
            col("n_triangles").cast("double") * 2.0 /
              (col("n_nodes") * col("deg") * (col("deg") - 1)).cast("double"))
            .otherwise(lit(0.0)) + lit(5e-10), 6).as("avg_coeff"))
        .orderBy("deg")
    }),
    Query("g2_pagerank", Some({
      // 5 unrolled iterations of r'(v) = (1-d)/N + d·Σ r(u)/outdeg(u),
      // the identical double operations as Graph.pageRank ((1.0 - 0.85)
      // spelled as the expression, not a 0.15 literal, so the constant
      // is the same IEEE value); float-sum partition-order noise is
      // absorbed by the shared 6-decimal rounding
      val iterCte = (k: Int) =>
        s"r$k AS (SELECT n2.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(t.m, 0.0) AS rank " +
          "FROM nodes n2 CROSS JOIN nn LEFT JOIN " +
          s"(SELECT e.dst AS node, sum(p.rank / od.outdeg) AS m FROM e " +
          s"JOIN r${k - 1} p ON p.node = e.src JOIN od ON od.src = e.src " +
          "GROUP BY e.dst) t ON t.node = n2.node)"
      "WITH e0 AS (SELECT DISTINCT o_custkey AS src, (o_custkey + o_orderkey) % 1000 AS dst " +
        "FROM orders), " +
        "nodes AS (SELECT DISTINCT src AS node FROM e0), " +
        "e AS (SELECT src, dst FROM e0 WHERE dst IN (SELECT node FROM nodes)), " +
        // out-degree over the FULL distinct edge set e0, not the kept
        // edges e: dropped edges' rank shares leave the node set (the
        // Graph.pageRank drop semantics, replayed identically)
        "od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src), " +
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes), " +
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn), " +
        (1 to 5).map(iterCte).mkString(", ") + " " +
        "SELECT node, round(rank + 5e-10, 6) AS rank FROM r5 " +
        "ORDER BY rank DESC, node LIMIT 20"
    }))((s, dir) => {
      // 5-iteration PageRank over a deterministic order-derived directed
      // graph (src = customer, dst folded from custkey+orderkey; edges to
      // non-source targets drop their mass — the documented edges-only
      // formulation both engines share). Top-20 by ROUNDED rank with id
      // tiebreak, so a sub-1e-6 float divergence cannot flip the cut.
      val e = table(s, dir, "orders").select(col("o_custkey").as("src"),
        ((col("o_custkey") + col("o_orderkey")) % 1000).as("dst"))
      Graph.pageRank(e, iters = 5)
        .select(col("node"), round(col("rank") + lit(5e-10), 6).as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20)
    }),

    Query("g13_harmonic_centrality", Some(
      // closed-form chain distances within the 50-block, the same 1/d
      // census; d = 0 (a seed to itself) excluded by definition
      ("WITH n AS (SELECT doc_id AS i FROM documents WHERE doc_id % 50 <> 49), " +
        "nodes AS (SELECT i AS id FROM n UNION SELECT i + 1 FROM n), " +
        "seeds AS (SELECT id AS s FROM nodes WHERE id % 29 = 0), " +
        "d AS (SELECT nodes.id, abs(nodes.id - seeds.s) AS dist FROM nodes " +
        "JOIN seeds ON nodes.id // 50 = seeds.s // 50 " +
        "WHERE abs(nodes.id - seeds.s) BETWEEN 1 AND 6) " +
        "SELECT id AS node, count(*)::BIGINT AS n_seeds_reached, " +
        "round(sum(1.0::DOUBLE / dist) + 5e-10, 6) AS harmonic " +
        "FROM d GROUP BY id ORDER BY node")))((s, dir) => {
      // landmark harmonic centrality over the g4 block-chain graph,
      // seeds dense enough (id%29==0) that blocks carry 2+ landmarks
      // and the 1/d sum actually sums; chain distance is |node - seed|
      // within the 50-block, so the oracle replays in closed form
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("src"), (col("i") + 1).as("dst"))
      val canonical = Graph.canonicalEdges(edges, "src", "dst")
      val seeds = canonical
        .select(explode(array(col("a"), col("b"))).as("node")).distinct()
        .filter(col("node") % 29 === 0)
      Graph.harmonicCentrality(canonical, seeds, maxHops = 6)
        .select(col("node"), col("n_seeds_reached"),
          round(col("harmonic") + lit(5e-10), 6).as("harmonic"))
        .orderBy("node")
    }),
    Query("g4_shortest_paths", Some(
      ("WITH n AS (SELECT doc_id AS i FROM documents WHERE doc_id % 50 <> 49), " +
        "nodes AS (SELECT i AS id FROM n UNION SELECT i + 1 FROM n), " +
        "seeds AS (SELECT id AS s FROM nodes WHERE id % 97 = 0), " +
        "d AS (SELECT nodes.id, min(abs(nodes.id - seeds.s)) AS dist FROM nodes " +
        "JOIN seeds ON nodes.id // 50 = seeds.s // 50 GROUP BY nodes.id) " +
        "SELECT id AS node, dist::BIGINT AS dist FROM d WHERE dist <= 6 ORDER BY node")))((s, dir) => {
      // multi-source BFS over g3's block-chain graph (components = 50-id
      // blocks): seeds at id%97==0, hop cap 6. Chain distance is plain
      // |node - seed| within the block, so the oracle needs no graph
      // walk — min over same-block seeds, capped at 6.
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("src"), (col("i") + 1).as("dst"))
      val canonical = Graph.canonicalEdges(edges, "src", "dst")
      val seeds = canonical
        .select(explode(array(col("a"), col("b"))).as("node")).distinct()
        .filter(col("node") % 97 === 0)
      Graph.shortestPaths(canonical, seeds, maxHops = 6)
        .orderBy("node")
    }),

    Query("g6_kcore", Some(
      // three peel rounds replayed: degree census -> keep-set ->
      // endpoint filters, then the surviving-degree census by block
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e0 AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48 " +
        "AND floor(i / 50)::BIGINT % 2 = 0), " +
        "d1 AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY id), " +
        "k1 AS (SELECT id FROM d1 WHERE dg >= 2), " +
        "e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT id FROM k1) " +
        "AND b IN (SELECT id FROM k1)), " +
        "d2 AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY id), " +
        "k2 AS (SELECT id FROM d2 WHERE dg >= 2), " +
        "e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT id FROM k2) " +
        "AND b IN (SELECT id FROM k2)), " +
        "d3 AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id), " +
        "k3 AS (SELECT id FROM d3 WHERE dg >= 2), " +
        "e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT id FROM k3) " +
        "AND b IN (SELECT id FROM k3)), " +
        "df AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY id) " +
        "SELECT floor(id / 50)::BIGINT AS block, count(*)::BIGINT AS n_nodes, " +
        "sum(dg)::BIGINT AS total_degree FROM df GROUP BY 1 ORDER BY 1")))((s, dir) => {
      // fixed-round 2-core peeling on a mixed planted graph: even
      // blocks are chain+skip bands (a stable 2-core), odd blocks are
      // bare chains (peel 1 node per end per round) — 3 rounds leave
      // the bands whole and the chains 3 shorter at each end, and the
      // oracle replays each round's degree census + semi-joins
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48 &&
          floor(col("i") / 50).cast("long") % 2 === 0)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.kCore(chain.union(band), k = 2, rounds = 3)
        .groupBy(floor(col("id") / 50).cast("long").as("block"))
        .agg(count(lit(1)).as("n_nodes"), sum("degree").as("total_degree"))
        .orderBy("block")
    }),
    Query("g7_adamic_adar", Some(
      // wedge self-join on the shared neighbor, degree-capped, existing
      // edges anti-joined away
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48), " +
        "und AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT z, count(*) AS dg FROM und GROUP BY z HAVING count(*) <= 64), " +
        "hub AS (SELECT und.z, und.n, deg.dg FROM und JOIN deg USING (z)), " +
        "pr AS (SELECT l.n AS x, r.n AS y, l.dg FROM hub l JOIN hub r " +
        "ON l.z = r.z AND l.n < r.n), " +
        "sc AS (SELECT x, y, count(*)::BIGINT AS n_common, " +
        "sum(1.0 / ln(dg::DOUBLE)) AS aa FROM pr GROUP BY x, y) " +
        "SELECT x AS id_a, y AS id_b, n_common, round(aa + 5e-10, 6) AS aa_score " +
        "FROM sc WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.x AND e.b = sc.y) " +
        "ORDER BY id_a, id_b")))((s, dir) => {
      // link prediction on the full chain+skip band graph: every
      // non-adjacent two-hop pair scored by its common neighbors
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.adamicAdar(chain.union(band), maxDegree = 64)
        .select(col("id_a"), col("id_b"), col("n_common"),
          round(col("aa_score") + lit(5e-10), 6).as("aa_score"))
        .orderBy("id_a", "id_b")
    }),
    Query("g9_jaccard_links", Some(
      // the g7 wedge census with inclusion-exclusion degrees
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48), " +
        "und AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT z, count(*)::BIGINT AS dg FROM und GROUP BY z), " +
        "hub AS (SELECT und.z, und.n FROM und JOIN deg USING (z) WHERE dg <= 64), " +
        "pr AS (SELECT l.n AS x, r.n AS y FROM hub l JOIN hub r " +
        "ON l.z = r.z AND l.n < r.n), " +
        "sc AS (SELECT x, y, count(*)::BIGINT AS n_common FROM pr GROUP BY x, y), " +
        "nc AS (SELECT sc.x, sc.y, sc.n_common, da.dg AS deg_a, db.dg AS deg_b " +
        "FROM sc JOIN deg da ON da.z = sc.x JOIN deg db ON db.z = sc.y " +
        "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.x AND e.b = sc.y)) " +
        "SELECT x AS id_a, y AS id_b, n_common, deg_a, deg_b, " +
        "round(n_common::DOUBLE / (deg_a + deg_b - n_common)::DOUBLE + 5e-10, 6) AS jaccard " +
        "FROM nc ORDER BY id_a, id_b")))((s, dir) => {
      // normalized link prediction on the g7 graph: wedge census for
      // the overlap, inclusion-exclusion union off the two UNCAPPED
      // endpoint degrees, existing edges anti-joined away
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.jaccardScores(chain.union(band), maxDegree = 64)
        .select(col("id_a"), col("id_b"), col("n_common"),
          col("deg_a"), col("deg_b"),
          round(col("jaccard") + lit(5e-10), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    Query("g8_hits", Some(
      // both HITS rounds replayed join-for-join on raw integers (the
      // normalization factors out), then one division by the L1 totals
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS src, i + 1 AS dst FROM ids WHERE i % 50 <> 49 " +
        "UNION SELECT i, i - i % 50 FROM ids WHERE i % 50 <> 0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "a1 AS (SELECT n.node, coalesce(t.c, 0)::DOUBLE AS a FROM nodes n LEFT JOIN " +
        "(SELECT dst AS node, count(*)::BIGINT AS c FROM e GROUP BY 1) t USING (node)), " +
        "h1 AS (SELECT n.node, coalesce(t.s, 0)::DOUBLE AS h FROM nodes n LEFT JOIN " +
        "(SELECT e.src AS node, sum(a1.a) AS s FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1) t USING (node)), " +
        "a2 AS (SELECT n.node, coalesce(t.s, 0)::DOUBLE AS a FROM nodes n LEFT JOIN " +
        "(SELECT e.dst AS node, sum(h1.h) AS s FROM e JOIN h1 ON e.src = h1.node GROUP BY 1) t USING (node)), " +
        "h2 AS (SELECT n.node, coalesce(t.s, 0)::DOUBLE AS h FROM nodes n LEFT JOIN " +
        "(SELECT e.src AS node, sum(a2.a) AS s FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1) t USING (node)), " +
        "fin AS (SELECT a2.node, a2.a / (SELECT sum(a) FROM a2) AS authority, " +
        "h2.h / (SELECT sum(h) FROM h2) AS hub FROM a2 JOIN h2 USING (node)), " +
        "blk AS (SELECT node - node % 50 AS block, node, authority, hub FROM fin), " +
        "top AS (SELECT block, node, row_number() OVER " +
        "(PARTITION BY block ORDER BY authority DESC, node) AS pr FROM blk) " +
        "SELECT b.block, count(*)::BIGINT AS n_nodes, min(t.node) AS top_auth_node, " +
        "round(max(b.authority) + 5e-10, 6) AS max_authority, " +
        "round(sum(b.authority) + 5e-10, 6) AS sum_authority, " +
        "round(sum(b.hub) + 5e-10, 6) AS sum_hub " +
        "FROM blk b JOIN (SELECT block, node FROM top WHERE pr = 1) t USING (block) " +
        "GROUP BY b.block ORDER BY b.block")))((s, dir) => {
      // hubs/authorities on a directed planted graph: chain i -> i+1
      // inside each 50-block plus every node pointing at its block
      // start — block starts become the authorities. 2 raw-integer
      // rounds (normalization factors out of the power iteration), so
      // the block census AND the argmax authority node are exact; the
      // divisions by the L1 totals are single integer-ratio doubles
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("src"), (col("i") + 1).as("dst"))
      val toStart = ids.filter(col("i") % 50 =!= 0)
        .select(col("i").as("src"), (col("i") - col("i") % 50).as("dst"))
      Graph.hits(chain.union(toStart), iters = 2)
        .groupBy((col("node") - col("node") % 50).as("block"))
        .agg(count(lit(1)).as("n_nodes"),
          max_by(col("node"), struct(col("authority"), -col("node"))).as("top_auth_node"),
          round(max(col("authority")) + lit(5e-10), 6).as("max_authority"),
          round(sum(col("authority")) + lit(5e-10), 6).as("sum_authority"),
          round(sum(col("hub")) + lit(5e-10), 6).as("sum_hub"))
      .orderBy("block")
    }),
    Query("g5_label_propagation", Some(
      // both LPA rounds replayed: neighbor-label census, mode with
      // (count DESC, label) ranking, then the community census
      ("WITH ed AS (SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 50 <> 49), " +
        "und AS (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed), " +
        "l0 AS (SELECT DISTINCT src AS id FROM und), " +
        "r1 AS (SELECT u.src, l.label, count(*) AS c FROM und u " +
        "JOIN (SELECT id, id AS label FROM l0) l ON u.dst = l.id GROUP BY 1, 2), " +
        "l1 AS (SELECT src AS id, label FROM (SELECT src, label, " +
        "row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM r1) WHERE rn = 1), " +
        "r2 AS (SELECT u.src, l.label, count(*) AS c FROM und u " +
        "JOIN l1 l ON u.dst = l.id GROUP BY 1, 2), " +
        "l2 AS (SELECT src AS id, label FROM (SELECT src, label, " +
        "row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM r2) WHERE rn = 1) " +
        "SELECT label AS community, count(*)::BIGINT AS size, " +
        "min(id) AS min_id, max(id) AS max_id FROM l2 GROUP BY label ORDER BY label")))((s, dir) => {
      // community detection on the g3 chain-block graph: 2 synchronous
      // LPA rounds, every step deterministic (mode with smallest-label
      // ties), so the oracle replays both rounds join-for-join
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      Graph.labelPropagation(edges, iters = 2)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("size"), min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("community")
    }),
    Query("g3_components", Some(
      // the planted block-chain graph's components are derivable without
      // a graph walk: nodes = chain endpoints, component = 50-wide block
      // start (min-label semantics: the block start IS the minimum id)
      ("WITH n AS (SELECT doc_id AS i FROM documents WHERE doc_id % 50 <> 49), " +
        "nodes AS (SELECT i AS id FROM n UNION SELECT i + 1 FROM n), " +
        "c AS (SELECT id, (id // 50) * 50 AS component FROM nodes) " +
        "SELECT component, count(*)::BIGINT AS size, max(id) AS max_id " +
        "FROM c GROUP BY component ORDER BY component")))((s, dir) => {
      // DIRECT oracle coverage for connectedComponents (d6/d13 exercise
      // it only through the dedup pipelines): chain edges (i, i+1)
      // broken at every block boundary (i % 50 == 49), so components
      // are exactly the 50-wide id blocks and min-label = block start —
      // SQL-derivable without any graph walk. Census output (component,
      // size, max id) pins label assignment AND membership.
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      Dedup.connectedComponents(edges)
        .groupBy("component")
        .agg(count(lit(1)).as("size"), max(col("id")).as("max_id"))
        .orderBy("component")
    }),
  )
}
