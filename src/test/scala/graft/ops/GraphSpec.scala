package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, floor}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.concurrent.{Await, Future}

class GraphSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(
        Graph.canonicalEdges(edges.toDF("src", "dst"), "src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: every node sits in 3 triangles") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    tri(k4) shouldBe Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)
  }

  test("a path has no triangles") {
    tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) shouldBe Map.empty
  }

  test("duplicate, reversed, and self-loop edges do not change the count") {
    val clean = tri(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val noisy = tri(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L),
      (1L, 3L), (1L, 1L), (3L, 3L)))
    clean shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    noisy shouldBe clean
  }

  test("star + one closing edge: exactly the hub triangle (degree orientation)") {
    // hub 0 has degree 5 — under id-orientation it would fan out all
    // wedges; degree orientation points spokes AT the hub and still
    // finds the single triangle {0, 1, 2}
    val star = (1L to 5L).map(i => (0L, i)) :+ (1L, 2L)
    tri(star) shouldBe Map(0L -> 1L, 1L -> 1L, 2L -> 1L)
  }

  test("triangle total is invariant to partitioning") {
    val edges = (for (a <- 0L to 9L; b <- (a + 1) to 9L if (a + b) % 3 != 0)
      yield (a, b))
    val base = tri(edges)
    val repart = Graph.triangleCounts(
        Graph.canonicalEdges(edges.toDF("src", "dst").repartition(7), "src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    repart shouldBe base
  }

  test("pageRank on a ring is uniform 1/N at every iteration count") {
    val n = 6L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    for (iters <- Seq(1, 5)) {
      val ranks = Graph.pageRank(ring.toDF("src", "dst"), iters = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      ranks.keySet shouldBe (0L until n).toSet
      ranks.values.foreach(_ shouldBe (1.0 / n) +- 1e-12)
    }
  }

  test("pageRank: two-cycle splits mass evenly; totals stay <= 1") {
    val ranks = Graph.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ranks(1L) shouldBe 0.5 +- 1e-12
    ranks(2L) shouldBe 0.5 +- 1e-12
  }

  test("pageRank drops edges to non-source targets (documented edges-only form)") {
    // 7 -> 99 where 99 never appears as a source: node set = {7}, no
    // surviving edges, so after one iteration rank(7) = (1-d)/1
    val ranks = Graph.pageRank(Seq((7L, 99L)).toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ranks.keySet shouldBe Set(7L)
    ranks(7L) shouldBe 0.15 +- 1e-12
  }

  test("pageRank: a node with both kept and dropped edges loses the dropped share") {
    // edges 1->2, 2->1 (kept) and 1->99 (dropped: 99 is not a source).
    // Full out-degree of 1 is 2, so node 1 emits rank/2 to node 2 and
    // the other half LEAVES the node set. One iteration from uniform
    // (0.5, 0.5) with d = 0.85, base = 0.15/2:
    //   r(1) = 0.075 + 0.85 * (0.5 / 1) = 0.5
    //   r(2) = 0.075 + 0.85 * (0.5 / 2) = 0.2875   (not 0.5)
    val ranks = Graph.pageRank(Seq((1L, 2L), (2L, 1L), (1L, 99L)).toDF("src", "dst"),
        iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ranks.keySet shouldBe Set(1L, 2L)
    ranks(1L) shouldBe 0.5 +- 1e-12
    ranks(2L) shouldBe 0.2875 +- 1e-12
  }

  test("shortestPaths: exact hop distances on a path, unreachable absent") {
    val path = (0L until 10L).map(i => (i, i + 1)) :+ (20L, 21L) // island
    val canonical = Graph.canonicalEdges(path.toDF("src", "dst"), "src", "dst")
    val seeds = Seq(3L).toDF("node")
    val out = Graph.shortestPaths(canonical, seeds, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(0L -> 3L, 1L -> 2L, 2L -> 1L, 3L -> 0L,
      4L -> 1L, 5L -> 2L, 6L -> 3L, 7L -> 4L)
    // 8..10 are 5+ hops away, the island is unreachable: both absent
  }

  test("shortestPaths: multiple seeds take the minimum distance") {
    val path = (0L until 9L).map(i => (i, i + 1))
    val canonical = Graph.canonicalEdges(path.toDF("src", "dst"), "src", "dst")
    val out = Graph.shortestPaths(canonical, Seq(0L, 8L).toDF("node"), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(4L) shouldBe 4L
    out(6L) shouldBe 2L  // nearer to seed 8
    out(9L) shouldBe 1L
  }

  test("shortestPaths matches naive BFS on a random graph") {
    val rnd = new scala.util.Random(77)
    val edges = (for (_ <- 0 until 40) yield
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong)).filter(e => e._1 != e._2)
    val naive: Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var dist = Map(2L -> 0L)
      for (h <- 1 to 5)
        dist = dist ++ dist.toSeq.flatMap { case (n, d) =>
          adj.getOrElse(n, Set.empty).map(_ -> (d + 1)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
          .filterNot { case (n, d) => dist.get(n).exists(_ <= d) }
      dist
    }
    val out = Graph.shortestPaths(
        Graph.canonicalEdges(edges.toDF("src", "dst"), "src", "dst"),
        Seq(2L).toDF("node"), maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe naive
  }

  test("pageRank: more in-links means more rank") {
    // 1,2,3 all point at 4; 4 points at 1 — 4 must outrank everyone
    val e = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 1L), (2L, 1L), (3L, 2L))
    val ranks = Graph.pageRank(e.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ranks(4L) should be > ranks(2L)
    ranks(4L) should be > ranks(3L)
  }

  test("kCore peels a path inward round by round and is idempotent after convergence") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    // round 1 removes the endpoints; the survivors' degrees reflect the subgraph
    val r1 = Graph.kCore(path, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    r1 shouldBe Map(2L -> 1L, 3L -> 2L, 4L -> 1L)
    // a path has no 2-core: three rounds dissolve it completely
    Graph.kCore(path, k = 2, rounds = 3).count() shouldBe 0L
    // triangle + tail: the tail node peels, the triangle is the stable 2-core
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val core2 = Graph.kCore(tri.repartition(3), k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    core2 shouldBe Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
    // converged: extra rounds are no-ops
    Graph.kCore(tri, k = 2, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe core2
    an[IllegalArgumentException] should be thrownBy Graph.kCore(tri, 0, 1)
    an[IllegalArgumentException] should be thrownBy Graph.kCore(tri, 2, 11)
  }

  private type Edge = (Option[Long], Option[Long])

  /** One synchronous peeling round on the driver: degrees count every
    * endpoint occurrence of the round's edges (a self-loop twice, each
    * duplicate once, a null endpoint's edge toward its other endpoint),
    * then edges with a null endpoint or an endpoint of degree < k go. */
  private def peelRound(edges: Seq[Edge], k: Int): Seq[Edge] = {
    val deg = endpointDegrees(edges)
    edges.filter { case (a, b) =>
      a.isDefined && b.isDefined && deg(a) >= k && deg(b) >= k }
  }

  private def endpointDegrees(edges: Seq[Edge]): Map[Option[Long], Long] =
    edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def degreeRows(edges: Seq[Edge]): Seq[(Long, Long)] =
    endpointDegrees(edges).toSeq.map { case (id, d) => id.get -> d }.sorted

  private def kCoreRows(edges: DataFrame, k: Int, rounds: Int): Seq[(Long, Long)] =
    Graph.kCore(edges, k, rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  test("kCore matches driver-side peeling with duplicates, self-loops and null endpoints") {
    // 30 seeded graphs on disjoint id ranges: peeling never crosses a
    // component, so one kCore call over their union checks every graph
    val edges: Seq[Edge] = (0 until 30).flatMap { g =>
      val rnd = new scala.util.Random(g)
      val n = 4 + rnd.nextInt(9)
      def id: Option[Long] =
        if (rnd.nextInt(15) == 0) None else Some(1000L * g + rnd.nextInt(n))
      val drawn = Seq.fill(3 + rnd.nextInt(3 * n)) {
        val a = id
        if (rnd.nextInt(10) == 0) (a, a) else (a, id)
      }
      drawn ++ rnd.shuffle(drawn).take(rnd.nextInt(4))
    }
    edges.exists(e => e._1.isEmpty || e._2.isEmpty) shouldBe true
    edges.exists(e => e._1.isDefined && e._1 == e._2) shouldBe true
    edges.distinct.size should be < edges.size
    val df = edges.toDF("id_a", "id_b")
    val model = Iterator.iterate(edges)(peelRound(_, 3)).take(4).toSeq
    // rounds matter on this input: peeling is still under way at round 3
    degreeRows(model(1)) should not be degreeRows(model(3))
    for (k <- 1 to 3; rounds <- 1 to 3) withClue(s"k=$k rounds=$rounds: ") {
      val expected = degreeRows(Iterator.iterate(edges)(peelRound(_, k)).drop(rounds).next())
      kCoreRows(df.repartition(k + rounds), k, rounds) shouldBe expected
    }
  }

  test("iterative graph operators keep analyzed plans linear in rounds") {
    val und = Seq((1L, 2L)).toDF("id_a", "id_b")
    val dir = Seq((1L, 2L)).toDF("src", "dst")
    val canonical = Seq((1L, 2L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("node")
    // (operator, plan at r rounds, a, b): leaves(r) <= a + b·r, with a and
    // b as measured on these one-row inputs
    val bounds: Seq[(String, Int => DataFrame, Int, Int)] = Seq(
      ("kCore", r => Graph.kCore(und, 2, r), 1, 0),
      ("pageRank", r => Graph.pageRank(dir, r), 1, 4),
      ("hits", r => Graph.hits(dir, r), 2, 24),
      ("labelPropagation", r => Graph.labelPropagation(und, r), 2, 2),
      ("shortestPaths", r => Graph.shortestPaths(canonical, seeds, r), 1, 3),
      ("harmonicCentrality", r => Graph.harmonicCentrality(canonical, seeds, r), 1, 3))
    for ((name, plan, a, b) <- bounds; r <- 1 to 10) withClue(s"$name at $r rounds: ") {
      plan(r).queryExecution.analyzed.collectLeaves().size should be <= a + b * r
    }
  }

  test("kCore at rounds = 10 on a 2,000-id chain+band graph finishes at the converged core") {
    // g6's shape: 40 blocks of 50 ids, a chain i-(i+1) inside each block
    // plus a skip band i-(i+2). Even blocks are banded end to end (a
    // stable 2-core); odd blocks only on ids 10..39, so their two 10-node
    // chain tails lose one node per round and the 2-core is reached at
    // exactly round 10.
    val pos = col("id") % 50
    val ids = spark.range(2000)
    val chain = ids.filter(pos =!= 49).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val band = ids
      .filter(pos < 48 && (floor(col("id") / 50) % 2 === 0 || (pos >= 10 && pos < 38)))
      .select(col("id").as("id_a"), (col("id") + 2).as("id_b"))
    val graph = chain.union(band)
    val edges: Seq[Edge] = graph.as[(Long, Long)].collect().toSeq
      .map { case (a, b) => (Some(a), Some(b)) }
    val peeled = Iterator.iterate(edges)(peelRound(_, 2)).take(12).toSeq
    peeled(10) shouldBe peeled(11)
    peeled(9) should not be peeled(10)
    val core = degreeRows(peeled(10))
    core.size shouldBe 20 * 50 + 20 * 30
    // a plan that triples each round never finishes 10 rounds: the
    // bound turns that into a failure instead of a hang
    val got = Await.result(Future(kCoreRows(graph, 2, 10)), 120.seconds)
    got shouldBe core
  }

  test("adamicAdar scores the square's diagonals and excludes existing edges") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("id_a", "id_b")
    val aa = Graph.adamicAdar(square.repartition(3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    aa.keySet shouldBe Set((1L, 3L), (2L, 4L))
    aa((1L, 3L))._1 shouldBe 2L
    aa((1L, 3L))._2 shouldBe (2.0 / math.log(2.0)) +- 1e-12
    // close one diagonal: (1,3) becomes an edge and drops out; the other
    // diagonal's common neighbors now have degree 3
    val closed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("id_a", "id_b")
    val aa2 = Graph.adamicAdar(closed)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    aa2.keySet shouldBe Set((2L, 4L))
    aa2((2L, 4L)) shouldBe (2.0 / math.log(3.0)) +- 1e-12
  }

  test("adamicAdar maxDegree drops hub wedges") {
    val star = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 2L)).toDF("id_a", "id_b")
    val full = Graph.adamicAdar(star)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    full.keySet shouldBe Set((1L, 3L), (2L, 3L))
    full((1L, 3L)) shouldBe (1.0 / math.log(3.0)) +- 1e-12
    // cap below the hub degree: every surviving wedge closes an existing edge
    Graph.adamicAdar(star, maxDegree = 2).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy Graph.adamicAdar(star, 1)
  }

  test("labelPropagation separates a barbell into its two triangles deterministically") {
    // triangles {1,2,3} and {4,5,6} joined by the 3-4 bridge
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("id_a", "id_b")
    val l3 = Graph.labelPropagation(edges.repartition(5), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-traced synchronous rounds: the triangles stabilize on labels
    // 1 and 3, the bridge does not merge them
    l3 shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L)
    // partitioning-independent (every step is a deterministic aggregate)
    val again = Graph.labelPropagation(edges.repartition(1), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    again shouldBe l3
    // one round on a star: every leaf adopts the hub's id, the hub
    // adopts the smallest leaf
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("id_a", "id_b")
    val l1 = Graph.labelPropagation(star, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    l1 shouldBe Map(10L -> 1L, 1L -> 10L, 2L -> 10L, 3L -> 10L)
    an[IllegalArgumentException] should be thrownBy Graph.labelPropagation(star, 0)
    an[IllegalArgumentException] should be thrownBy Graph.labelPropagation(star, 11)
  }

  test("hits concentrates authority on the sink of a 2-source star") {
    // 1 -> 3, 2 -> 3: a(3) = 1, hubs split evenly, all other scores 0
    val star = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val by = Graph.hits(star.repartition(3), iters = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    by(3L).getAs[Double]("authority") shouldBe 1.0 +- 1e-15
    by(3L).getAs[Double]("hub") shouldBe 0.0 +- 1e-15
    by(1L).getAs[Double]("authority") shouldBe 0.0 +- 1e-15
    by(1L).getAs[Double]("hub") shouldBe 0.5 +- 1e-15
    by(2L).getAs[Double]("hub") shouldBe 0.5 +- 1e-15
    // hand-trace on a chain 1->2->3: a1 = (0,1,1); h1 = (1,1,0);
    // a2 = (0,1,1); h2 = (1,1,0) -> authority (0,.5,.5), hub (.5,.5,0)
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val c = Graph.hits(chain, iters = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    c(1L).getAs[Double]("authority") shouldBe 0.0 +- 1e-15
    c(2L).getAs[Double]("authority") shouldBe 0.5 +- 1e-15
    c(3L).getAs[Double]("authority") shouldBe 0.5 +- 1e-15
    c(3L).getAs[Double]("hub") shouldBe 0.0 +- 1e-15
    an[IllegalArgumentException] should be thrownBy Graph.hits(star, 0)
    an[IllegalArgumentException] should be thrownBy Graph.hits(star, 11)
  }

  test("jaccardScores: overlap over inclusion-exclusion union, adjacency excluded") {
    // triangle 1-2-3 plus pendant 3-4: non-adjacent 2-hop pairs are
    // (1,4) and (2,4), each sharing {3}; deg 1=2, 2=2, 3=3, 4=1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val got = Graph.jaccardScores(edges.repartition(3))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("n_common"), r.getAs[Long]("deg_a"),
         r.getAs[Long]("deg_b"), r.getAs[Double]("jaccard")))).toMap
    got.keySet shouldBe Set((1L, 4L), (2L, 4L))
    got((1L, 4L)) shouldBe ((1L, 2L, 1L, 0.5))
    got((2L, 4L)) shouldBe ((1L, 2L, 1L, 0.5))
  }

  test("jaccardScores caps wedge centers but keeps endpoint degrees uncapped") {
    // star center 0 with leaves 1..3: center degree 3 > cap 2 kills all wedges
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    Graph.jaccardScores(star, maxDegree = 2).count() shouldBe 0L
    // with the cap open, leaf pairs share the center; union = 1+1-1
    val full = Graph.jaccardScores(star, maxDegree = 64).collect()
    full.length shouldBe 3
    full.foreach { r =>
      r.getAs[Long]("deg_a") shouldBe 1L
      r.getAs[Double]("jaccard") shouldBe 1.0 +- 1e-15
    }
  }

  test("assortativity: a star is perfectly disassortative, a regular graph is NULL") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val r = Graph.assortativity(star.repartition(2)).head()
    r.getAs[Long]("n_edges") shouldBe 6L // both directions
    r.getAs[Double]("r_assortativity") shouldBe -1.0 +- 1e-12
    // triangle: every degree 2 -> constant marginals -> NULL
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val rt = Graph.assortativity(tri).head()
    rt.isNullAt(rt.fieldIndex("r_assortativity")) shouldBe true
  }

  test("assortativity matches the hand Pearson on a path graph") {
    // path 0-1-2-3: degrees 1,2,2,1; directed pairs (du,dv):
    // (1,2),(2,2),(2,1) + reverses
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val du = Seq(1.0, 2.0, 2.0, 2.0, 2.0, 1.0)
    val dv = Seq(2.0, 2.0, 1.0, 1.0, 2.0, 2.0)
    val m = 6.0
    val num = m * du.zip(dv).map { case (a, b) => a * b }.sum - du.sum * dv.sum
    val den = math.sqrt(m * du.map(a => a * a).sum - du.sum * du.sum) *
      math.sqrt(m * dv.map(a => a * a).sum - dv.sum * dv.sum)
    Graph.assortativity(path).head()
      .getAs[Double]("r_assortativity") shouldBe (num / den) +- 1e-12
  }

  private def coeffs(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
    Graph.clusteringCoefficients(
        Graph.canonicalEdges(edges.toDF("src", "dst"), "src", "dst"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("richClub: star+chord hand trace; regular graph has no thresholds") {
    // star 0-{1,2,3} + (1,2): degrees 3,2,2,1 -> thresholds {1,2}
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
    val got = Graph.richClub(
        Graph.canonicalEdges(star.toDF("src", "dst"), "src", "dst"))
      .orderBy("k").collect()
    got.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
    val k1 = got(0)
    k1.getAs[Long]("n_nodes") shouldBe 3L // {0,1,2}
    k1.getAs[Long]("n_edges") shouldBe 3L // (0,1),(0,2),(1,2)
    k1.getAs[Double]("phi") shouldBe 1.0 +- 1e-12 // the hub core IS a clique
    val k2 = got(1)
    k2.getAs[Long]("n_nodes") shouldBe 1L
    k2.getAs[Long]("n_edges") shouldBe 0L
    k2.isNullAt(k2.fieldIndex("phi")) shouldBe true
    // K4 is regular: every degree equals the max -> no threshold rows
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    Graph.richClub(Graph.canonicalEdges(k4.toDF("src", "dst"), "src", "dst"))
      .count() shouldBe 0L
    // an empty edge set yields an empty report, not an NPE
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    Graph.richClub(Graph.canonicalEdges(none, "src", "dst"))
      .count() shouldBe 0L
  }

  test("clustering coefficient: K4 is 1 everywhere, path is 0, hub scores its wedge share") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    coeffs(k4).values.foreach { case (deg, t, c) =>
      deg shouldBe 3L; t shouldBe 3L; c shouldBe 1.0
    }
    // path 0-1-2: middle node has 1 neighbor pair, not adjacent -> 0;
    // endpoints have degree 1 -> 0 by convention
    coeffs(Seq((0L, 1L), (1L, 2L))) shouldBe Map(
      0L -> ((1L, 0L, 0.0)), 1L -> ((2L, 0L, 0.0)), 2L -> ((1L, 0L, 0.0)))
    // star 0-{1,2,3} + edge (1,2): hub 0 has 3 of C(3,2)=3 pairs,
    // exactly one adjacent -> 2*1/(3*2) = 1/3
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
    val m = coeffs(star)
    m(0L) shouldBe ((3L, 1L, 1.0 / 3.0))
    m(1L) shouldBe ((2L, 1L, 1.0))
    m(3L) shouldBe ((1L, 0L, 0.0))
  }

  test("harmonicCentrality: hand-computed 1/d sums on a chain; d=0 and out-of-range excluded") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val canonical = Graph.canonicalEdges(edges, "src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val out = Graph.harmonicCentrality(canonical, seeds, maxHops = 3)
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("n_seeds_reached"), r.getAs[Double]("harmonic")))).toMap
    // chain 1-2-3-4-5: node 2 <- {1@1, 5@3}; 3 <- {1@2, 5@2}; 4 <- {1@3, 5@1}
    out(2L) shouldBe ((2L, 1.0 + 1.0 / 3))
    out(3L)._1 shouldBe 2L
    out(3L)._2 shouldBe 1.0 +- 1e-12
    out(4L)._2 shouldBe (1.0 / 3 + 1.0) +- 1e-12
    // the seeds themselves: only each other at d=4 > maxHops, own d=0 excluded
    out.keySet should not contain 1L
    out.keySet should not contain 5L
    // the seedless component never appears
    out.keySet should not contain 10L
    out.keySet should not contain 11L
  }
}
