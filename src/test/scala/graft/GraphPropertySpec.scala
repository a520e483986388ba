package graft

import org.scalacheck.Gen
import graft.graph.PropertyGraph

/** Direction semantics as algebraic properties on random graphs:
  * reverse ≡ flipped forward, undirected ≡ forward ∪ reverse, and MERGE
  * idempotence under re-merge — raw ScalaCheck generators with
  * deterministic seeds (the KvPropertySpec pattern). */
class GraphPropertySpec extends SparkSpec with PropertySampling {
  import spark.implicits._


  private val names = Vector("a", "b", "c", "d", "e", "f")
  private val edgesGen = Gen.listOfN(12, for {
    s <- Gen.oneOf(names); d <- Gen.oneOf(names)
  } yield (s, d))

  private def graphOf(edges: Seq[(String, String)]): PropertyGraph = {
    val v = names.map(n => (n, "N", Map.empty[String, String]))
      .toDF("name", "label", "attrs")
    val e = edges.distinct.map { case (s, d) => (s, d, "R") }.toDF("src", "dst", "rel")
    PropertyGraph(v, e)
  }

  test("reverse ≡ flipped forward; undirected ≡ forward ∪ reverse") {
    (1 to 6).foreach { seed =>
      val edges = sample(edgesGen, seed).distinct
      val g = graphOf(edges)
      val fwd = g.query("match (x)-[:R]->(y) return x, y")
        .as[(String, String)].collect().toSet
      val rev = g.query("match (x)<-[:R]-(y) return x, y")
        .as[(String, String)].collect().toSet
      val undir = g.query("match (x)-[:R]-(y) return x, y")
        .as[(String, String)].collect().toSet
      assert(fwd == edges.toSet, s"seed=$seed forward mismatch")
      assert(rev == edges.map(_.swap).toSet, s"seed=$seed reverse != flipped forward")
      assert(undir == fwd.union(rev), s"seed=$seed undirected != fwd ∪ rev")
    }
  }

  test("2-hop chain ≡ relational composition") {
    (1 to 4).foreach { seed =>
      val edges = sample(edgesGen, seed + 50).distinct
      val g = graphOf(edges)
      val got = g.query("match (x)-[:R]->(y)-[:R]->(z) return x, y, z")
        .as[(String, String, String)].collect().toSet
      val exp = (for {
        (x, y) <- edges; (y2, z) <- edges if y2 == y
      } yield (x, y, z)).toSet
      assert(got == exp, s"seed=$seed 2-hop != composition")
    }
  }

  test("var-length band ≡ union of per-length relational compositions") {
    (1 to 4).foreach { seed =>
      val edges = sample(edgesGen, seed + 100).distinct
      val g = graphOf(edges)
      val got = g.query("match (x)-[:R*1..3]->(y) return x, y")
        .as[(String, String)].collect().toSet
      val e1 = edges.toSet
      val e2 = (for { (x, y) <- edges; (y2, z) <- edges if y2 == y } yield (x, z)).toSet
      val e3 = (for { (x, y) <- e2; (y2, z) <- edges if y2 == y } yield (x, z)).toSet
      assert(got == (e1 | e2 | e3), s"seed=$seed band != union of compositions")
      // exact-length form agrees with the composition too
      val got2 = g.query("match (x)-[:R*2]->(y) return x, y")
        .as[(String, String)].collect().toSet
      assert(got2 == e2, s"seed=$seed *2 != composition")
    }
  }

  test("connectedComponents: reps agree with BFS closure; isolated nodes are singletons") {
    (1 to 4).foreach { seed =>
      val edges = sample(edgesGen, seed).distinct
      val g = graphOf(edges)
      val got = g.connectedComponents().as[(String, String)].collect().toMap
      // reference closure on the driver: undirected BFS, min-name rep
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      def comp(n: String): Set[String] = {
        var seen = Set(n); var frontier = Set(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= frontier
        }
        seen
      }
      val want = names.map(n => n -> comp(n).min).toMap
      assert(got == want, s"seed $seed: $got != $want")
    }
  }

  test("pageRank: exact-integer ranks are partition-invariant; iters=0 is uniform") {
    val edges = sample(edgesGen, 3).distinct
    val g = graphOf(edges)
    assert(g.pageRank(iters = 0).as[(String, Long)].collect()
      .forall(_._2 == 1000000L))
    val a = g.pageRank(iters = 3).as[(String, Long)].collect().toMap
    val shuffled = PropertyGraph(
      g.vertices.repartition(7), g.edges.repartition(5))
    val b = shuffled.pageRank(iters = 3).as[(String, Long)].collect().toMap
    assert(a == b, "integer pageRank not partition-invariant")
    // a node with no in-edges holds exactly the teleport mass
    val sinks = names.toSet -- edges.map(_._2).toSet
    sinks.foreach(n => assert(a(n) == 150000L, s"$n: ${a(n)}"))
  }

  test("pageRank and personalizedPageRank ≡ driver-side fixed-point rounds") {
    val scale = 1000000L
    def ref(edges: Seq[(String, String)], source: Option[String]): Map[String, Long] = {
      val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      def at(n: String, v: Long) = if (source.forall(_ == n)) v else 0L
      (1 to 3).foldLeft(names.map(n => n -> at(n, scale)).toMap) { (rank, _) =>
        val cin = edges.groupBy(_._2).view
          .mapValues(_.map { case (s, _) => rank(s) / outDeg(s) }.sum).toMap
        names.map(n => n -> (at(n, 15L * scale / 100L) + 85L * cin.getOrElse(n, 0L) / 100L)).toMap
      }
    }
    (1 to 3).foreach { seed =>
      val edges = sample(edgesGen, seed + 300).distinct
      val g = graphOf(edges)
      assert(g.pageRank(iters = 3).as[(String, Long)].collect().toMap == ref(edges, None),
        s"seed=$seed pageRank")
      assert(g.personalizedPageRank("a", iters = 3).as[(String, Long)].collect().toMap ==
        ref(edges, Some("a")), s"seed=$seed personalizedPageRank")
    }
  }

  test("bfsDistances ≡ driver-side BFS on random graphs, both orientations") {
    def refBfs(edges: Seq[(String, String)], src: String, maxHops: Int,
               directed: Boolean): Map[String, Long] = {
      val adj = (if (directed) edges else edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var dist = Map(src -> 0L)
      var frontier = Set(src)
      var h = 0L
      while (h < maxHops && frontier.nonEmpty) {
        h += 1
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) --
          dist.keySet
        dist ++= next.map(_ -> h)
        frontier = next
      }
      dist
    }
    (1 to 4).foreach { seed =>
      val edges = sample(edgesGen, seed + 400).distinct
      val g = graphOf(edges)
      Seq(true, false).foreach { directed =>
        // maxHops 6 > any 6-node eccentricity: exercises the early exit
        val got = g.bfsDistances("a", maxHops = 6, directed = directed)
          .as[(String, Long)].collect().toMap
        val exp = refBfs(edges, "a", 6, directed)
        assert(got == exp, s"seed=$seed directed=$directed: $got != $exp")
        // the cap truncates: only nodes within 1 hop survive maxHops = 1
        val capped = g.bfsDistances("a", maxHops = 1, directed = directed)
          .as[(String, Long)].collect().toMap
        assert(capped == exp.filter(_._2 <= 1L),
          s"seed=$seed directed=$directed capped: $capped")
      }
    }
    // a source absent from the vertex set reaches nothing
    assert(graphOf(Seq(("a", "b"))).bfsDistances("zz", 3).count() == 0L)
  }

  test("triangleCounts ≡ brute-force triple enumeration on random graphs") {
    (1 to 4).foreach { seed =>
      val edges = sample(edgesGen, seed + 700).distinct
      // simple undirected adjacency: drop self-loops, merge directions
      val adj = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).toSet
      val exp = names.map { n =>
        val tri = (for {
          a <- names; b <- names
          if a < b && adj((n, a)) && adj((n, b)) && adj((a, b))
        } yield (a, b)).size
        n -> tri.toLong
      }.toMap
      val got = graphOf(edges).triangleCounts()
        .as[(String, Long)].collect().toMap
      assert(got == exp, s"seed=$seed: $got != $exp")
    }
    // edgeless graph: every vertex present with 0
    assert(graphOf(Nil).triangleCounts().as[(String, Long)].collect().toMap
      == names.map(_ -> 0L).toMap)
  }

  test("MERGE is idempotent: re-merging a random statement stream is a no-op") {
    (1 to 3).foreach { seed =>
      val edges = sample(edgesGen, seed + 900).distinct
      val stmts = edges.map { case (s, d) =>
        s"merge (p:N {'name': '$s'})-[:R]->(q:N {'name': '$d'})"
      }
      val g1 = stmts.foldLeft(PropertyGraph.empty(spark))(_.merge(_))
      val g2 = stmts.foldLeft(g1)(_.merge(_)) // replay everything
      assert(g2.vertices.count() == g1.vertices.count(), s"seed=$seed vertices grew")
      assert(g2.edges.count() == g1.edges.count(), s"seed=$seed edges grew")
      val m1 = g1.query("match (x)-[:R]->(y) return x, y")
        .as[(String, String)].collect().toSet
      val m2 = g2.query("match (x)-[:R]->(y) return x, y")
        .as[(String, String)].collect().toSet
      assert(m1 == m2 && m1 == edges.toSet, s"seed=$seed match drifted")
    }
  }

  test("ssspDistances ≡ driver-side Bellman-Ford; unit weights ≡ bfs") {
    import org.apache.spark.sql.functions._
    val wEdgesGen = Gen.listOfN(12, for {
      s <- Gen.oneOf(names); d <- Gen.oneOf(names); w <- Gen.choose(1L, 9L)
    } yield (s, d, w))
    def refSssp(edges: Seq[(String, String, Long)], src: String,
                maxHops: Int): Map[String, Long] = {
      val und = edges ++ edges.map { case (s, d, w) => (d, s, w) }
      var dist = Map(src -> 0L)
      (1 to maxHops).foreach { _ =>
        val cand = und.flatMap { case (u, v, w) => dist.get(u).map(du => (v, du + w)) }
        dist = (dist.toSeq ++ cand).groupBy(_._1)
          .view.mapValues(_.map(_._2).min).toMap
      }
      dist
    }
    (1 to 4).foreach { seed =>
      val wedges = sample(wEdgesGen, seed + 700)
        .distinctBy(e => (e._1, e._2)) // one weight per (src,dst)
      val v = names.map(n => (n, "N", Map.empty[String, String]))
        .toDF("name", "label", "attrs")
      val e = wedges.map { case (s, d, w) => (s, d, "R", Map("w" -> w.toString)) }
        .toDF("src", "dst", "rel", "eattrs")
      val g = PropertyGraph(v, e)
      val got = g.ssspDistances("a", maxHops = 4,
        weight = element_at(col("eattrs"), "w").cast("long"))
        .as[(String, Long)].collect().toMap
      val exp = refSssp(wedges, "a", 4)
      assert(got == exp, s"seed=$seed: $got != $exp")
      // unit weights collapse to hop counts — must agree with bfsDistances
      val unit = g.ssspDistances("a", maxHops = 6, weight = lit(1L))
        .as[(String, Long)].collect().toMap
      val bfs = g.bfsDistances("a", maxHops = 6)
        .as[(String, Long)].collect().toMap
      assert(unit == bfs, s"seed=$seed unit-weight sssp != bfs")
    }
  }

  test("kCore: cascading peel, direction/parallel-edge insensitivity, empty core") {
    // K4 on a..d plus a tail d-e-f: peeling the tail is CASCADING (f goes
    // first, then e) — exercises multi-round convergence
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d")
    val tail = Seq("d" -> "e", "e" -> "f")
    val g = graphOf(k4 ++ tail)
    val core2 = g.kCore(2).as[(String, Long)].collect().toMap
    assert(core2 == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L),
      s"2-core: $core2")
    val core3 = g.kCore(3).as[(String, Long)].collect().toMap
    assert(core3 == core2, "3-core should equal the K4")
    assert(g.kCore(4).isEmpty, "no 4-core in K4+tail")
    // reversed/parallel/self-loop edges change nothing (simple undirected)
    val noisy = graphOf(k4 ++ tail ++ k4.map(_.swap) ++ Seq("a" -> "a"))
    assert(noisy.kCore(3).as[(String, Long)].collect().toMap == core3,
      "orientation/parallel/self-loop noise changed the core")
    // partition-invariance of the fixpoint
    val reparted = PropertyGraph(g.vertices.repartition(7),
      g.edges.repartition(5))
    assert(reparted.kCore(2).as[(String, Long)].collect().toMap == core2)
  }

  test("kTruss: supports within the truss, cascade, empty truss") {
    // K4 on a..d (every edge closes 2 triangles) + a pendant triangle
    // d-e-f (each of its edges closes exactly 1)
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d")
    val tri = Seq("d" -> "e", "d" -> "f", "e" -> "f")
    val g = graphOf(k4 ++ tri)
    val t3 = g.kTruss(3).as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(t3.keySet == (k4 ++ tri).toSet && tri.forall(t3(_) == 1L) &&
      k4.forall(t3(_) == 2L), s"3-truss: $t3")
    // k=4 needs support ≥ 2 INSIDE the truss: the pendant triangle goes
    // first, and K4 alone still gives every edge support 2 — it stays
    val t4 = g.kTruss(4).as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(t4.keySet == k4.toSet && t4.values.forall(_ == 2L), s"4-truss: $t4")
    assert(g.kTruss(5).isEmpty, "no 5-truss in K4")
    // multi-round decrement cascade: two triangles sharing edge b-c.
    // k=4 round 1 drops the four outer edges (support 1); both triangles
    // die, so b-c must be DECREMENTED twice (2→0) and peel in round 2 —
    // the support-decrement bookkeeping, not a full recount, drives this
    val twoTri = graphOf(Seq("a" -> "b", "a" -> "c", "b" -> "c",
      "b" -> "d", "c" -> "d"))
    assert(twoTri.kTruss(4).isEmpty, "shared-edge cascade should empty out")
    val t3b = twoTri.kTruss(3).as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(t3b == Map(("a", "b") -> 1L, ("a", "c") -> 1L, ("b", "c") -> 2L,
      ("b", "d") -> 1L, ("c", "d") -> 1L), s"two-triangle 3-truss: $t3b")
  }
}
