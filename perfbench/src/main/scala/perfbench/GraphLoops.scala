package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, element_at}

import graft.graph.PropertyGraph

/** Driver-side reference answers for the graph algorithms, on the same
  * directed edge list the engine sees. Each mirrors the engine's contract:
  * hop caps, round caps and tie rules included. */
final class GraphReference(n: Int, edges: Array[(Int, Int, Int)]) {
  def name(v: Int): String = s"v$v"
  private val out = Array.fill(n)(mutable.ArrayBuffer.empty[(Int, Int)])
  edges.foreach { case (s, d, w) => out(s) += ((d, w)) }
  /** Undirected simple graph: no self-loops, no parallel edges. */
  private val und: Array[Set[Int]] = {
    val a = Array.fill(n)(mutable.Set.empty[Int])
    edges.foreach { case (s, d, _) => if (s != d) { a(s) += d; a(d) += s } }
    a.map(_.toSet)
  }

  def bfs(src: Int, maxHops: Int): Set[(String, Long)] = {
    val dist = mutable.Map(src -> 0L)
    var frontier = Seq(src)
    var hop = 0L
    while (hop < maxHops && frontier.nonEmpty) {
      hop += 1
      val next = frontier.flatMap(u => out(u).map(_._1)).distinct.filterNot(dist.contains)
      next.foreach(dist(_) = hop)
      frontier = next
    }
    dist.map { case (v, d) => (name(v), d) }.toSet
  }

  /** Hop-capped Bellman-Ford: the minimum over paths of at most maxHops edges. */
  def sssp(src: Int, maxHops: Int): Set[(String, Long)] = {
    var dist = Map(src -> 0L)
    var hop = 0
    var changed = true
    while (hop < maxHops && changed) {
      hop += 1
      val next = mutable.Map.from(dist)
      for ((u, du) <- dist; (v, w) <- out(u))
        if (next.get(v).forall(du + w < _)) next(v) = du + w
      changed = next != dist
      dist = next.toMap
    }
    dist.map { case (v, d) => (name(v), d) }.toSet
  }

  /** Synchronous peel of the undirected simple graph, capped at maxRounds;
    * degrees are those of the last round computed. */
  def kCore(k: Int, maxRounds: Int = 32): Set[(String, Long)] = {
    var cur = (0 until n).filter(und(_).nonEmpty).toSet
    var deg = Map.empty[Int, Int]
    var rounds = 0
    var changed = true
    while (changed && rounds < maxRounds) {
      rounds += 1
      deg = cur.iterator.map(a => a -> und(a).count(cur)).filter(_._2 >= k).toMap
      changed = deg.size != cur.size
      cur = deg.keySet
    }
    deg.map { case (v, d) => (name(v), d.toLong) }.toSet
  }

  /** Edges (u < v by name) of the k-truss with their in-truss supports. */
  def kTruss(k: Int): Set[(String, String, Long)] = {
    var cur: Set[(Int, Int)] = und.indices.iterator.flatMap(a => und(a).iterator.collect {
      case b if name(a) < name(b) => (a, b)
    }).toSet
    var sup = Map.empty[(Int, Int), Int]
    var changed = true
    while (changed) {
      val adj = mutable.Map.empty[Int, mutable.Set[Int]]
      cur.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
      sup = cur.iterator.map { case e @ (a, b) =>
        val (x, y) = if (adj(a).size <= adj(b).size) (adj(a), adj(b)) else (adj(b), adj(a))
        e -> x.count(y)
      }.filter(_._2 >= k - 2).toMap
      changed = sup.size != cur.size
      cur = sup.keySet
    }
    sup.map { case ((a, b), s) => (name(a), name(b), s.toLong) }.toSet
  }

  /** Each vertex with the smallest name in its undirected component. */
  def components(): Set[(String, String)] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    edges.foreach { case (s, d, _) =>
      val (a, b) = (find(s), find(d))
      if (a != b) { if (name(a) < name(b)) parent(b) = a else parent(a) = b }
    }
    (0 until n).map(v => (name(v), name(find(v)))).toSet
  }

  /** Every directed two-edge path out of src, as (middle, end). */
  def twoHop(src: Int): Set[(String, String)] =
    out(src).iterator.flatMap { case (b, _) => out(b).iterator.map(c => (name(b), name(c._1))) }.toSet

  def outDegree(v: Int): Int = out(v).size
}

/** The graph loops of the analytics workload: iterative algorithms on a
  * weighted, directed graph with heavy-tailed degrees (a densely linked core
  * of hubs and a periphery whose edges attach to hubs chosen by a power
  * law). The graph comes from a fixed generator seed; `rnd` (the run seed)
  * picks the sources, a hub and a leaf per pass. Every call is checked
  * against [[GraphReference]] after its clock stops. */
final class GraphLoops(spark: SparkSession, rnd: scala.util.Random) {
  private val nVertices = 4000
  private val nCore = 300
  private val bfsHops = 3
  private val ssspHops = 4
  private val edges: Array[(Int, Int, Int)] = {
    val r = new scala.util.Random(20261017L)
    val seen = mutable.LinkedHashMap.empty[(Int, Int), Int]
    def add(s: Int, d: Int): Unit =
      if (s != d && !seen.contains((s, d))) seen((s, d)) = 1 + r.nextInt(9)
    // a core vertex by a power law over core ranks, so a few hubs carry most edges
    def hub() = math.min(nCore - 1, (nCore * math.pow(r.nextDouble(), 2.0)).toInt)
    for (c <- 0 until nCore; _ <- 0 until 15) add(c, r.nextInt(nCore))
    for (p <- nCore until nVertices) {
      (0 until 1 + r.nextInt(3)).foreach(_ => add(p, hub()))
      if (r.nextInt(2) == 0) add(hub(), p)
    }
    seen.iterator.map { case ((s, d), w) => (s, d, w) }.toArray
  }
  private val ref = new GraphReference(nVertices, edges)
  private val byDegree = (0 until nVertices).filter(ref.outDegree(_) > 0).sortBy(v => -ref.outDegree(v))
  private var graph: PropertyGraph = _
  private lazy val expected: Map[String, Set[_]] = Map(
    "kcore" -> ref.kCore(10), "ktruss" -> ref.kTruss(3), "cc" -> ref.components())

  def setup(): Unit = {
    import spark.implicits._
    val v = (0 until nVertices).map(i => (ref.name(i), "V", Map("name" -> ref.name(i))))
      .toDF("name", "label", "attrs")
    val e = edges.toSeq.map { case (s, d, w) => (ref.name(s), ref.name(d), "LINK", Map("w" -> w.toString)) }
      .toDF("src", "dst", "rel", "eattrs")
    graph = PropertyGraph(v, e).checkpointLocal()
    graph.edges.count()
  }

  /** A hub among the ten busiest vertices, or a leaf of the quieter half. */
  private def source(hub: Boolean): Int =
    if (hub) byDegree(rnd.nextInt(10)) else byDegree(byDegree.size - 1 - rnd.nextInt(byDegree.size / 2))

  private def call(rec: Recorder, algo: String, src: Int): Unit = {
    val s = ref.name(src)
    val key = if (Set("kcore", "ktruss", "cc")(algo)) algo else s"$algo:$s"
    val before = if (rec.traced) spark.sparkContext.getPersistentRDDs.size else 0
    val layer = if (algo == "match2") "cypher.match" else s"graph.$algo"
    rec.op(algo, key, "read")(rec.span(layer)(algo match {
      case "bfs" => graph.bfsDistances(s, bfsHops, directed = true).collect()
      case "sssp" => graph.ssspDistances(s, ssspHops, element_at(col("eattrs"), "w").cast("long"),
        directed = true).collect()
      case "kcore" => graph.kCore(10).collect()
      case "ktruss" => graph.kTruss(3).collect()
      case "cc" => graph.connectedComponents().collect()
      case "match2" =>
        graph.query(s"match (a:V {name: '$s'})-[:LINK]->(b:V)-[:LINK]->(c:V) return a, b, c").collect()
    })) { rows =>
      if (rec.traced) {
        rec.note("leaked_rdds", spark.sparkContext.getPersistentRDDs.size - before)
        rec.note("storage_mb", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      def pairs = rows.map(r => (r.getString(0), r.getLong(1))).toSet
      algo match {
        case "bfs" => pairs == ref.bfs(src, bfsHops)
        case "sssp" => pairs == ref.sssp(src, ssspHops)
        case "cc" =>
          rows.map(r => (r.getString(0), r.getString(1))).toSet == expected(algo)
        case "kcore" => pairs == expected(algo)
        case "ktruss" => rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet == expected(algo)
        case "match2" => rows.forall(_.getString(0) == s) &&
          rows.map((r: Row) => (r.getString(1), r.getString(2))).toSet == ref.twoHop(src)
      }
    }
  }

  /** One call of each algorithm: bfs and the two-hop match from a hub,
    * sssp from a leaf. */
  def pass(rec: Recorder): Seq[() => Unit] = {
    val (hub, leaf) = (source(hub = true), source(hub = false))
    Seq("bfs", "sssp", "kcore", "ktruss", "cc", "match2")
      .map(a => () => call(rec, a, if (a == "sssp") leaf else hub))
  }
}
