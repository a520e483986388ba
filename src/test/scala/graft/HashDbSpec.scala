package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import graft.graph.{Cypher, PropertyGraph}

/** The HashDb graph surface against PropertyGraph itself: HashDb buffers
  * MERGEs and applies them as one batched upsert per read, which must give
  * exactly the graph a statement-by-statement fold of
  * [[PropertyGraph.execute]] gives, below and above the 32-mutation fold. */
class HashDbSpec extends SparkSpec {
  import spark.implicits._

  private object Plans extends AdaptiveSparkPlanHelper
  private def exchanges(df: DataFrame): Int =
    Plans.collect(df.queryExecution.executedPlan) { case e: Exchange => e }.size

  private val names = Vector("a", "b", "c", "d", "e")
  private val matches = Vector(
    "match (x)-[:R]->(y) return x, y",
    "match (x)-[e:R]->(y) return x, y, e.w",
    "match (x:N) return x, x.k",
    "match (x {name: 'a'})-[:R]->(y)-[:R]->(z) return x, y, z")

  /** A seeded statement stream: MERGE chains over a small name pool
    * (repeated names, conflicting node attrs, edges re-merged with other
    * eattrs, duplicates within one statement, both edge directions),
    * with DETACH DELETE, SET and MATCH mixed in. */
  private def stream(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def name = names(rnd.nextInt(names.length))
    def node(i: Int): String = {
      val label = if (rnd.nextInt(4) == 0) "" else Seq(":N", ":M")(rnd.nextInt(2))
      val k = if (rnd.nextBoolean()) s", k: 'v${rnd.nextInt(3)}'" else ""
      s"(n$i$label {name: '$name'$k})"
    }
    def edge: String = {
      val w = if (rnd.nextBoolean()) s" {w: '${rnd.nextInt(3)}'}" else ""
      if (rnd.nextInt(3) == 0) s"<-[:R$w]-" else s"-[:R$w]->"
    }
    Seq.fill(n) {
      rnd.nextInt(20) match {
        case 0 => s"match (x {name: '$name'}) detach delete x"
        case 1 | 2 => s"match (x {name: '$name'}) set x.k = 's${rnd.nextInt(3)}'"
        case 3 | 4 | 5 => matches(rnd.nextInt(matches.length))
        case _ =>
          val hops = rnd.nextInt(4)
          "merge " + node(0) + (1 to hops).map(i => edge + node(i)).mkString
      }
    }
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
  private def state(g: PropertyGraph): (Set[Seq[Any]], Set[Seq[Any]]) =
    (rows(g.vertices.select("name", "label", "attrs")),
      rows(g.edges.select("src", "dst", "rel", "eattrs")))

  /** Runs `stmts` through a HashDb and through a fold of
    * PropertyGraph.execute, comparing every MATCH and the final graph. The
    * fold truncates lineage every 8 statements, which changes no rows. */
  private def assertEquivalent(stmts: Seq[String], tag: String): Unit = {
    val db = new HashDb(spark)
    var ref = PropertyGraph.empty(spark)
    stmts.zipWithIndex.foreach { case (s, i) =>
      db.cypher(s) match {
        case Some(got) =>
          assert(rows(got) == rows(ref.query(s)), s"$tag: statement $i '$s'")
        case None =>
          ref = ref.execute(s)
          if (i % 8 == 7) ref = ref.checkpointLocal()
      }
    }
    assert(state(db.graphState) == state(ref), s"$tag: final graph")
  }

  test("batched MERGEs ≡ a statement-by-statement fold, below the 32-mutation fold") {
    (1 to 3).foreach(seed => assertEquivalent(stream(seed, 10), s"seed=$seed n=10"))
  }

  test("batched MERGEs ≡ a statement-by-statement fold, across the 32-mutation fold") {
    val stmts = stream(42, 80)
    assert(stmts.count(!_.contains(" return ")) >= 64, "the stream must cross the fold twice")
    assertEquivalent(stmts, "seed=42 n=80")
  }

  test("PropertyGraph.merge over k statements ≡ k single-statement merges") {
    val merges = stream(7, 40).filter(_.startsWith("merge"))
      .map(s => Cypher.parse(s).asInstanceOf[Cypher.Merge])
    val folded = merges.foldLeft(PropertyGraph.empty(spark))((g, m) => g.merge(Seq(m)))
    assert(state(PropertyGraph.empty(spark).merge(merges)) == state(folded))
    assert(state(folded.merge(Seq.empty[Cypher.Merge])) == state(folded))
  }

  test("a MATCH's plan is as deep after 31 pending MERGEs as after 1") {
    val q = "match (a:User {name: 'u0'})-[:FOLLOWS]->(b) return b"
    // the first 32 MERGEs fold into a checkpointed base, so the pending
    // ones meet real rows (an empty base optimizes the upsert away)
    def exchangesAfter(pendingMerges: Int): Int = {
      val db = new HashDb(spark)
      (0 until 32 + pendingMerges).foreach(i =>
        db.cypher(s"merge (a:User {'name': 'u${i % 5}'})-[:FOLLOWS]->(b:User {'name': 'u$i'})"))
      exchanges(db.cypher(q).get)
    }
    val one = exchangesAfter(1)
    assert(one > 0, "the upsert's shuffles should show in the plan")
    assert(exchangesAfter(31) == one)
  }

  test("an invalid MERGE throws from its own cypher call and leaves the graph alone") {
    val db = new HashDb(spark)
    db.cypher("merge (a:N {name: 'x'})-[:R]->(b:N {name: 'y'})")
    intercept[IllegalArgumentException](
      db.cypher("merge (a:N {name: 'x'})-[:R]-(b:N {name: 'z'})"))
    intercept[IllegalArgumentException](
      db.cypher("merge (a:N {name: 'x'})-[:R*3]->(b:N {name: 'z'})"))
    assert(db.cypher("match (a)-[:R]->(b) return a, b").get
      .as[(String, String)].collect().toSet == Set(("x", "y")))
  }

  test("INSERT into an INT-keyed table keeps the key INT; the join view refreshes") {
    import org.apache.spark.sql.types.IntegerType
    val db = new HashDb(spark)
    db.catalog.register("customer", Seq((1L, "c1", 0), (2L, "c2", 1))
      .toDF("c_custkey", "c_name", "c_nationkey"))
    db.catalog.register("nation", Seq((0, "FRANCE", 0), (1, "JAPAN", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    db.catalog.register("region", Seq((0, "EUROPE"), (1, "ASIA"))
      .toDF("r_regionkey", "r_name"))
    db.sql("create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
      "inner join region on nation.n_regionkey = region.r_regionkey")
    val tables = Set("customer", "nation", "region")
    val tmp = java.nio.file.Files.createTempDirectory("hashdb_view").toString
    val name = graft.sql.HashQL.materializeJoin(db.catalog, db.joins, tables, s"$tmp/v0")
    try {
      db.sql("insert into customer (c_custkey, c_name, c_nationkey) values (3, 'c3', 1)")
      assert(db.catalog.table("customer").schema("c_nationkey").dataType == IntegerType)
      // materialization takes plain relations: land the insert first
      db.catalog.compact("customer", s"$tmp/customer")
      graft.sql.HashQL.materializeJoin(db.catalog, db.joins, tables, s"$tmp/v1")
      assert(db.joinViewFor(tables).select("c_custkey", "r_name").as[(Long, String)]
        .collect().toSet == Set((1L, "EUROPE"), (2L, "ASIA"), (3L, "ASIA")))
      // a value the INT column cannot hold still widens, as before
      db.sql("insert into customer (c_custkey, c_name, c_nationkey) values (4, 'c4', 9999999999)")
      assert(db.catalog.table("customer").where("c_custkey = 4")
        .select("c_nationkey").as[Long].collect().toSeq == Seq(9999999999L))
    } finally graft.matview.MatView.drop(spark, s"hashql:$name")
  }

  test("after INSERT + compaction, dialect and DataFrame joins see the new rows, not the view") {
    import graft.core.Tables
    val insert = "insert into customer (c_custkey, c_name, c_nationkey) values "
    // compacted once back onto the view's own customer files, once to a new dir
    Seq(true, false).foreach { samePath =>
      val db = new HashDb(spark)
      Seq("customer", "nation", "region").foreach(n => db.catalog.register(n, Tables.t(spark, sf, n)))
      val tmp = java.nio.file.Files.createTempDirectory("hashdb_stale").toString
      // a first write gives customer the dialect id column; the view is
      // materialized over the compacted table, as a refresh would be
      db.sql(insert + "(900001, 'first', 1)")
      db.catalog.compact("customer", s"$tmp/c0")
      db.sql("create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
        "inner join region on nation.n_regionkey = region.r_regionkey")
      val name = graft.sql.HashQL.materializeJoin(
        db.catalog, db.joins, Set("customer", "nation", "region"), s"$tmp/view")
      try {
        db.sql(insert + "(900002, 'fresh', 1)")
        db.catalog.compact("customer", if (samePath) s"$tmp/c0" else s"$tmp/c1")
        val total = db.catalog.table("customer").count()
        val sel = "select customer.c_custkey, customer.c_name, nation.n_name, region.r_name " +
          "from customer inner join nation on customer.c_nationkey = nation.n_nationkey " +
          "inner join region on nation.n_regionkey = region.r_regionkey"
        assert(db.sql(sel).get.count() == total, s"samePath=$samePath: dialect SELECT")
        assert(db.sql(sel + " where customer.c_custkey = 900002").get
          .select("c_name").as[String].collect().toSeq == Seq("fresh"),
          s"samePath=$samePath: filtered SELECT")
        val df = db.catalog.table("customer")
          .join(db.catalog.table("nation"), $"c_nationkey" === $"n_nationkey")
          .join(db.catalog.table("region"), $"n_regionkey" === $"r_regionkey")
        assert(df.count() == total, s"samePath=$samePath: DataFrame join")
      } finally graft.matview.MatView.drop(spark, s"hashql:$name")
    }
  }
}
