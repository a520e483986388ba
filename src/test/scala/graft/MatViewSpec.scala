package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.matview.MatView

class MatViewSpec extends SparkSpec {
  import spark.implicits._

  private def custNation = Tables.t(spark, sf, "customer")
    .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))

  private def joinsIn(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  /** The rows of `df` as a multiset, collected now. */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("routing rule replaces the join with the materialized scan") {
    val out = java.nio.file.Files.createTempDirectory("mv").toString
    MatView.materialize(spark, "cust_nation", custNation, out)
    try {
      // the same join, built independently — must route to the parquet
      val q = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains(out.split("/").last), s"no matview scan in:\n$physical")
      assert(!physical.contains("Join"), s"join not eliminated:\n$physical")

      // and the answer is still right
      val expected = Tables.t(spark, sf, "customer")
        .join(Tables.t(spark, sf, "nation"),
          col("c_nationkey") === col("n_nationkey"), "inner")
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
      // (expected computed through the same route; compare against a raw
      // recount over parquet-free plans by dropping the view first)
      MatView.drop(spark, "cust_nation")
      val raw = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
      assert(expected == raw)
    } finally MatView.drop(spark, "cust_nation")
  }

  test("3-way view routes the whole chain: zero Join nodes survive") {
    val custNationRegion = custNation
      .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
    val out = java.nio.file.Files.createTempDirectory("mv4").toString
    MatView.materialize(spark, "cnr", custNationRegion, out)
    try {
      val q = Tables.t(spark, sf, "customer")
        .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("cnt"))
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains(out.split("/").last), s"no matview scan in:\n$physical")
      assert(!physical.contains("Join"), s"join not eliminated:\n$physical")
      val routed = q.as[(String, Long)].collect().toMap
      MatView.drop(spark, "cnr")
      val raw = Tables.t(spark, sf, "customer")
        .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
      assert(routed == raw)
    } finally MatView.drop(spark, "cnr")
  }

  test("aggregate view: verbatim-repeated group-by answers from the summary") {
    val agg = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
    val out = java.nio.file.Files.createTempDirectory("mv_agg").toString
    MatView.materializeAggregate(spark, "cn_agg", agg, out)
    try {
      val q = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains(out.split("/").last), s"no summary scan in:\n$physical")
      assert(!physical.contains("HashAggregate") && !physical.contains("Join"),
        s"aggregation not eliminated:\n$physical")
      val routed = q.as[(String, Long)].collect().toMap
      MatView.drop(spark, "cn_agg")
      val raw = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
      assert(routed == raw)
    } finally MatView.drop(spark, "cn_agg")
  }

  test("aggregate view: coarser group-bys route via containment; re-aliased repeats route positionally") {
    val agg = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
    val out = java.nio.file.Files.createTempDirectory("mv_agg2").toString
    MatView.materializeAggregate(spark, "cn_agg2", agg, out)
    try {
      // coarser rollup (no grouping key): count re-aggregates as the sum
      // of the stored per-group counts — summary scan, ZERO fact rows
      val coarser = custNation.agg(count(lit(1)).as("cnt"))
      val cPlan = coarser.queryExecution.executedPlan.toString
      assert(cPlan.contains(out.split("/").last), s"no summary scan in:\n$cPlan")
      assert(!cPlan.contains("Join"), s"containment route still joins facts:\n$cPlan")
      val viaCoarse = coarser.as[Long].collect().head
      // same computation under a different alias: canonicalization erases
      // names, substitution is positional — routes AND keeps its own name
      val renamed = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
      val rPlan = renamed.queryExecution.executedPlan.toString
      assert(!rPlan.contains("HashAggregate"), s"re-aliased repeat not routed:\n$rPlan")
      val viaRoute = renamed.as[(String, Long)].collect().toMap
      MatView.drop(spark, "cn_agg2")
      val raw = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
        .as[(String, Long)].collect().toMap
      assert(viaRoute == raw)
      assert(viaCoarse == raw.values.sum)
    } finally MatView.drop(spark, "cn_agg2")
  }

  test("aggregate view: SUBSET group-by re-aggregates the summary — zero fact scans; avg falls back") {
    // summary keyed by (r_name, n_name) with every re-aggregable kind
    val custNatReg = custNation
      .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
    val agg = custNatReg.groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("cnt"), sum(col("c_acctbal")).as("s"),
        min(col("c_acctbal")).as("mn"), max(col("c_acctbal")).as("mx"))
    val out = java.nio.file.Files.createTempDirectory("mv_coarse").toString
    MatView.materializeAggregate(spark, "cn_coarse", agg, out)
    try {
      // the classic rollup ask: group by a strict subset of the keys
      val q = custNatReg.groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"), sum(col("c_acctbal")).as("s"),
          min(col("c_acctbal")).as("mn"), max(col("c_acctbal")).as("mx"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(out.split("/").last), s"no summary scan in:\n$plan")
      assert(!plan.contains("Join"), s"containment route read fact rows:\n$plan")
      val routed = q.as[(String, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      MatView.drop(spark, "cn_coarse")
      val raw = q.as[(String, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(routed.keySet == raw.keySet, s"routed=$routed raw=$raw")
      raw.foreach { case (k, (cnt, s, mn, mx)) =>
        val (rc, rs, rmn, rmx) = routed(k)
        assert(rc == cnt && rmn == mn && rmx == mx, s"$k: routed=${routed(k)} raw=${raw(k)}")
        // double sums re-associate across the two plans — ulp-level drift
        assert(math.abs(rs - s) <= math.max(1e-9, 1e-9 * math.abs(s)),
          s"$k: sum drift beyond float association: $rs vs $s")
      }
      // avg is NOT decomposable from (sum-of-column, row-count) when the
      // column can be null — against THIS summary (count(1) only, nullable
      // c_acctbal) it must keep reading fact rows
      MatView.materializeAggregate(spark, "cn_coarse", agg, out)
      val avgQ = custNatReg.groupBy(col("r_name")).agg(avg(col("c_acctbal")).as("a"))
      assert(avgQ.queryExecution.executedPlan.toString.contains("Join"),
        "avg wrongly served from the summary")
      // ...but a summary storing sum(x) AND count(x) decomposes avg:
      // Σsum/Σcount from the summary, zero fact rows
      val aggAvg = custNatReg.groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("c_acctbal")).as("s"), count(col("c_acctbal")).as("c"))
      val out2 = java.nio.file.Files.createTempDirectory("mv_coarse_avg").toString
      MatView.materializeAggregate(spark, "cn_coarse_avg", aggAvg, out2)
      val avgRouted = custNatReg.groupBy(col("r_name"))
        .agg(avg(col("c_acctbal")).as("a"))
      val aPlan = avgRouted.queryExecution.executedPlan.toString
      assert(aPlan.contains(out2.split("/").last), s"no summary scan in:\n$aPlan")
      assert(!aPlan.contains("Join"), s"avg containment read fact rows:\n$aPlan")
      val got = avgRouted.as[(String, Double)].collect().toMap
      MatView.drop(spark, "cn_coarse_avg")
      val want = avgRouted.as[(String, Double)].collect().toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (k, w) =>
        assert(math.abs(got(k) - w) <= math.max(1e-9, 1e-9 * math.abs(w)),
          s"$k: avg drift beyond float association: ${got(k)} vs $w") }
    } finally {
      MatView.drop(spark, "cn_coarse")
      MatView.drop(spark, "cn_coarse_avg")
    }
  }

  test("containment: distinct/composite aggregate outputs fall back cleanly, never route") {
    // a summary whose outputs include a DISTINCT aggregate and a composite
    // over an aggregate — neither is a grouping key nor re-aggregable
    val agg = custNation.groupBy(col("n_name"), col("c_mktsegment"))
      .agg(countDistinct(col("c_custkey")).as("d"),
        (sum(col("c_acctbal")) / lit(100)).as("s100"),
        count(lit(1)).as("cnt"))
    val out = java.nio.file.Files.createTempDirectory("mv_dist").toString
    MatView.materializeAggregate(spark, "cn_dist", agg, out)
    try {
      // coarser query touching the distinct output: MUST recompute from
      // facts (routing would reuse per-fine-group distinct counts — wrong)
      val q1 = custNation.groupBy(col("n_name"))
        .agg(countDistinct(col("c_custkey")).as("d"))
      assert(q1.queryExecution.executedPlan.toString.contains("Join"),
        "distinct aggregate wrongly served from the summary")
      q1.collect() // and it executes (no invalid-plan binding error)
      // composite-over-aggregate likewise
      val q2 = custNation.groupBy(col("n_name"))
        .agg((sum(col("c_acctbal")) / lit(100)).as("s100"))
      assert(q2.queryExecution.executedPlan.toString.contains("Join"),
        "composite aggregate wrongly served from the summary")
      q2.collect()
      // the plain count output still routes for untouched-by-distinct asks
      val q3 = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      assert(!q3.queryExecution.executedPlan.toString.contains("Join"),
        "plain count lost its containment route")
    } finally MatView.drop(spark, "cn_dist")
  }

  test("filter-containment: WHERE on a grouping key filters the summary — zero fact rows; non-key filter falls back") {
    val custNatReg = custNation
      .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
    val agg = custNatReg.groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("cnt"), sum(col("c_acctbal")).as("s"),
        min(col("c_acctbal")).as("mn"), max(col("c_acctbal")).as("mx"))
    val out = java.nio.file.Files.createTempDirectory("mv_filt").toString
    MatView.materializeAggregate(spark, "cn_filt", agg, out)
    try {
      // the other half of rollup serving: subset group-by + key filter
      def q = custNatReg.filter(col("r_name") === "EUROPE")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"), sum(col("c_acctbal")).as("s"),
          min(col("c_acctbal")).as("mn"), max(col("c_acctbal")).as("mx"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(out.split("/").last), s"no summary scan in:\n$plan")
      assert(!plan.contains("Join"), s"filtered containment read fact rows:\n$plan")
      val routed = q.as[(String, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

      // a comparison predicate on a key routes too
      def qCmp = custNatReg.filter(col("n_name") >= "M").groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"))
      val cPlan = qCmp.queryExecution.executedPlan.toString
      assert(cPlan.contains(out.split("/").last) && !cPlan.contains("Join"),
        s"comparison key filter not routed:\n$cPlan")
      val routedCmp = qCmp.as[(String, Long)].collect().toMap

      // a filter on a NON-key column must keep reading fact rows
      val qBad = custNatReg.filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      assert(qBad.queryExecution.executedPlan.toString.contains("Join"),
        "non-key filter wrongly served from the summary")
      qBad.collect() // and it still executes

      MatView.drop(spark, "cn_filt")
      val raw = q.as[(String, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(routed.keySet == raw.keySet, s"routed=$routed raw=$raw")
      raw.foreach { case (k, (cnt, s, mn, mx)) =>
        val (rc, rs, rmn, rmx) = routed(k)
        assert(rc == cnt && rmn == mn && rmx == mx, s"$k: routed=${routed(k)} raw=${raw(k)}")
        assert(math.abs(rs - s) <= math.max(1e-9, 1e-9 * math.abs(s)),
          s"$k: sum drift beyond float association: $rs vs $s")
      }
      assert(routedCmp == qCmp.as[(String, Long)].collect().toMap)
    } finally MatView.drop(spark, "cn_filt")
  }

  test("filter-containment: OR and IN over grouping keys route; a key-with-non-key OR falls back") {
    val custNatReg = custNation
      .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
    val agg = custNatReg.groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("cnt"))
    val out = java.nio.file.Files.createTempDirectory("mv_bool").toString
    MatView.materializeAggregate(spark, "cn_bool", agg, out)
    try {
      // the rewrite substitutes key subexpressions inside ANY deterministic
      // predicate, so boolean structure routes for free: OR of two keys…
      def qOr = custNatReg
        .filter(col("r_name") === "EUROPE" || col("n_name") === "JAPAN")
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      val orPlan = qOr.queryExecution.executedPlan.toString
      assert(orPlan.contains(out.split("/").last) && !orPlan.contains("Join"),
        s"key-OR filter not served from the summary:\n$orPlan")
      val routedOr = qOr.as[(String, Long)].collect().toMap
      // …and IN lists on a key
      def qIn = custNatReg.filter(col("r_name").isin("EUROPE", "ASIA"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      val inPlan = qIn.queryExecution.executedPlan.toString
      assert(inPlan.contains(out.split("/").last) && !inPlan.contains("Join"),
        s"key-IN filter not served from the summary:\n$inPlan")
      val routedIn = qIn.as[(String, Long)].collect().toMap
      // an OR reaching a NON-key column selects partial groups — facts
      val qMixed = custNatReg
        .filter(col("r_name") === "EUROPE" || col("c_mktsegment") === "BUILDING")
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      assert(qMixed.queryExecution.executedPlan.toString.contains("Join"),
        "key-or-non-key OR wrongly served from the summary")
      qMixed.collect()

      MatView.drop(spark, "cn_bool")
      assert(routedOr == qOr.as[(String, Long)].collect().toMap)
      assert(routedIn == qIn.as[(String, Long)].collect().toMap)
    } finally MatView.drop(spark, "cn_bool")
  }

  test("containment disabled when view outputs' sql renderings collide; exact repeat still routes") {
    // the same aggregate registered twice under different aliases renders
    // the same `sum(c_acctbal)` sqlKey — the name-keyed containment maps
    // can't distinguish them, so containment must be OFF for this entry
    val agg = custNation.groupBy(col("n_name"))
      .agg(sum(col("c_acctbal")).as("s1"), sum(col("c_acctbal")).as("s2"))
    val out = java.nio.file.Files.createTempDirectory("mv_collide").toString
    MatView.materializeAggregate(spark, "cn_collide", agg, out)
    try {
      // a coarser ask must recompute from facts (no containment route)
      val coarse = custNation.agg(sum(col("c_acctbal")).as("s1"))
      assert(coarse.queryExecution.executedPlan.toString.contains("Join"),
        "colliding-key entry wrongly served a containment query")
      coarse.collect()
      // the verbatim repeat still routes via the canonical exact path
      val repeat = custNation.groupBy(col("n_name"))
        .agg(sum(col("c_acctbal")).as("s1"), sum(col("c_acctbal")).as("s2"))
      val rPlan = repeat.queryExecution.executedPlan.toString
      assert(rPlan.contains(out.split("/").last) && !rPlan.contains("Join"),
        s"exact repeat lost its route:\n$rPlan")
    } finally MatView.drop(spark, "cn_collide")
  }

  test("aggregate view: PERMUTED output aliases still get the right columns") {
    // view: (n_name, a=count, b=max); query swaps the aliases — by-name
    // substitution would silently wire a↔b; positional must not
    val agg = custNation.groupBy(col("n_name"))
      .agg(count(lit(1)).as("a"), max(col("c_custkey")).as("b"))
    val out = java.nio.file.Files.createTempDirectory("mv_agg3").toString
    MatView.materializeAggregate(spark, "cn_agg3", agg, out)
    try {
      val swapped = custNation.groupBy(col("n_name"))
        .agg(count(lit(1)).as("b"), max(col("c_custkey")).as("a"))
      val plan = swapped.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate"), s"swapped repeat not routed:\n$plan")
      val viaRoute = swapped.select("n_name", "b", "a")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      MatView.drop(spark, "cn_agg3")
      val raw = custNation.groupBy(col("n_name"))
        .agg(count(lit(1)).as("b"), max(col("c_custkey")).as("a"))
        .select("n_name", "b", "a").as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(viaRoute == raw)
    } finally MatView.drop(spark, "cn_agg3")
  }

  test("re-materializing under the same name refreshes instead of throwing") {
    val out1 = java.nio.file.Files.createTempDirectory("mv_rf1").toString
    val out2 = java.nio.file.Files.createTempDirectory("mv_rf2").toString
    MatView.materialize(spark, "rf", custNation, out1)
    try {
      // second call with the rule live: must re-extract the join key from
      // the RAW plan (not the routed scan) and swap the entry cleanly
      MatView.materialize(spark, "rf", custNation, out2)
      val q = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(out2.split("/").last), s"not routed to refresh:\n$plan")
      // aggregate flavor of the same contract (fresh DataFrame per use —
      // a QueryExecution memoizes its optimized plan, so a pre-registration
      // instance would show the stale plan regardless of routing)
      def aggQ = custNation.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
      val aout1 = java.nio.file.Files.createTempDirectory("mv_rfa1").toString
      val aout2 = java.nio.file.Files.createTempDirectory("mv_rfa2").toString
      MatView.drop(spark, "rf") // agg view's child must stay a raw join
      MatView.materializeAggregate(spark, "rfa", aggQ, aout1)
      MatView.materializeAggregate(spark, "rfa", aggQ, aout2)
      val aPlan = aggQ.queryExecution.executedPlan.toString
      assert(aPlan.contains(aout2.split("/").last), s"agg not refreshed:\n$aPlan")
      MatView.drop(spark, "rfa")
    } finally { MatView.drop(spark, "rf"); MatView.drop(spark, "rfa") }
  }

  test("refreshAggregate swaps the summary in place; routes stay live over fresh rows") {
    val agg = custNation.groupBy(col("n_name")).agg(
      count(lit(1)).as("cnt"), sum(col("c_acctbal")).as("s"))
    val out = java.nio.file.Files.createTempDirectory("mv_refresh").toString
    MatView.materializeAggregate(spark, "cn_refresh", agg, out)
    try {
      // simulate the maintenance fold: the stored summary plus a delta
      // group (what Streams.foldAggregate would hand back after ingest)
      val delta = Seq(("__NEW_NATION__", 3L, 123.45)).toDF("n_name", "cnt", "s")
      val folded = spark.read.parquet(out).unionByName(delta)
        .groupBy(col("n_name")).agg(sum(col("cnt")).as("cnt"), sum(col("s")).as("s"))
      val before = spark.read.parquet(out).count()
      MatView.refreshAggregate(spark, "cn_refresh", out, folded)
      // exact-match route: the verbatim view reads the REFRESHED parquet
      // (new group visible), zero aggregation re-run
      def q = custNation.groupBy(col("n_name")).agg(
        count(lit(1)).as("cnt"), sum(col("c_acctbal")).as("s"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(out.split("/").last) && !plan.contains("Join"),
        s"refreshed view not routed:\n$plan")
      val rows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.contains("__NEW_NATION__") && rows("__NEW_NATION__") == 3L)
      assert(rows.size == before + 1)
      // containment route: the global rollup re-aggregates the REFRESHED
      // summary (remapped attribute maps) — zero Join, delta included
      def coarse = custNation.agg(count(lit(1)).as("cnt"))
      val cPlan = coarse.queryExecution.executedPlan.toString
      assert(cPlan.contains(out.split("/").last) && !cPlan.contains("Join"),
        s"containment lost after refresh:\n$cPlan")
      val total = coarse.as[Long].collect().head
      MatView.drop(spark, "cn_refresh")
      val rawTotal = custNation.agg(count(lit(1)).as("cnt")).as[Long].collect().head
      assert(total == rawTotal + 3)
      // schema contract: wrong column set is rejected before any write
      MatView.materializeAggregate(spark, "cn_refresh", agg, out)
      intercept[IllegalArgumentException](MatView.refreshAggregate(
        spark, "cn_refresh", out, folded.withColumnRenamed("s", "wrong")))
      intercept[IllegalArgumentException](MatView.refreshAggregate(
        spark, "no_such_view", out, folded))
    } finally MatView.drop(spark, "cn_refresh")
  }

  test("a 4-way query containing the 3-way view routes the subtree only") {
    val custNationRegion = custNation
      .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
    val out = java.nio.file.Files.createTempDirectory("mv5").toString
    MatView.materialize(spark, "cnr5", custNationRegion, out)
    try {
      val q = Tables.t(spark, sf, "customer")
        .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.t(spark, sf, "orders"), col("o_custkey") === col("c_custkey"))
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains(out.split("/").last),
        s"3-way subtree not routed inside the 4-way query:\n$physical")
      // exactly the view⋈orders join remains
      val expected = Tables.t(spark, sf, "orders").count()
      assert(q.count() == expected)
    } finally MatView.drop(spark, "cnr5")
  }

  test("a non-key IsNotNull is re-applied over the view scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mv_nn").toString
    Seq((1L, Option("x")), (2L, None), (3L, Option("y")))
      .toDF("k", "maybe").write.parquet(s"$dir/l")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("rk", "attr")
      .write.parquet(s"$dir/r")
    val l = spark.read.parquet(s"$dir/l")
    val r = spark.read.parquet(s"$dir/r")
    MatView.materialize(spark, "nn_guard", l.join(r, col("k") === col("rk")),
      s"$dir/view")
    try {
      // the inner join implies IsNotNull only for its KEYS — a user's
      // IS NOT NULL over a nullable payload column is a real predicate
      // the materialized rows don't honor, so the route re-applies it
      // (absorbing it returned 3 rows instead of 2)
      val q = l.filter(col("maybe").isNotNull).join(r, col("k") === col("rk"))
      assert(q.queryExecution.executedPlan.toString.contains("view") && joinsIn(q) == 0,
        s"filtered join not routed:\n${q.queryExecution.optimizedPlan}")
      assert(q.count() == 2)
      // …while the clean join still routes
      val clean = l.join(r, col("k") === col("rk"))
      assert(clean.queryExecution.executedPlan.toString.contains("view"))
      assert(clean.count() == 3)
    } finally MatView.drop(spark, "nn_guard")
  }

  test("filtered variants of the view route with the filter re-applied") {
    val out = java.nio.file.Files.createTempDirectory("mv3").toString
    MatView.materialize(spark, "cust_nation3", custNation, out)
    try {
      val filtered = Tables.t(spark, sf, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
      val physical = filtered.queryExecution.executedPlan.toString
      assert(physical.contains(out.split("/").last) && joinsIn(filtered) == 0,
        s"filtered query not routed to the matview:\n$physical")
      // and the count reflects the filter, not the full view
      val expected = Tables.t(spark, sf, "customer")
        .filter(col("c_mktsegment") === "BUILDING").count()
      assert(filtered.count() == expected)
    } finally MatView.drop(spark, "cust_nation3")
  }

  test("a computed projection between the joins blocks the rewrite") {
    val custNationRegion = custNation
      .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
    val out = java.nio.file.Files.createTempDirectory("mv6").toString
    MatView.materialize(spark, "cnr6", custNationRegion, out)
    try {
      // upper() aliased back to n_name: the flattened key would match and
      // every output name exists in the view — only the computed-Project
      // guard keeps this from being silently routed (and upper() dropped)
      def q = Tables.t(spark, sf, "customer")
        .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_regionkey"),
          upper(col("n_name")).as("n_name"))
        .join(Tables.t(spark, sf, "region"), col("n_regionkey") === col("r_regionkey"))
      // the whole 3-way tree must not route; the customer⋈nation subtree
      // below the projection may (region is row-preserving), so exactly
      // the join with region remains
      assert(joinsIn(q) == 1,
        s"computed projection routed with the whole view:\n${q.queryExecution.optimizedPlan}")
      // and upper() survived
      val names = q.select("n_name").distinct()
        .as[String].collect()
      assert(names.nonEmpty && names.forall(n => n == n.toUpperCase))
      val routed = bag(q)
      MatView.drop(spark, "cnr6")
      assert(routed == bag(q))
    } finally MatView.drop(spark, "cnr6")
  }

  test("dialect SELECT answers from a materialized create join: zero Joins") {
    import graft.core.GraftCatalog
    import graft.sql.HashQL
    val cat = new GraftCatalog(spark)
    Seq("customer", "nation", "region").foreach(n =>
      cat.register(n, Tables.t(spark, sf, n)))
    val reg = new HashQL.JoinRegistry
    HashQL.execute(cat,
      "create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
        "inner join region on nation.n_regionkey = region.r_regionkey",
      Some(reg))
    val sel = "select customer.c_custkey, nation.n_name, region.r_name from customer " +
      "inner join nation on customer.c_nationkey = nation.n_nationkey " +
      "inner join region on nation.n_regionkey = region.r_regionkey"
    // the live join's answer, before any view exists
    val live = bag(HashQL.execute(cat, sel).get)
    val tmp = java.nio.file.Files.createTempDirectory("mv_dialect").toString
    val name = HashQL.materializeJoin(
      cat, reg, Set("customer", "nation", "region"), s"$tmp/view")
    try {
      val routed = HashQL.execute(cat, sel, Some(reg)).get
      assert(joinsIn(routed) == 0, s"dialect SELECT not routed:\n${routed.queryExecution.optimizedPlan}")
      assert(bag(routed) == live)
      // a DIFFERENT join over the same tables must NOT route
      val other = HashQL.execute(cat,
        "select customer.c_custkey from customer " +
          "inner join nation on customer.c_custkey = nation.n_nationkey " +
          "inner join region on nation.n_regionkey = region.r_regionkey",
        Some(reg)).get
      assert(other.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty, "mismatched join keys wrongly routed")
    } finally MatView.drop(spark, s"hashql:$name")
  }

  test("subset containment: FK-side drop routes with zero Joins; fact-side drop falls back; Star falls back") {
    import graft.core.GraftCatalog
    import graft.sql.HashQL
    val cat = new GraftCatalog(spark)
    Seq("customer", "nation", "region").foreach(n =>
      cat.register(n, Tables.t(spark, sf, n)))
    val reg = new HashQL.JoinRegistry
    HashQL.execute(cat,
      "create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
        "inner join region on nation.n_regionkey = region.r_regionkey",
      Some(reg))
    val sub = "select customer.c_custkey, nation.n_name from customer " +
      "inner join nation on customer.c_nationkey = nation.n_nationkey"
    // an outer join above the routed inner join: the inner subtree routes,
    // the LEFT JOIN stays live
    val outer = sub + " left join orders on customer.c_custkey = orders.o_custkey"
    cat.register("orders", Tables.t(spark, sf, "orders"))
    val (liveSub, liveOuter) = (bag(HashQL.execute(cat, sub).get),
      bag(HashQL.execute(cat, outer).get))
    val tmp = java.nio.file.Files.createTempDirectory("mv_subset").toString
    val name = HashQL.materializeJoin(
      cat, reg, Set("customer", "nation", "region"), s"$tmp/view")
    try {
      // dropping REGION (row-preserving: r_regionkey unique, every nation
      // matches) — the 2-table query serves from the 3-table parquet
      val routed = HashQL.execute(cat, sub, Some(reg)).get
      assert(joinsIn(routed) == 0, s"subset query not routed:\n${routed.queryExecution.optimizedPlan}")
      assert(routed.queryExecution.executedPlan.toString.contains(s"$tmp/view"))
      assert(bag(routed) == liveSub)
      val routedOuter = HashQL.execute(cat, outer, Some(reg)).get
      assert(joinsIn(routedOuter) == 1 &&
        routedOuter.queryExecution.executedPlan.toString.contains(s"$tmp/view"),
        s"inner subtree under the outer join not routed:\n${routedOuter.queryExecution.optimizedPlan}")
      assert(bag(routedOuter) == liveOuter)
      // dropping CUSTOMER would serve one row PER CUSTOMER for a
      // nation-only query — customer's clause is the fact side (not
      // row-preserving), so the route must NOT fire
      val nationOnly = HashQL.execute(cat,
        "select nation.n_nationkey, count(*) from nation " +
          "group by nation.n_nationkey", Some(reg)).get
      assert(!nationOnly.queryExecution.executedPlan.toString.contains(s"$tmp/view"),
        "fact-side drop wrongly routed — counts would multiply")
      import spark.implicits._
      assert(nationOnly.as[(Long, Long)].collect().forall(_._2 == 1L))
      // `select *` over the subset must not expand region's columns —
      // Star disables the subset route (live join, Join present)
      val star = HashQL.execute(cat,
        "select * from customer " +
          "inner join nation on customer.c_nationkey = nation.n_nationkey",
        Some(reg)).get
      assert(!star.columns.contains("r_name"),
        s"star subset query leaked dropped-table columns: ${star.columns.mkString(",")}")
      assert(star.collect().length == liveSub.values.sum)
    } finally MatView.drop(spark, s"hashql:$name")
  }

  test("same-named columns on two join sides disable containment; exact match survives") {
    import spark.implicits._
    // both relations carry a `name` column — after qualifier stripping a
    // query grouping on b's name would render the same key as a's; the
    // registration must disable containment rather than over-match
    val a = Seq((1, "x"), (2, "y"), (3, "y")).toDF("id", "name")
    val b = Seq((1, "p"), (2, "q"), (3, "p")).toDF("bid", "name")
    val base = a.join(b, col("id") === col("bid"))
    val out = java.nio.file.Files.createTempDirectory("mv_amb").toString
    val view = base.groupBy(a("name")).agg(count(lit(1)).as("cnt"))
    MatView.materializeAggregate(spark, "amb_view", view, out)
    try {
      // grouping on the OTHER side's same-named column must NOT route
      val q = base.groupBy(b("name")).agg(count(lit(1)).as("cnt"))
      assert(!q.queryExecution.executedPlan.toString.contains(out.split("/").last),
        "cross-relation same-name grouping wrongly routed to the summary")
      assert(q.as[(String, Long)].collect().toSet ==
        Set(("p", 2L), ("q", 1L)))
      // the verbatim repeat still routes via the canonical-plan match
      val same = base.groupBy(a("name")).agg(count(lit(1)).as("cnt"))
      assert(same.queryExecution.executedPlan.toString.contains(out.split("/").last),
        "exact-match route lost")
      assert(same.as[(String, Long)].collect().toSet ==
        Set(("x", 1L), ("y", 2L)))
    } finally MatView.drop(spark, "amb_view")
  }

  test("a view over one parquet dir never answers a join over another dir") {
    // a_jan and a_feb share a schema; only the files differ
    val dir = java.nio.file.Files.createTempDirectory("mv_dirs").toString
    Seq((1L, 10L), (2L, 20L)).toDF("a_id", "a_b").write.parquet(s"$dir/a_jan")
    Seq((3L, 10L), (4L, 10L), (5L, 20L)).toDF("a_id", "a_b").write.parquet(s"$dir/a_feb")
    Seq((10L, "x"), (20L, "y")).toDF("b_id", "b_name").write.parquet(s"$dir/b")
    def join(a: String) = spark.read.parquet(s"$dir/$a")
      .join(spark.read.parquet(s"$dir/b"), col("a_b") === col("b_id"))
    // the summary first: registered after the join view, its child would
    // plan as the view scan
    MatView.materializeAggregate(spark, "jan_agg",
      join("a_jan").groupBy(col("b_name")).agg(count(lit(1)).as("cnt")), s"$dir/summary")
    MatView.materialize(spark, "jan_join", join("a_jan"), s"$dir/view")
    try {
      assert(joinsIn(join("a_jan")) == 0, "the view's own join should route")
      val feb = join("a_feb")
      assert(joinsIn(feb) == 1, s"a_feb routed to a_jan's view:\n${feb.queryExecution.optimizedPlan}")
      assert(feb.select("a_id").as[Long].collect().toSet == Set(3L, 4L, 5L))
      // the aggregate containment route keys on the same leaves
      val febTotal = join("a_feb").agg(count(lit(1)).as("cnt"))
      assert(!febTotal.queryExecution.executedPlan.toString.contains(s"$dir/summary"),
        "a_feb's rollup routed to a_jan's summary")
      assert(febTotal.as[Long].collect().toSeq == Seq(3L))
      val janTotal = join("a_jan").agg(count(lit(1)).as("cnt"))
      assert(janTotal.queryExecution.executedPlan.toString.contains(s"$dir/summary"))
      assert(janTotal.as[Long].collect().toSeq == Seq(2L))
    } finally { MatView.drop(spark, "jan_join"); MatView.drop(spark, "jan_agg") }
  }

  test("a WHERE on a column the view lacks, or a rand() filter, does not route") {
    val out = java.nio.file.Files.createTempDirectory("mv_narrow").toString
    MatView.materialize(spark, "cn_narrow",
      custNation.select("c_custkey", "c_nationkey", "n_nationkey", "n_name"), out)
    try {
      // the pruned view holds no c_mktsegment to re-apply the WHERE on
      val seg = Tables.t(spark, sf, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      assert(joinsIn(seg) == 1, s"WHERE on a column the view lacks routed:\n${seg.queryExecution.optimizedPlan}")
      assert(seg.count() ==
        Tables.t(spark, sf, "customer").filter(col("c_mktsegment") === "BUILDING").count())
      // the plain join still routes to the narrow view
      val plain = custNation.select("c_custkey", "n_name")
      assert(joinsIn(plain) == 0 && plain.queryExecution.executedPlan.toString.contains(out))
      // a nondeterministic filter cannot be re-applied over another scan
      val sampled = Tables.t(spark, sf, "customer").filter(rand(7) < 0.5)
        .join(Tables.t(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      assert(joinsIn(sampled) == 1, s"rand() filter routed:\n${sampled.queryExecution.optimizedPlan}")
    } finally MatView.drop(spark, "cn_narrow")
  }

  test("the session's select_view shape (WHERE + missing-field skip) routes with 0 Joins") {
    import graft.core.GraftCatalog
    import graft.sql.HashQL
    val cat = new GraftCatalog(spark)
    Seq("customer", "nation", "region").foreach(n =>
      cat.register(n, Tables.t(spark, sf, n)))
    val reg = new HashQL.JoinRegistry
    HashQL.execute(cat,
      "create join inner join nation on customer.c_nationkey = nation.n_nationkey " +
        "inner join region on nation.n_regionkey = region.r_regionkey", Some(reg))
    val sel = "select customer.c_custkey, customer.c_name, nation.n_name, region.r_name " +
      "from customer inner join nation on customer.c_nationkey = nation.n_nationkey " +
      "inner join region on nation.n_regionkey = region.r_regionkey where customer.c_custkey = "
    val keys = Seq(1L, 7L, 77L, 100000L)
    val live = keys.map(k => bag(HashQL.execute(cat, sel + k).get))
    val tmp = java.nio.file.Files.createTempDirectory("mv_select_view").toString
    val name = HashQL.materializeJoin(
      cat, reg, Set("customer", "nation", "region"), s"$tmp/view")
    try keys.zip(live).foreach { case (k, want) =>
      val routed = HashQL.execute(cat, sel + k, Some(reg)).get
      assert(joinsIn(routed) == 0, s"select_view not routed:\n${routed.queryExecution.optimizedPlan}")
      assert(bag(routed) == want, s"c_custkey = $k")
    } finally MatView.drop(spark, s"hashql:$name")
  }

  test("a dimension with a key its partner lacks is not droppable") {
    // fact f joins dimensions d (on f_d) and e (on f_e). e holds every
    // f_e; d lacks f_d = 3, so the view has no row for f_id = 3, which a
    // query over f and e alone must return
    val dir = java.nio.file.Files.createTempDirectory("mv_drop").toString
    Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 2L)).toDF("f_id", "f_d", "f_e")
      .write.parquet(s"$dir/f")
    Seq((1L, "d1"), (2L, "d2")).toDF("d_id", "d_name").write.parquet(s"$dir/d")
    Seq((1L, "e1"), (2L, "e2"), (9L, "e9")).toDF("e_id", "e_name").write.parquet(s"$dir/e")
    def t(n: String) = spark.read.parquet(s"$dir/$n")
    MatView.materialize(spark, "fde", t("f")
      .join(t("d"), col("f_d") === col("d_id"))
      .join(t("e"), col("f_e") === col("e_id")), s"$dir/view")
    try {
      // leaving out e (unique key, every f_e present) routes
      val fd = t("f").join(t("d"), col("f_d") === col("d_id")).select("f_id", "d_name")
      assert(joinsIn(fd) == 0, s"droppable e not dropped:\n${fd.queryExecution.optimizedPlan}")
      assert(fd.as[(Long, String)].collect().toSet == Set((1L, "d1"), (2L, "d2")))
      // leaving out d must not read the view
      val fe = t("f").join(t("e"), col("f_e") === col("e_id")).select("f_id", "e_name")
      assert(joinsIn(fe) == 1, s"non-droppable d dropped:\n${fe.queryExecution.optimizedPlan}")
      assert(fe.as[(Long, String)].collect().toSet ==
        Set((1L, "e1"), (2L, "e1"), (3L, "e2")))
    } finally MatView.drop(spark, "fde")
  }

  test("unrelated queries are untouched") {
    val out = java.nio.file.Files.createTempDirectory("mv2").toString
    MatView.materialize(spark, "cust_nation2", custNation, out)
    try {
      val other = Tables.t(spark, sf, "supplier")
        .join(Tables.t(spark, sf, "nation"), col("s_nationkey") === col("n_nationkey"))
      val physical = other.queryExecution.executedPlan.toString
      assert(!physical.contains(out.split("/").last))
    } finally MatView.drop(spark, "cust_nation2")
  }
}
