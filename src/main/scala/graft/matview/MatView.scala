package graft.matview

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EqualTo, Expression, If, IsNotNull, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Materialized views, and the one place that decides whether a query
  * reads one (SURVEY §2.3 J5 / §2.10 M3).
  *
  * The reference maintains `create join` results at INSERT time so that
  * later SELECTs read pre-joined rows (server.py:806-894, README.md:29-64).
  * Here that splits into:
  *
  *  1. materialize: write the join once (batch) or incrementally
  *     (graft.streaming.Streams.maintainJoin) to parquet;
  *  2. route: a Catalyst optimizer `Rule` that replaces a join a
  *     registered view answers with a scan of the materialized parquet.
  *     DataFrame, Spark SQL and HashQL dialect queries all plan through
  *     it; the dialect has no router of its own.
  *
  * The rule runs with `spark.experimental.extraOptimizations`, i.e. AFTER
  * pushdown and column pruning have reshaped the query, so matching is
  * structural ([[flatten]]): a join subtree qualifies when its leaf
  * relations are the view's (or a subset whose missing leaves are
  * row-preserving) and its attr = attr key pairs are the view's among
  * those leaves. Every other conjunct under the subtree (a pushed-down
  * WHERE, condition residue) is re-applied by name over the scan. Leaves
  * are compared as canonicalized plans, so two scans of different files
  * never match. The substitute is wrapped in a by-name Project aliased to
  * the join's expression ids, so pruned queries and parents keep
  * resolving. Limitation (by construction of CREATE JOIN views): column
  * names across the joined tables must be distinct.
  */
object MatView {

  /** A join tree's identity: its leaf relations (canonicalized plans, which
    * include the files a scan reads) and its key pairs by column name. */
  private final case class Key(leaves: Set[LogicalPlan], cond: Set[(String, String)])
  private sealed trait ViewEntry { def name: String; def replacement: LogicalPlan }
  /** `owner` maps each of the view's column names to its leaf; a query may
    * leave out the `droppable` leaves (see [[rowPreserving]]). */
  private final case class JoinEntry(name: String, key: Key,
                                     owner: Map[String, LogicalPlan],
                                     droppable: Set[LogicalPlan],
                                     replacement: LogicalPlan) extends ViewEntry
  /** `canonical` drives the verbatim exact-match route; the containment
    * route uses `childKey` (the view child's [[flatten]] key — None when
    * the child isn't a plain relation/join chain, disabling containment)
    * plus name-keyed maps from the view's output expressions ([[sqlKey]])
    * to the summary parquet's columns. */
  private final case class AggEntry(name: String, canonical: LogicalPlan,
                                    replacement: LogicalPlan,
                                    childKey: Option[Key],
                                    groupMap: Map[String, Attribute],
                                    aggMap: Map[String, Attribute]) extends ViewEntry

  // ONE registry for both view kinds. Lifetime note: an entry's replacement
  // plan (a parquet LogicalRelation) strongly references its SparkSession,
  // so a session with live registrations is pinned until `drop` — the
  // WeakHashMap only reclaims sessions whose registries emptied. Sessions
  // here are process-long; call drop() when a view is retired.
  private val registries =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.ListBuffer[ViewEntry]]()

  private def registry(spark: SparkSession): scala.collection.mutable.ListBuffer[ViewEntry] =
    registries.synchronized {
      var r = registries.get(spark)
      if (r == null) { r = scala.collection.mutable.ListBuffer.empty; registries.put(spark, r) }
      r
    }

  /** All reads take an immutable snapshot under the buffer's own lock;
    * mutations hold the same lock — a concurrent materialize/drop during
    * query optimization can never tear an iteration. */
  private def snapshot(spark: SparkSession): List[ViewEntry] = {
    val r = registry(spark)
    r.synchronized(r.toList)
  }
  private def mutate(spark: SparkSession)(f: scala.collection.mutable.ListBuffer[ViewEntry] => Unit): Unit = {
    val r = registry(spark)
    r.synchronized(f(r))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** A flattened join tree: its [[Key]] parts plus every other conjunct
    * found under it. */
  private final case class Flat(leaves: Seq[LogicalPlan], cond: Set[(String, String)],
                                preds: Seq[Expression]) {
    def key: Key = Key(leaves.toSet, cond)
  }

  /** Flatten an inner-equi-join TREE (n-way, any shape — the reference's own
    * `create join` smoke is 3-way, example.py:151-238) into its leaves, its
    * attr = attr key pairs, and every other conjunct under it: Filters at
    * any depth (by the time the rule runs, a WHERE has been pushed onto the
    * leaf scans) and condition residue (a cross-side predicate, or the
    * dialect's missing-field `atleastnnonnulls`, folded into a join
    * condition by pushdown). Only attribute-list Projects, the shape column
    * pruning inserts, are transparent: a Project that COMPUTES anything, or
    * any other operator, means None (substituting through e.g.
    * `upper(n_name).as("n_name")` would drop the computation).
    *
    * IsNotNull over the tree's OWN key columns is dropped, since its inner
    * joins imply it; any other IsNotNull is a real predicate and stays. The
    * caller re-applies the predicates by name over another scan, so a
    * nondeterministic one, or one holding a subquery, means None. */
  private def flatten(plan: LogicalPlan): Option[Flat] = {
    def go(p: LogicalPlan): Option[Flat] = p match {
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) => go(child)
      case f: Filter => go(f.child).map(c => c.copy(preds = c.preds ++ conjuncts(f.condition)))
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        val (eqs, rest) = condSplit(j)
        for (l <- go(j.left); r <- go(j.right))
          yield Flat(l.leaves ++ r.leaves, l.cond ++ r.cond ++ eqs, l.preds ++ r.preds ++ rest)
      case leaf if leaf.children.isEmpty => Some(Flat(Seq(leaf.canonicalized), Set.empty, Nil))
      case _ => None
    }
    go(plan).map { f =>
      val keyCols = f.cond.flatMap { case (a, b) => Seq(a, b) }
      f.copy(preds = f.preds.filterNot {
        case IsNotNull(a: AttributeReference) => keyCols(a.name)
        case _ => false
      })
    }.filter(_.preds.forall(p => p.deterministic && !SubqueryExpression.hasSubquery(p)))
  }

  /** Split a join condition into its attr=attr equi-conjuncts (the view
    * identity) and everything else. */
  private def condSplit(j: Join): (Set[(String, String)], Seq[Expression]) = {
    val cs = j.condition.toSeq.flatMap(conjuncts)
    val eqs = cs.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (a.name <= b.name) (a.name, b.name) else (b.name, a.name)
    }.toSet
    val rest = cs.filter {
      case EqualTo(_: AttributeReference, _: AttributeReference) => false
      case _ => true
    }
    (eqs, rest)
  }

  /** A join view answers the flattened query `q` when q's leaves are the
    * view's leaves, or a subset whose missing leaves are all droppable,
    * and the view's key pairs among q's leaves are exactly q's. */
  private def answers(e: JoinEntry, q: Flat): Boolean = {
    val leaves = q.leaves.toSet
    leaves.size == q.leaves.size && leaves.subsetOf(e.key.leaves) &&
      (e.key.leaves -- leaves).subsetOf(e.droppable) &&
      e.key.cond.filter { case (a, b) => leaves(e.owner(a)) && leaves(e.owner(b)) } == q.cond
  }

  /** By-NAME substitution (join views): every column the possibly-pruned
    * join still outputs, and every column `preds` read, must exist in the
    * materialized parquet. `preds` are re-applied over the scan; parents
    * keep resolving because the aliases reuse the original expression ids.
    * Name-keyed is right here because CREATE JOIN views require distinct
    * column names across the joined tables. */
  private def substituteByName(orig: LogicalPlan, preds: Seq[Expression],
                               replacement: LogicalPlan): Option[LogicalPlan] = {
    val byName = replacement.output.map(a => a.name -> a).toMap
    if (!(orig.output ++ preds.flatMap(_.references)).forall(a => byName.contains(a.name))) None
    else {
      val source = preds.map(_.transform { case a: AttributeReference => byName(a.name) })
        .reduceOption(And).fold(replacement)(Filter(_, replacement))
      Some(Project(orig.output.map(o =>
        Alias(byName(o.name), o.name)(exprId = o.exprId)), source))
    }
  }

  /** POSITIONAL substitution (aggregate views): plan canonicalization
    * erases alias names, so a canonical match fixes the output LIST —
    * position i of the query computes exactly what position i of the view
    * computed — while names may differ or even be PERMUTED between query
    * and view. Mapping by name would silently wire a permuted query's
    * outputs to the wrong summary columns; positional mapping is correct
    * by construction and also lets re-aliased repeats route (they keep
    * their own names via the Alias wrappers). */
  private def substitutePositional(orig: LogicalPlan, replacement: LogicalPlan): Option[LogicalPlan] =
    if (orig.output.length == replacement.output.length)
      Some(Project(orig.output.zip(replacement.output).map { case (o, r) =>
        Alias(r, o.name)(exprId = o.exprId)
      }, replacement))
    else None

  /** Name-based identity for view-output expressions under the CREATE
    * JOIN distinct-column-names assumption: `.sql` renders attributes by
    * name (exprIds — which differ across analysis runs — are excluded),
    * so `sum(c_acctbal)` from the view registration and from a later
    * query compare equal. Positional/exprId identity can't work here
    * because containment queries are pruned DIFFERENTLY from the view. */
  private def sqlKey(e: Expression): String = {
    // strip attribute qualifiers first: a query through a temp view
    // renders `view.n_name` where DataFrame registration rendered
    // `n_name` — same column, and view column names are distinct by
    // contract, so the qualifier carries no identity here
    val stripped = e.transform {
      case a: AttributeReference if a.qualifier.nonEmpty =>
        a.withQualifier(Seq.empty)
    }
    stripped.sql.toLowerCase(java.util.Locale.ROOT)
  }

  /** True when `e` contains ANY aggregate call. Outputs containing one
    * that is not a plain unfiltered non-distinct Count/Sum/Min/Max/Avg
    * (countDistinct, sum(x)/100, filtered aggs …) are neither grouping
    * keys nor re-aggregable — they must register NOWHERE, so containment
    * queries touching them fall back to fact rows instead of binding a
    * summary column outside an aggregate (an invalid plan). */
  private def containsAgg(e: Expression): Boolean =
    e.exists(_.isInstanceOf[AggregateExpression])

  /** CONTAINMENT routing (the rollup-serving path): a query grouping by a
    * SUBSET of a summary's keys — any subset, including the global empty
    * set — answers by RE-aggregating the summary when every output is
    * derivable: count→sum of stored counts, sum/min/max→same function
    * over the stored column, and avg(x)→Σsum(x)/Σcount(x) when the
    * summary stores both (count(1) suffices for a non-nullable x).
    * distinct/filtered aggregates and avg without its matching count
    * fall back to fact rows; their verbatim repeats still route via the
    * exact-match path.
    * Child identity is [[flatten]]'s key, which absorbs the pruning
    * Projects that make coarser queries structurally different from the
    * view. */
  private def substituteCoarse(a: Aggregate, e: AggEntry): Option[LogicalPlan] = {
    val flat = flatten(a.child)
    if (e.childKey.isEmpty || !flat.exists(f => e.childKey.contains(f.key))) return None
    val preds = flat.get.preds
    // FILTER containment: a deterministic predicate referencing only the
    // summary's GROUPING KEYS selects whole groups — filtering the
    // summary's rows on the rewritten predicate keeps exactly the fact
    // rows the original filter kept (the summary has one row per distinct
    // key combination). Each conjunct rewrites by substituting every
    // subexpression matching a grouping-key sqlKey with the summary
    // column; any residual fact-side reference (a non-key column) or
    // nondeterminism abandons the route → facts.
    val rewrittenPreds = preds.map { p =>
      val out = p.transformUp {
        case ex if e.groupMap.contains(sqlKey(ex)) => e.groupMap(sqlKey(ex))
      }
      if (out.deterministic &&
          out.references.subsetOf(AttributeSet(e.replacement.output))) Some(out)
      else None
    }
    if (rewrittenPreds.exists(_.isEmpty)) return None
    val source: LogicalPlan =
      if (rewrittenPreds.isEmpty) e.replacement
      else Filter(rewrittenPreds.map(_.get).reduce(And), e.replacement)
    val newGrouping = a.groupingExpressions.map(g => e.groupMap.get(sqlKey(g)))
    if (newGrouping.exists(_.isEmpty)) return None
    val newList = a.aggregateExpressions.map { ne =>
      val u = ne match { case al: Alias => al.child; case x => x }
      val rewritten: Option[Expression] = u match {
        case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
          ae.aggregateFunction match {
            // avg DECOMPOSES when the summary stores both sum(x) and the
            // NON-NULL count of the same column (count(1) suffices for a
            // non-nullable x): avg = Σ sums / Σ counts, null when the
            // count sums to 0 (an all-null group — matches avg's null).
            // Restricted to double avg (decimal re-division drifts scale).
            case av: Average if ae.dataType == DoubleType =>
              val argKey = sqlKey(av.child)
              for {
                sAttr <- e.aggMap.get(s"sum($argKey)")
                cAttr <- e.aggMap.get(s"count($argKey)").orElse(
                  if (!av.child.nullable) e.aggMap.get("count(1)") else None)
              } yield {
                val num = Sum(sAttr).toAggregateExpression()
                val den = Sum(cAttr).toAggregateExpression()
                If(EqualTo(den, Literal(0L)),
                  Literal(null, DoubleType),
                  Divide(Cast(num, DoubleType), Cast(den, DoubleType)))
              }
            case fn => e.aggMap.get(sqlKey(fn)).flatMap { attr =>
              fn match {
                case _: Count =>
                  // count over count-column sums; coalesce keeps count's
                  // non-null contract (summary rows exist ⇒ never hit, but
                  // the type system shouldn't loosen nullability)
                  Some(Coalesce(Seq(Sum(attr).toAggregateExpression(), Literal(0L))))
                case _: Sum =>
                  val r = Sum(attr).toAggregateExpression()
                  // decimal sums widen precision on re-aggregation — routing
                  // would change the output type; serve those from facts
                  if (r.dataType == ae.dataType) Some(r) else None
                case _: Min => Some(Min(attr).toAggregateExpression())
                case _: Max => Some(Max(attr).toAggregateExpression())
                case _ => None
              }
            }
          }
        // distinct/filtered/composite aggregate outputs never match here:
        // registration excludes anything containing an aggregate from
        // groupMap, and this guard keeps a query-side composite (e.g.
        // sum(x)/100) from being treated as a grouping column
        case other if !containsAgg(other) => e.groupMap.get(sqlKey(other))
        case _ => None
      }
      rewritten.map(r => Alias(r, ne.name)(exprId = ne.exprId))
    }
    if (newList.exists(_.isEmpty)) None
    else Some(Aggregate(newGrouping.map(_.get), newList.map(_.get), source))
  }

  private final class Rewrite(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val entries = snapshot(spark)
      val aggs = entries.collect { case e: AggEntry => e }
      // the narrowest view first: an exact match scans fewer columns than a
      // wider view the query is a subset of
      val joins = entries.collect { case e: JoinEntry => e }.sortBy(_.key.leaves.size)
      // top-down: the largest subtree a view answers is replaced whole, and
      // a summary gets the first chance at an aggregate over a joined view
      if (entries.isEmpty) plan
      else plan.transformDown {
        // pre-aggregated summaries: the CANONICALIZED whole-aggregate
        // match first (zero re-aggregation — a verbatim dashboard repeat
        // reads the summary scan directly, whatever it renamed outputs
        // to), then the containment route (subset group-by re-aggregates
        // the summary — still zero fact rows).
        case a: Aggregate =>
          aggs.find(_.canonical == a.canonicalized)
            .flatMap(e => substitutePositional(a, e.replacement))
            .orElse(aggs.iterator.map(substituteCoarse(a, _))
              .collectFirst { case Some(p) => p })
            .getOrElse(a)
        case j: Join if joins.nonEmpty && j.joinType == Inner && j.condition.isDefined =>
          flatten(j).flatMap(q => joins.iterator.filter(answers(_, q))
            .flatMap(e => substituteByName(j, q.preds, e.replacement)).nextOption())
            .getOrElse(j)
      }
    }
  }

  /** Materialize `view` (an inner equi-join of plain relations — 2-way or
    * n-way, any tree shape) to `path` and install the routing rule: from
    * now on a query in this session that joins the same relations on the
    * same keys, filtered or not, reads the parquet instead, and so does a
    * query over a subset of the relations when the ones it leaves out are
    * row-preserving ([[rowPreserving]]). The rule only sees plans, so a
    * caller that changes a base table's files in place must [[drop]] the
    * view (HashQL's DML hooks do). Call again to refresh. */
  def materialize(spark: SparkSession, name: String, view: DataFrame, path: String): Unit = {
    // refresh contract: drop the old registration FIRST — with it live,
    // the installed rule would route the view's own plan (and the
    // materializing write) to the STALE parquet: the key extraction below
    // would then see a scan instead of a join and throw.
    drop(spark, name)
    // collectFirst visits pre-order, so the first Join is the topmost —
    // flatten takes the whole tree under it
    val top = view.queryExecution.optimizedPlan.collectFirst { case j: Join => j }
    val flat = top.flatMap(flatten).filter(_.preds.isEmpty).getOrElse(
      throw new IllegalArgumentException(
        "materialize expects an inner equi-join (chain) of plain relations"))
    val leaves = top.get.collectLeaves()
    val owner = leaves.flatMap(l => l.output.map(_.name -> l)).toMap
    val droppable = rowPreserving(spark, leaves, owner, flat.cond)
    view.write.mode("overwrite").parquet(path)
    val replacement = spark.read.parquet(path).queryExecution.analyzed
    mutate(spark)(_ += JoinEntry(name, flat.key, owner.view.mapValues(_.canonicalized).toMap,
      droppable, replacement))
    installRule(spark)
  }

  /** The leaves a query may leave out of the view (canonicalized): a leaf
    * whose key pairs all go to ONE partner leaf, whose own side of them is
    * unique, and which every partner row matches (no NULL or dangling
    * partner key). Such a leaf attaches to each row of the rest exactly
    * once, so dropping it neither filters nor repeats their rows — the
    * FK-to-PK lookup shape. One aggregate per candidate, plus one anti
    * join when its key is unique. A view needs three leaves for a drop to
    * leave a join behind, and distinct column names to tell leaves apart. */
  private def rowPreserving(spark: SparkSession, leaves: Seq[LogicalPlan],
                            owner: Map[String, LogicalPlan],
                            cond: Set[(String, String)]): Set[LogicalPlan] = {
    if (leaves.size < 3 || owner.size != leaves.map(_.output.size).sum) return Set.empty
    leaves.filter { l =>
      // (l's column, partner's column) per key pair touching l
      val pairs = cond.toSeq.collect {
        case (a, b) if owner(a) eq l => (a, b)
        case (a, b) if owner(b) eq l => (b, a)
      }
      val partners = pairs.map(p => owner(p._2)).distinct
      partners.size == 1 && {
        val mine = GraftBridge.frame(spark, l)
        val other = GraftBridge.frame(spark, partners.head)
        mine.groupBy(pairs.map(p => col(p._1)): _*).count()
          .filter(col("count") > 1).isEmpty &&
          other.join(mine, pairs.map { case (m, o) => other(o) === mine(m) }.reduce(_ && _),
            "left_anti").isEmpty
      }
    }.map(_.canonicalized).toSet
  }

  private def installRule(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[Rewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new Rewrite(spark)

  /** Materialize an AGGREGATE view (a group-by over a relation or join
    * chain) and route matching aggregations to the summary parquet — the
    * rollup-serving path the join rule can't cover. Two routes:
    *
    *  1. EXACT (canonicalized whole-plan): same grouping, same aggregates,
    *     same child — the verbatim-repeat workload dashboards generate.
    *     Output aliases may differ (canonicalization erases names;
    *     substitution is POSITIONAL, so a re-aliased or alias-permuted
    *     repeat routes and keeps its own names over the right columns).
    *  2. CONTAINMENT ([[substituteCoarse]]): a group-by over a SUBSET of
    *     the summary's keys (including the global aggregate) whose every
    *     output re-aggregates from stored columns — count→sum of counts,
    *     sum/min/max→same, avg→Σsum/Σcount when both are stored —
    *     answers by re-aggregating the summary, zero fact rows. A WHERE
    *     over the summary's GROUPING KEYS (equality, comparisons, any
    *     deterministic predicate — `GROUP BY n_name WHERE r_name =
    *     'EUROPE'`) also routes: key predicates select whole groups, so
    *     the summary is filtered before re-aggregating — still zero fact
    *     rows. distinct / filtered aggregates, avg without its matching
    *     count, decimal sums, and predicates touching NON-key columns
    *     recompute from facts (only their verbatim repeats route).
    *
    * The rule visits an Aggregate before its child join, so a summary
    * over base tables keeps routing when a join view over the same tables
    * is registered too. */
  def materializeAggregate(spark: SparkSession, name: String, view: DataFrame,
                           path: String): Unit =
    registerAggregateImpl(spark, name, view, path, writeSummary = true)

  /** Register routing for `view` against an EXISTING summary parquet at
    * `path` WITHOUT recomputing it — the delete-delta path: the summary
    * was just folded in place, but exact-match routing keys on the
    * canonical FACT plan, which copy-on-write DML just changed, so the
    * entry must re-register against the post-mutation definition frame.
    * The caller owns the invariant that the parquet really is the
    * summary of `view` (the fold equivalence is spec-tested). */
  def registerAggregate(spark: SparkSession, name: String, view: DataFrame,
                        path: String): Unit =
    registerAggregateImpl(spark, name, view, path, writeSummary = false)

  private def registerAggregateImpl(spark: SparkSession, name: String,
                                    view: DataFrame, path: String,
                                    writeSummary: Boolean): Unit = {
    // same refresh-ordering contract as materialize: unregister before
    // planning or writing, so the stale route can't capture either
    drop(spark, name)
    val plan = view.queryExecution.optimizedPlan
    // the ROOT must be the Aggregate: the rule only compares Aggregate
    // nodes against the stored canonical, so registering e.g. a
    // Filter-over-aggregate would be a dead entry that never routes
    require(plan.isInstanceOf[Aggregate],
      s"materializeAggregate expects the view's optimized plan to BE an " +
        s"Aggregate (a bare groupBy().agg()), got ${plan.nodeName}")
    val agg = plan.asInstanceOf[Aggregate]
    if (writeSummary) view.write.mode("overwrite").parquet(path)
    val replacement = spark.read.parquet(path).queryExecution.analyzed
    // containment metadata: the child's structural identity plus
    // name-keyed output→summary-column maps (positional zip: replacement
    // column i stores view output i)
    val group = Map.newBuilder[String, Attribute]
    val aggs = Map.newBuilder[String, Attribute]
    val seenKeys = scala.collection.mutable.Set.empty[String]
    var keysCollide = false
    agg.aggregateExpressions.zip(replacement.output).foreach { case (ne, attr) =>
      val inner = ne match { case al: Alias => al.child; case x => x }
      // sqlKey is NAME-based: two outputs whose .sql strings render
      // identically (e.g. same-named attributes from different join sides,
      // qualifiers erased) would overwrite each other last-wins and a
      // coarser query could silently re-aggregate the WRONG column. Any
      // collision disables containment for this entry entirely (childKey
      // = None below); the exact-match route is canonical-plan-keyed and
      // stays safe.
      if (!seenKeys.add(sqlKey(inner))) keysCollide = true
      inner match {
        case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
          aggs += sqlKey(ae.aggregateFunction) -> attr
        // distinct/filtered/composite aggregate outputs register in
        // NEITHER map — they are not grouping keys (treating one as a
        // group column would bind the summary attribute outside an
        // aggregate: invalid plan, or silently wrong reuse of
        // per-fine-group distinct counts) and not re-aggregable
        case other if !containsAgg(other) => group += sqlKey(other) -> attr
        case _ => ()
      }
    }
    // sqlKey strips attribute qualifiers (so temp-view and DataFrame
    // registrations render the same key) — sound ONLY while a bare name
    // denotes one attribute across the view's join: if any column name
    // appears in TWO child leaves, a query grouping on the OTHER side's
    // same-named column would strip to an identical key and silently
    // route to this side's summary column. Disable containment for such
    // views (exact-match routing is canonical-plan-keyed, qualifier-free
    // by construction, and stays on). Checked on the ANALYZED plan:
    // column pruning in the optimized child can remove the very
    // same-named column a differently-pruned query still groups on.
    val leafNames = view.queryExecution.analyzed.collectLeaves()
      .flatMap(_.output.map(_.name.toLowerCase(java.util.Locale.ROOT)))
    val nameAmbiguous = leafNames.size != leafNames.distinct.size
    val childKey =
      if (keysCollide || nameAmbiguous) None
      // a view child carrying any predicate has semantics the key cannot
      // encode — disable containment for it rather than over-match
      else flatten(agg.child).filter(_.preds.isEmpty).map(_.key)
    mutate(spark)(_ += AggEntry(name, plan.canonicalized, replacement,
      childKey, group.result(), aggs.result()))
    installRule(spark)
  }

  /** Refresh a registered AGGREGATE view's stored summary IN PLACE from an
    * already-computed frame — the read side of incremental maintenance
    * (`graft.streaming.Streams.maintainAggregate` streams per-batch
    * partials; `foldAggregate` folds them into the current summary; this
    * lands the fold under the routed path without ever recomputing from
    * facts). The routing metadata (canonical plan, containment key,
    * output maps) is KEPT — only the replacement scan and its attribute
    * references change — so exact-match and containment queries keep
    * routing, now over the fresh rows.
    *
    * `summary` must carry the registered summary's exact column names in
    * the same order (the fold does, by construction); the write is
    * crash-safe via [[graft.sources.Sources.swapDir]] (the old scan reads
    * `path` while the new contents land in the swap tmp). */
  def refreshAggregate(spark: SparkSession, name: String, path: String,
                       summary: DataFrame): Unit = {
    val e = snapshot(spark).collectFirst {
      case e: AggEntry if e.name == name => e
    }.getOrElse(throw new IllegalArgumentException(
      s"no registered aggregate view: $name"))
    val expected = e.replacement.output.map(_.name)
    require(summary.columns.toSeq == expected,
      s"refresh summary columns ${summary.columns.toSeq} != registered $expected")
    graft.sources.Sources.swapDir(spark, path) { tmp =>
      summary.write.mode("overwrite").parquet(tmp)
    }
    val replacement = spark.read.parquet(path).queryExecution.analyzed
    // groupMap/aggMap hold the OLD scan's attributes — remap by name onto
    // the fresh scan (names are unique: registration disabled containment
    // on any collision, and exact-match substitution is positional)
    val byName = replacement.output.map(a => a.name -> a).toMap
    val refreshed = e.copy(replacement = replacement,
      groupMap = e.groupMap.view.mapValues(a => byName(a.name)).toMap,
      aggMap = e.aggMap.view.mapValues(a => byName(a.name)).toMap)
    mutate(spark) { r =>
      val i = r.indexWhere(_.name == name)
      r(i) = refreshed
    }
  }

  /** Drop a view's routing (the parquet stays on disk). */
  def drop(spark: SparkSession, name: String): Unit =
    mutate(spark)(_.filterInPlace(_.name != name))
}
