package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mutable session catalog with the reference's dynamic-schema semantics
  * (SURVEY §1.3, §2.10): tables exist because an INSERT mentioned them, a
  * table's columns are the union of every insert's fields
  * (/root/reference/server.py:718-723), each insert synthesizes a monotonic
  * `id` (server.py:725-728,757-771), and values are `Long` when the literal
  * is numeric else `String` (server.py:477-478,500-502).
  *
  * Row-at-a-time writes union small DataFrames — matching the reference's
  * per-request ingest. Bulk ingest (`register`) is the scale path: any
  * DataFrame becomes a table, and appends to parquet-backed tables stay
  * appends. UPDATE/DELETE are copy-on-write plan rewrites; at 100 TB those
  * rewrite only affected partitions of a partitioned table.
  */
final class GraftCatalog(val spark: SparkSession) {

  private var tables = Map.empty[String, DataFrame]
  private var counters = Map.empty[String, Long]
  // version log: history(name)(v-1) = the table AS OF version v (1-based).
  // Entries are lazy PLANS (cheap to hold), but each pins its lineage —
  // long-lived sessions should compact() on a cadence, which snapshots
  // the CURRENT version to parquet and frees its lineage while older
  // versions keep theirs (the Delta-style time-travel trade, in-session).
  private var history = Map.empty[String, Vector[DataFrame]]

  private def commit(name: String, df: DataFrame): Unit = {
    // every write path lands here — a view name can never silently
    // become (or shadow) a table
    require(!views.contains(name),
      s"$name is a view — views are read-only (DROP VIEW first)")
    history += name -> (history.getOrElse(name, Vector.empty) :+ df)
    tables += name -> df
  }

  /** Number of committed versions of `name` (0 = never written). Every
    * register/insert/update/delete commits one; compact() swaps the
    * current version's plan for the parquet scan without adding one
    * (contents identical). */
  def versionOf(name: String): Int = history.getOrElse(name, Vector.empty).length

  /** TIME TRAVEL (growth — Delta/Iceberg `VERSION AS OF`, in-session):
    * the table exactly as of version `v` (1-based;
    * `v == versionOf(name)` reads the current state). Every version is a
    * lazy plan over the same immutable base data, so reads are as
    * distributed as the current table's. */
  def tableAsOf(name: String, v: Int): DataFrame = {
    val h = history.getOrElse(name,
      throw new IllegalArgumentException(s"no such table: $name"))
    require(v >= 1 && v <= h.length,
      s"version $v out of range 1..${h.length} for $name")
    h(v - 1)
  }

  def register(name: String, df: DataFrame): Unit = commit(name, df)

  /** ALTER TABLE … RENAME TO (round-15): move the registration, its
    * version history and id counter under the new name. Metadata-only;
    * plans already built against the old frame stay valid (they pinned
    * their lineage), like drop(). */
  def rename(from: String, to: String): Unit = {
    require(tables.contains(from), s"no such table: $from")
    require(!tables.contains(to) && !views.contains(to),
      s"$to already exists — drop it first or pick another name")
    tables += to -> tables(from); tables -= from
    history += to -> history.getOrElse(from, Vector.empty); history -= from
    counters.get(from).foreach { c => counters += to -> c }
    counters -= from
  }

  /** DROP TABLE (round-13): remove the registration, its version
    * history, and its id counter. Metadata-only — plans other frames
    * captured stay valid (they pinned their lineage at build time), and
    * backing parquet is untouched. */
  def drop(name: String): Unit = {
    require(tables.contains(name), s"no such table: $name")
    tables -= name
    history -= name
    counters -= name
  }

  /** Statement-scoped name bindings (CTEs): while `f` runs, `table`
    * resolves these names FIRST — a CTE shadows a same-named catalog
    * table, standard SQL scoping. Restored on exit (also on throw), and
    * safe to nest; the frames a query builds inside the scope are plans
    * that captured their inputs at build time, so they stay valid after
    * the scope pops. */
  def withScope[T](bindings: Map[String, DataFrame])(f: => T): T = {
    val saved = scope
    scope = scope ++ bindings
    try f finally scope = saved
  }
  private var scope = Map.empty[String, DataFrame]

  /** Is `name` currently shadowed by a statement-scoped binding? Read
    * paths that key on table NAMES (materialized-join routing) must
    * check this: a routed pre-joined view of the BASE table is not an
    * answer for a query over its CTE shadow. */
  def isShadowed(name: String): Boolean = scope.contains(name)

  // views currently being resolved — CREATE rejects direct
  // self-reference, but OR REPLACE can close an indirect cycle
  // (a reads b, then b is replaced to read a); catch it here
  private var resolvingViews = Set.empty[String]

  def table(name: String): DataFrame =
    // resolution order: CTE scope shadows everything (standard SQL),
    // then real tables, then logical views (re-planned per read)
    scope.getOrElse(name, tables.getOrElse(name,
      views.get(name).map { thunk =>
        require(!resolvingViews.contains(name),
          s"view cycle detected through $name — re-create one of the " +
            "views without the back-reference")
        resolvingViews += name
        try thunk() finally resolvingViews -= name
      }.getOrElse(
        throw new IllegalArgumentException(s"no such table: $name"))))

  def exists(name: String): Boolean = tables.contains(name)

  // ── logical views (round-15: CREATE [OR REPLACE] VIEW) ──
  // name → a THUNK that re-plans the body on every read, so view reads
  // always reflect the CURRENT table versions (a captured DataFrame
  // would pin the commit it was built against — CTAS semantics, not a
  // view's). Cycles are rejected at CREATE (self-reference check in the
  // dialect), so thunk evaluation terminates.
  private var views = Map.empty[String, () => DataFrame]
  def registerView(name: String, plan: () => DataFrame,
                   orReplace: Boolean): Unit = {
    require(!tables.contains(name),
      s"$name is a table — drop it first or pick another name")
    require(orReplace || !views.contains(name),
      s"view $name exists — use CREATE OR REPLACE VIEW")
    views += name -> plan
  }
  def isView(name: String): Boolean = views.contains(name)
  def dropView(name: String, ifExists: Boolean): Unit = {
    require(ifExists || views.contains(name), s"no such view: $name")
    views -= name
  }
  def names: Seq[String] = tables.keys.toSeq.sorted

  /** M1 INSERT: dynamic-schema append with synthesized id. Returns the
    * appended one-row frame (a LocalRelation over the literals) — the
    * O(delta) feed for incremental view maintenance. The caller already
    * holds these values as literals; deriving them back by anti-joining
    * the full post-insert table would turn a 1-row INSERT into a
    * table-sized shuffle at 100 TB. */
  def insert(name: String, values: Seq[(String, Any)]): DataFrame = {
    val id = counters.getOrElse(name, 0L) + 1
    counters += name -> id
    val fields = ("id" -> (id: Any)) +: values
    // store assignment: an integer literal that fits an existing INT
    // column goes in as INT, so an INSERT never widens a loaded INT column
    // to BIGINT (a widened join key joins through a cast, which join-view
    // materialization rejects)
    val colTypes = tables.get(name).fold(Map.empty[String, DataType])(
      _.schema.fields.map(f => f.name -> f.dataType).toMap)
    val typed = fields.map { case (f, v0) =>
      val v = v0 match { case i: Int => i.toLong; case o => o }
      (v, colTypes.get(f)) match {
        case (n: Long, Some(IntegerType)) if n.isValidInt => StructField(f, IntegerType) -> n.toInt
        case _ => StructField(f, v match {
          case _: Long => LongType
          // decimal literals coerce to Double in the dialect (F2)
          case _: Double => DoubleType
          // typed temporal literals (round 11): `timestamp '…'`/`date '…'`
          // insert as native temporal columns
          case _: java.sql.Timestamp => TimestampType
          case _: java.sql.Date => DateType
          case _ => StringType
        }) -> v
      }
    }
    val rowDf = spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(typed.map(_._2))),
      StructType(typed.map(_._1)))
    commit(name, tables.get(name) match {
      case Some(existing) => existing.unionByName(rowDf, allowMissingColumns = true)
      case None => rowDf
    })
    rowDf
  }

  /** M1 growth (round-12): INSERT … SELECT — bulk append of a query's
    * rows. The delta materializes ONCE (localCheckpoint) so the
    * synthesized ids are STABLE across re-evaluations (a lazy plan would
    * re-assign them nondeterministically per read); ids continue the
    * table's monotonic counter via zipWithIndex — one extra pass over
    * the DELTA only, never the table. Appends conform by schema union
    * like every dialect insert. Returns the id-stamped delta — the
    * O(delta) feed for incremental view maintenance. */
  def insertSelect(name: String, rows: DataFrame): DataFrame = {
    require(!rows.columns.contains("id"),
      "INSERT … SELECT: the dialect synthesizes id — don't project one")
    val base = counters.getOrElse(name, 0L)
    val pinned = rows.localCheckpoint()
    val schema0 = pinned.schema
    val rdd = pinned.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq((base + 1 + i) +: r.toSeq) }
    val withId = spark.createDataFrame(rdd,
      StructType(StructField("id", LongType) +: schema0.fields))
      .localCheckpoint()
    counters += name -> (base + withId.count())
    commit(name, tables.get(name) match {
      case Some(existing) => existing.unionByName(withId, allowMissingColumns = true)
      case None => withId
    })
    withId
  }

  /** MERGE's single copy-on-write commit (round-14): the updated target
    * plan plus the not-matched insert rows, appended with synthesized
    * monotonic ids when the table carries the dialect id column (the
    * [[insertSelect]] zipWithIndex pattern — one pass over the DELTA
    * only, pinned so ids stay stable across re-reads). ONE commit for
    * the whole statement. Returns the id-stamped insert delta — the
    * O(delta) feed for incremental view maintenance. */
  def mergeCommit(name: String, updated: DataFrame,
                  inserts: Option[DataFrame]): Option[DataFrame] =
    inserts match {
      case None => commit(name, updated); None
      case Some(rows) =>
        val delta =
          if (table(name).columns.contains("id")) {
            require(!rows.columns.contains("id"),
              "MERGE inserts synthesize id — don't project one")
            val base = counters.getOrElse(name, 0L)
            val pinned = rows.localCheckpoint()
            val rdd = pinned.rdd.zipWithIndex().map { case (r, i) =>
              Row.fromSeq((base + 1 + i) +: r.toSeq) }
            val withId = spark.createDataFrame(rdd,
              StructType(StructField("id", LongType) +: pinned.schema.fields))
              .localCheckpoint()
            counters += name -> (base + withId.count())
            withId
          } else rows
        commit(name, updated.unionByName(delta, allowMissingColumns = true))
        Some(delta)
    }

  /** M2 UPDATE … SET … WHERE (copy-on-write `when` projection). */
  def update(name: String, setField: String, setValue: Any,
             where: org.apache.spark.sql.Column): Unit = {
    val df = table(name)
    val v = setValue match { case i: Int => lit(i.toLong); case x => lit(x) }
    commit(name, df.withColumn(setField,
      when(where, v).otherwise(if (df.columns.contains(setField)) col(setField)
      else lit(null))))
  }

  /** [[update]] with a computed right-hand side (`set t.a = t.b + 1` —
    * dialect growth): same copy-on-write `when` projection, the value a
    * Column over the row. */
  def updateExpr(name: String, setField: String, value: org.apache.spark.sql.Column,
                 where: org.apache.spark.sql.Column): Unit = {
    val df = table(name)
    commit(name, df.withColumn(setField,
      when(where, value).otherwise(if (df.columns.contains(setField)) col(setField)
      else lit(null))))
  }

  /** Multi-assignment [[updateExpr]] (round 11): every right-hand side
    * evaluates against the BEFORE image SIMULTANEOUSLY (SQL UPDATE
    * semantics — `set a = b, b = a` swaps), lowered as ONE copy-on-write
    * projection via withColumns. */
  def updateExprs(name: String,
                  sets: Seq[(String, org.apache.spark.sql.Column)],
                  where: org.apache.spark.sql.Column): Unit = {
    val df = table(name)
    val cols = sets.map { case (f, v) =>
      f -> when(where, v).otherwise(
        if (df.columns.contains(f)) col(f) else lit(null))
    }.toMap
    commit(name, df.withColumns(cols))
  }

  /** DELETE by row identity: drop every row whose `id` appears in `ids`
    * — the subquery-predicate delete path, where the SQL layer already
    * evaluated the predicate to a row set (one anti-join; at scale the
    * doomed set is usually broadcast-sized). */
  def deleteRows(name: String, ids: DataFrame): Unit = {
    val df = table(name)
    commit(name, df.join(ids.select(col("id")).distinct(), Seq("id"), "left_anti"))
  }

  /** S3 DELETE as anti-filter. Only rows where the predicate is TRUE are
    * deleted: a NULL predicate (dynamic-schema row missing the WHERE
    * field) keeps the row, as SQL DELETE does — a bare `!where` would
    * silently drop those rows too, because Filter discards NULL. */
  def delete(name: String, where: org.apache.spark.sql.Column): Unit =
    commit(name, table(name).filter(!coalesce(where, lit(false))))

  /** Checkpoint a table's accumulated plan (row-at-a-time inserts build a
    * union per row; updates stack projections) to parquet and re-register
    * the scan — plan depth returns to 1, results unchanged. The analog of
    * log compaction for the copy-on-write surfaces; at scale run it on a
    * cadence (or via Streams ingest, which lands in parquet directly).
    *
    * Safe to run REPEATEDLY against the same path: the write lands in a
    * tmp dir and swaps in via [[graft.sources.Sources.swapDir]] (a direct
    * overwrite would throw "cannot overwrite a path that is also being
    * read from" on the second call, because the registered scan reads the
    * path being rewritten), and a crash mid-swap auto-recovers on the
    * next invocation.
    *
    * Time-travel interaction: the version compact() rewrites reads
    * THROUGH `path`, so a LATER compact() to the same path silently
    * repoints that historical version at the new contents — compact to a
    * fresh path per call (version-stamped dirs) when [[tableAsOf]] must
    * stay faithful across compactions. Versions committed before the
    * compact keep their own lineage and are unaffected. */
  def compact(name: String, path: String): Unit = {
    val df = table(name)
    graft.sources.Sources.swapDir(spark, path) { tmp =>
      df.write.mode("overwrite").parquet(tmp)
    }
    // same contents, new plan: replace the CURRENT version in place so
    // versionOf stays aligned and the latest version's lineage is freed
    val scan = spark.read.parquet(path)
    tables += name -> scan
    history += name -> (history.getOrElse(name, Vector.empty)
      .dropRight(1) :+ scan)
  }
}
