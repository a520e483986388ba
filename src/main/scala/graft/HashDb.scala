package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftCatalog
import graft.doc.DocStore
import graft.graph.{Cypher, PropertyGraph}
import graft.graph.PropertyGraph.MergeRows
import graft.kv.KvStore
import graft.sql.HashQL

/** The unified multi-model façade — one object exposing all five query
  * surfaces of the reference (SURVEY §0): DynamoDB-style KV, the SQL
  * dialect (incl. `~` FTS and `~path[]~leaf` document addressing),
  * JSON document save/get, Cypher graph queries, and full-text search.
  * A user of hash-db's coordinator HTTP API maps each endpoint onto one
  * method here; every method returns/holds ordinary DataFrames, so the
  * whole thing distributes.
  *
  * Mutability model: the façade holds current table/graph/kv versions
  * (immutable DataFrames swapped on write) — the reference's in-RAM dicts
  * (client.py:25) become versioned logical plans over a session.
  */
final class HashDb(val spark: SparkSession) {

  val catalog = new GraftCatalog(spark)
  val joins = new HashQL.JoinRegistry
  private var kvStore: KvStore = KvStore.empty(spark)
  private var graph: PropertyGraph = PropertyGraph.empty(spark)

  // ---------------- KV surface (POST /set, /get, /clear, /query_*) ------
  def set(pk: String, sk: String, value: String): Unit =
    kvStore = kvStore.put(pk, sk, value)
  def get(pk: String, sk: String): Option[String] =
    kvStore.get(pk, sk).select("value").collect().headOption.map(_.getString(0))
  def clear(pk: String, sk: String): Unit = kvStore = kvStore.delete(pk, sk)
  def kv: KvStore = kvStore

  // ---------------- SQL surface (POST /sql) ----------------------------
  /** Execute a dialect statement; SELECTs return a DataFrame. */
  def sql(statement: String): Option[DataFrame] =
    HashQL.execute(catalog, statement, Some(joins))

  /** Expand a registered `create join` into its (lazily consistent) view.
    * Views are named by their table set (sorted, '+'-joined — see
    * JoinRegistry); pass either that canonical name or any table subset via
    * [[joinViewFor]]. */
  def joinView(name: String): DataFrame =
    HashQL.joinView(catalog, joins.get(name).getOrElse(
      throw new IllegalArgumentException(s"no create join registered: $name")))

  /** Expand the registered view covering exactly `tables`. */
  def joinViewFor(tables: Set[String]): DataFrame =
    HashQL.joinView(catalog, joins.forTables(tables).getOrElse(
      throw new IllegalArgumentException(
        s"no create join registered over: ${tables.toSeq.sorted.mkString(", ")}")))

  // ---------------- document surface (POST /save, GET /documents) ------
  /** Save a JSON document (S9): nested row in table `collection`
    * (columns: id, doc), replacing any prior doc with the same id. The
    * table is immediately queryable from SQL, including doc paths. */
  def saveDocument(collection: String, id: Long, json: String): Unit = {
    import spark.implicits._
    // collection schema is established by the first save (the reference's
    // per-collection path registry); later saves parse against it
    val existingSchema = if (catalog.exists(collection))
      Some(catalog.table(collection).schema("doc").dataType) else None
    val row = DocStore.fromJson(spark, Seq((id, json)).toDF("id", "json"), existingSchema)
    val table = if (catalog.exists(collection))
      catalog.table(collection).filter(col("id") =!= id)
        .unionByName(row, allowMissingColumns = true)
    else row
    catalog.register(collection, table)
  }

  /** Hydrate a document back to JSON (S10). */
  def getDocument(collection: String, id: Long): Option[String] =
    if (!catalog.exists(collection)) None
    else DocStore.hydrate(catalog.table(collection).filter(col("id") === id))
      .select("json").collect().headOption.map(_.getString(0))

  // ---------------- graph surface (POST /cypher) ------------------------
  private var pending = MergeRows.empty
  private var mutations = 0

  /** Mutating statements (MERGE / DETACH DELETE / SET) change the graph
    * and return None; MATCH returns bindings. A MERGE only appends its
    * validated rows to a driver-side buffer; reads apply the whole buffer
    * as ONE batched upsert ([[graphState]]), so their plan depth does not
    * grow with the number of MERGEs. DETACH DELETE / SET fold the buffer
    * into the base first. Every 32nd mutation also truncates lineage
    * (localCheckpoint), keeping the base shallow over long streams. */
  def cypher(statement: String): Option[DataFrame] =
    Cypher.parse(statement) match {
      case m: Cypher.Merge => mutated(graph, pending ++ MergeRows.of(m))
      case _: Cypher.Delete | _: Cypher.SetAttrs =>
        mutated(graphState.execute(statement), MergeRows.empty)
      case _: Cypher.Match | _: Cypher.With | _: Cypher.ShortestPathStmt =>
        Some(graphState.query(statement))
    }

  private def mutated(base: PropertyGraph, buffered: MergeRows): Option[DataFrame] = {
    mutations += 1
    val cut = mutations % 32 == 0
    graph = if (cut) base.merge(buffered).checkpointLocal() else base
    pending = if (cut) MergeRows.empty else buffered
    None
  }

  /** The current graph: the base with the buffered MERGE rows applied. */
  def graphState: PropertyGraph = graph.merge(pending)
}
