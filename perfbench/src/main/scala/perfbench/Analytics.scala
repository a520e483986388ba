package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.Tables

/** Read-only analytics: a fixed list of SparkEntry queries over the
  * generated tables plus the graph loops of [[GraphLoops]]. A pass runs each
  * query once and each graph algorithm once, in an order the run seed
  * permutes. The cache is cleared before every query, as graft.Bench does.
  * The warm-up pass saves each query result for the DuckDB oracle check
  * (done by run.py) and keeps its digest; a timed query passes only if its
  * rows digest to the same value. */
final class Analytics(spark: SparkSession, data: String, seed: Long, out: String,
                      queries: Seq[String]) extends Workload {
  private val rnd = new scala.util.Random(seed)
  private val graph = new GraphLoops(spark, rnd)
  private val expected = mutable.Map.empty[String, String]
  private var dir = ""
  java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
    Json(SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }))

  /** Opens every table of a fresh copy of the data (the engine's table
    * cache is keyed by directory, so each repetition does the full work)
    * and builds the graph. */
  def setup(rep: Int): Unit = {
    dir = s"$data/copy$rep"
    Tables.registerAll(spark, dir)
    Tables.names.foreach(Tables.rowCount(spark, dir, _))
    graph.setup()
  }

  private def run(rec: Recorder, q: String)(check: ((StructType, Array[Row])) => Boolean): Unit = {
    spark.catalog.clearCache()
    rec.op(q, q, "read") {
      val df = rec.span("sql.build")(SparkEntry.queries(q)(spark, dir))
      (df.schema, rec.span("exec.action")(df.collect()))
    }(check)
  }

  private def runPass(rec: Recorder)(check: String => (((StructType, Array[Row])) => Boolean)): Unit =
    rnd.shuffle(queries.map(q => () => run(rec, q)(check(q))) ++ graph.pass(rec)).foreach(_())

  def warmup(rec: Recorder): Unit = runPass(rec) { q => { case (schema, rows) =>
    expected(q) = Digest(rows.toSeq)
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/results/$q")
    true
  }}

  val passSeconds = 13.0

  def pass(rec: Recorder): Unit =
    runPass(rec)(q => r => expected.get(q).contains(Digest(r._2.toSeq)))
}
