package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: build its starting state (timed three
  * times for setup_s), run a checked warm-up pass, then time whole passes.
  * Every call into the engine goes through [[Recorder.op]]. */
trait Workload {
  /** Builds the starting state from the generated inputs; `rep` counts
    * from 1, and the state of the last repetition is the one measured. */
  def setup(rep: Int): Unit
  def warmup(rec: Recorder): Unit
  def pass(rec: Recorder): Unit
  /** About how long one pass takes on a 4-core box. A run of `seconds`
    * times seconds / passSeconds passes (at least one): the amount of work
    * follows the run length only, never the speed of the code measured. */
  def passSeconds: Double
  /** Findings the run reports beside its ops, such as a call into the engine
    * known to fail; read by the traced run's metrics. */
  def probes: Map[String, Any] = Map.empty
}

/** One client thread's op log. An op that throws, or whose result fails its
  * check, is recorded as failed; the run's metrics use only the timings of
  * ops that passed, so a failure can never read as a fast op. Checks run
  * after the op's clock stops. */
final class Recorder(spark: SparkSession, tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  var phase = "warmup"
  private var nextId = 0L
  private var currentOp = 0L
  private val osBean = ManagementFactory.getOperatingSystemMXBean
  private var extra = Map.empty[String, Any]

  def traced: Boolean = tracer.isDefined

  /** Runs one op: `body` is timed, `check` is not. `key` names what the op
    * computed, so ops with equal keys must give equal results and counts. */
  def op[R](kind: String, key: String, cls: String)(body: => R)(check: R => Boolean): Unit = {
    nextId += 1
    currentOp = nextId
    extra = Map.empty
    val load = osBean.getSystemLoadAverage
    tracer.foreach(_.begin(nextId))
    spark.sparkContext.setJobGroup(nextId.toString, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.clearJobGroup()
    val tr = tracer.map(_.end(nextId)).getOrElse(Map.empty)
    val (ok, err) = res match {
      case Left(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(r) =>
        try {
          if (check(r)) (true, null) else (false, "wrong result")
        } catch { case NonFatal(e) => (false, s"check failed: ${e.getMessage}") }
    }
    if (!ok) System.err.println(s"[perfbench] op $nextId $kind ($key) failed: $err")
    ops += Map("id" -> nextId, "phase" -> phase, "kind" -> kind, "key" -> key,
      "cls" -> cls, "ms" -> ms, "ok" -> ok, "err" -> err, "load" -> load) ++
      (if (tr.isEmpty) Map.empty else Map("trace" -> (tr ++ extra)))
  }

  /** In traced runs only: times a call into `layer` on behalf of the next
    * op, before that op's clock starts, so the op's time stays that of an
    * untraced run. */
  def spanBeforeOp(layer: String)(body: => Any): Unit =
    tracer.foreach(_.span(nextId + 1, layer)(body))

  /** Times a call into `layer` when tracing; otherwise just runs it. */
  def span[R](layer: String)(body: => R): R = tracer match {
    case Some(t) => t.span(currentOp, layer)(body)
    case None => body
  }

  /** Attaches a traced-only field to the current op. */
  def note(k: String, v: Any): Unit = if (traced) extra += k -> v

  def timedCount: Int = ops.count(_("phase") == "timed")
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload <analytics|session|selftest> " +
      "--seed <n> --seconds <s> --trace <0|1> --data <dir> --out <dir> [--queries <a,b,...>]")
    sys.exit(2)
  }

  def session(cores: Int): SparkSession = {
    // the bench posture of graft.Bench: AQE with coalescing to the advisory
    // size, one shuffle partition per core, UTC
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val Seq(name, data, out) = Seq("workload", "data", "out").map(k => opts.getOrElse(k, usage()))
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).getOrElse(usage())
    val trace = opts.getOrElse("trace", "0") == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    // Spark task slots: one core stays free for the driver thread, the JIT
    // and the collector, which keeps op times steadier than using every core
    val cores = math.max(1, math.min(4, nproc - 1))

    val started = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $msg")
    val spark = session(cores)
    log("session up")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(spark, tracer)
    val work: Workload = name match {
      case "analytics" =>
        new Analytics(spark, data, seed, out, opts.getOrElse("queries", usage()).split(',').toSeq)
      case "session" => new Session(spark, data, seed, out)
      case "selftest" => new SelfTest(spark)
      case _ => usage()
    }
    val setups = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      work.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"setup ${setups.mkString(" ")}")
    rec.phase = "warmup"
    work.warmup(rec)
    log("warm-up done")
    rec.phase = "timed"
    val t0 = System.nanoTime()
    (1 to math.max(1, math.round(seconds / work.passSeconds).toInt)).foreach(_ => work.pass(rec))
    val timedS = (System.nanoTime() - t0) / 1e9
    log(s"timed phase done: ${rec.timedCount} ops")
    // the least heap in use after each of three full collections: later
    // ones also free what Spark's cleaner released meanwhile, and the
    // minimum ignores what other threads allocated just before a reading
    val memBean = ManagementFactory.getMemoryMXBean
    val retainedMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      memBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val report = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc, "cores" -> cores,
      "heap_max_mb" -> memBean.getHeapMemoryUsage.getMax / 1048576.0,
      "setup_s" -> setups, "timed_s" -> timedS,
      "retained_heap_mb" -> retainedMb, "probes" -> work.probes,
      "ops" -> rec.ops.toSeq) ++
      tracer.map { t =>
        Map("spans" -> t.spans.toSeq.map(s => Seq(s.op, s.layer, s.start, s.end)),
          "trace_overhead_ms" -> t.overheadNs.get / 1e6)
      }.getOrElse(Map.empty)
    tracer.foreach(_.close())
    Files.writeString(Paths.get(out, "report.json"), Json(report))
    spark.stop()
    log("stopped")
  }
}

/** Minimal JSON rendering for the run report. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Order-insensitive digest of collected rows: the output check for ops
  * whose expected answer is an earlier, checked run of the same op. */
object Digest {
  def apply(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0.toByte)
    }
    s"${rows.size}:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }
}

/** The failure-accounting self test: one good op, one op that throws and
  * one op that returns a wrong result. Only the good op may be timed. */
final class SelfTest(spark: SparkSession) extends Workload {
  def setup(rep: Int): Unit = spark.range(10).count()
  def warmup(rec: Recorder): Unit = ()
  def passSeconds: Double = 1.0
  def pass(rec: Recorder): Unit = {
    rec.op("good", "good", "read")(spark.range(100).count())(_ == 100L)
    rec.op("throws", "throws", "read") {
      spark.range(100).count()
      throw new IllegalStateException("planted failure")
    }((_: Long) => true)
    rec.op("wrong", "wrong", "read")(spark.range(100).count())(_ == 99L)
  }
}
