package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** Harness main: runs one workload over generated inputs and writes
  * `result.json` (setup timings, one record per operation, workload
  * facts) plus the answers the correctness gate checks.
  *
  * Usage: perfbench.Main <workload> <inputsDir> <outDir> <seconds> <trace 0|1>
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, out, seconds, trace) = args
    val traced = trace == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    new File(out).mkdirs()
    val s0 = Probe.nowMs()
    val spark = Session.create(new File(out, "spark").getAbsolutePath)
    val sessionReady = Probe.nowMs()
    val script = mapper.readTree(new File(inputs, "script.json"))
    val wl: Workload = workload match {
      case "sparql-interactive" => new SparqlInteractive(spark, inputs, out, script)
      case "corpus-dedup" => new CorpusDedup(spark, inputs, out, script)
      case "graph-update" => new GraphUpdate(spark, inputs, out, script)
    }
    val g0 = Probe.nowMs()
    wl.build()
    val graphS = (Probe.nowMs() - g0) / 1e3
    val w0 = Probe.nowMs()
    wl.warm()
    val warmS = (Probe.nowMs() - w0) / 1e3
    val probe = if (traced) Some(new Probe(spark)) else None

    val ops = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val start = Probe.nowMs()
    val deadline = start + seconds.toDouble * 1000
    var end = start
    var i = 0
    var pairs = 0

    /** One execution of an operation; `again` re-runs the previous one. */
    def execute(tr: Tracer, again: Boolean): java.util.Map[String, Any] = {
      probe.foreach { p => p.drain(); p.clear() }
      val gc0 = Probe.gcMs()
      val sniff0 = graft.Display.sniffCount.get()
      val t0 = Probe.nowMs()
      val r = try (if (again) wl.rerun(tr) else wl.runOp(i, tr)) catch {
        case e: Throwable => OpResult.failed(wl.lastKind, e)
      }
      val t1 = Probe.nowMs()
      end = t1
      val rec = new java.util.LinkedHashMap[String, Any]()
      rec.put("i", ops.size); rec.put("kind", r.kind); rec.put("ok", r.ok)
      rec.put("wall_s", (t1 - t0) / 1e3); rec.put("items", r.items)
      rec.put("traced", tr.on); rec.put("twin", again)
      r.error.foreach(rec.put("error", _))
      r.ref.foreach(rec.put("ref", _))
      if (tr.on) {
        probe.get.drain()
        val layers = new java.util.LinkedHashMap[String, Any]()
        probe.get.account(t0, t1, tr.marks.toSeq, tr.forced).foreach {
          case (k, v) => layers.put(k, v)
        }
        layers.put("jvm.gc_s", (Probe.gcMs() - gc0) / 1e3)
        layers.put("display.sniffs", (graft.Display.sniffCount.get() - sniff0).toDouble)
        r.layers.foreach { case (k, v) => layers.put(k, v) }
        // timed apart from the operation, on the same text
        wl.frontEndTimings(tr).foreach { case (k, v) => layers.put(k, v) }
        rec.put("layers", layers)
      }
      ops += rec
      rec
    }

    while (Probe.nowMs() < deadline && wl.hasNext) {
      if (probe.isEmpty) execute(new Tracer(false), again = false)
      else if (!wl.nextRepeatable) execute(new Tracer(true), again = false)
      else {
        // a repeatable operation runs twice back to back, traced and
        // untraced, the order alternating from pair to pair: the pair
        // gives the tracing overhead against the same work
        val tracedFirst = pairs % 2 == 0
        pairs += 1
        val a = execute(new Tracer(tracedFirst), again = false)
        val b = execute(new Tracer(!tracedFirst), again = true)
        a.put("pair", i); b.put("pair", i)
      }
      i += 1
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("workload", workload)
    result.put("cores", Probe.cores)
    result.put("jvm_to_session_s", (sessionReady - jvmStartMs) / 1e3)
    result.put("session_s", (sessionReady - s0) / 1e3)
    result.put("graph_s", graphS)
    result.put("warm_s", warmS)
    result.put("timed_wall_s", (end - start) / 1e3)
    result.put("ops", toJava(ops.toSeq))
    result.put("facts", wl.finish())
    result.put("peak_rss_mb", Probe.peakRssMb())
    Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }

  def toJava(xs: Seq[Any]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any](); xs.foreach(l.add); l
  }
}

/** Records the harness's own phase boundaries inside one operation. */
final class Tracer(val on: Boolean) {
  val marks = mutable.ArrayBuffer.empty[(String, Double, Double)]
  var forced: Option[QueryExecution] = None
  /** Text + bindings of the operation's front-end call, for the separate
    * parse/compile timing. */
  var frontEnd: Option[(String, String, Map[String, Any])] = None

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val a = Probe.nowMs()
      try f finally marks += ((name, a, Probe.nowMs()))
    }

  /** Force Catalyst's phases of `df` one at a time, before its action. */
  def forcePhases(df: org.apache.spark.sql.DataFrame): Unit = if (on) {
    val qe = df.queryExecution
    forced = Some(qe)
    span("analyze")(qe.analyzed)
    span("optimize")(qe.optimizedPlan)
    span("plan")(qe.executedPlan)
  }
}

final case class OpResult(kind: String, ok: Boolean, items: Long,
    layers: Map[String, Double] = Map.empty, ref: Option[Any] = None,
    error: Option[String] = None)

object OpResult {
  def failed(kind: String, e: Throwable): OpResult =
    OpResult(kind, ok = false, 0L,
      error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
}

trait Workload {
  /** The data-dependent set-up: graph, corpus or store. */
  def build(): Unit
  /** Warm-up, including the untimed pass whose answers are checked. */
  def warm(): Unit
  def hasNext: Boolean
  def runOp(i: Int, tr: Tracer): OpResult
  /** Whether the next operation can run twice without changing state. */
  def nextRepeatable: Boolean
  /** Run the previous operation again (only after `nextRepeatable`). */
  def rerun(tr: Tracer): OpResult
  /** Kind of the operation last started (for failure records). */
  def lastKind: String
  def frontEndTimings(tr: Tracer): Map[String, Double] = Map.empty
  def finish(): java.util.Map[String, Any]
}

object Session {
  /** `local[nproc]` with `shuffle.partitions = nproc`; every other setting
    * is the one `graft.Bench` uses. Scratch space stays under `dir`. */
  def create(dir: String): SparkSession = {
    val n = Probe.cores.toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", dir + "/local")
      .config("spark.sql.warehouse.dir", dir + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("FATAL")
    s.sparkContext.setCheckpointDir(dir + "/checkpoints")
    s
  }
}

object Json {
  def str(n: JsonNode, k: String): String = n.get(k).asText()
  /** A JSON binding value as the Scala value `Engine` turns into a term. */
  def value(n: JsonNode): Any =
    if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.toString
  def bindings(n: JsonNode): Map[String, Any] = {
    val b = Map.newBuilder[String, Any]
    n.fields().forEachRemaining(e => b += e.getKey -> value(e.getValue))
    b.result()
  }
}
