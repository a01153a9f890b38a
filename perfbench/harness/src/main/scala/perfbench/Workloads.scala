package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession, functions => F}
import graft.Engine
import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import graft.sources.{GraphStore, NTriples}
import graft.sparql.{Ast, Compiler, Parser, Substitute}

/** Result rows as JSON-ready values, plus an order-aware digest that
  * later runs of the same instance must reproduce. */
object Answers {
  def value(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case x @ (_: Long | _: Double | _: String | _: Boolean) => x
    case other => other.toString
  }
  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(r => r.toSeq.map(value))
  def digest(rows: Seq[Seq[Any]], ordered: Boolean): String = {
    val lines = rows.map(_.map {
      case d: Double => new java.math.BigDecimal(d)
        .round(new java.math.MathContext(10)).stripTrailingZeros.toPlainString
      case x => String.valueOf(x)
    }.mkString("\u0001"))
    (if (ordered) lines else lines.sorted).mkString("\n")
  }
  def toJava(rows: Seq[Seq[Any]]): java.util.List[Any] =
    Main.toJava(rows.map(r => Main.toJava(r)))
}

/** Front-end layers timed apart from the operation, on the same text. */
object FrontEnd {
  def timings(engine: Engine, spark: SparkSession, tr: Tracer): Map[String, Double] =
    tr.frontEnd match {
      case Some((kind, text, b)) =>
        val parser = new Parser(engine.graph.prefixes)
        val t0 = Probe.nowMs()
        val parsed = if (kind == "update") None else Some(parser.parseQuery(text))
        if (kind == "update") parser.parseUpdate(text)
        val t1 = Probe.nowMs()
        val compileMs = parsed.map(_.query) match {
          case Some(q: Ast.SelectQuery) =>
            val sq = Substitute(q, b.map { case (k, v) => k -> engine.toTerm(v) })
            val c0 = Probe.nowMs()
            new Compiler(engine.graph, spark).compileSelect(sq)
            Probe.nowMs() - c0
          case _ => 0.0
        }
        Map("sparql.parse_s" -> (t1 - t0) / 1e3, "sparql.compile_s" -> compileMs / 1e3)
      case None => Map.empty
    }
}

/** One long-lived Engine over the direct-mapped customer/orders/nation/
  * region tables; each read is one SELECT or ASK instance, collected as a
  * notebook would. After every few reads comes the next step of a small
  * side store's script (a [[GraphUpdate]] under `side/`): an ingest, an
  * update or a read of what the write before it changed. */
final class SparqlInteractive(spark: SparkSession, inputs: String, out: String,
    script: JsonNode) extends Workload {
  private case class Inst(id: Int, template: String, kind: String, sparql: String,
      bindings: Map[String, Any], ordered: Boolean)
  private val insts = script.get("instances").elements().asScala.map { n =>
    Inst(n.get("id").asInt, Json.str(n, "template"), Json.str(n, "kind"),
      Json.str(n, "sparql"), Json.bindings(n.get("bindings")), n.get("ordered").asBoolean)
  }.toVector
  /** Instance ids; -1 is the side store's next step. */
  private val schedule = script.get("schedule").elements().asScala.map(_.asInt).toVector
  private val side = new GraphUpdate(spark, s"$inputs/side", s"$out/side",
    Main.mapper.readTree(new File(s"$inputs/side", "script.json")))
  private var engine: Engine = _
  private val expected = mutable.Map.empty[Int, String]
  private val answers = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  private var next = 0
  private var last: Inst = _
  private var lastSide = false
  def lastKind: String = if (lastSide) side.lastKind else Option(last).fold("select")(_.kind)

  /** The side store is built and warmed on a second thread while the
    * main graph is; [[warm]] waits for it. */
  private val sideSetup = new Thread(() => { side.build(); side.warm() }, "side-setup")
  @volatile private var sideError: Throwable = _

  def build(): Unit = {
    sideSetup.setDaemon(true)  // a failed main build must not wait for it
    sideSetup.setUncaughtExceptionHandler((_, e) => sideError = e)
    sideSetup.start()
    engine = Engine.fromGraph(
      graft.Tables.graph(spark, inputs, "customer", "orders", "nation", "region"))
  }

  private def run(in: Inst, tr: Tracer): Seq[Seq[Any]] = {
    tr.frontEnd = Some((in.kind, in.sparql, in.bindings))
    if (in.kind == "ask") Seq(Seq(tr.span("build")(engine.ask(in.sparql))))
    else {
      val df = tr.span("build")(engine.select(in.sparql, in.bindings))
      tr.forcePhases(df)
      Answers.rows(tr.span("action")(df.collect()))
    }
  }

  /** Untimed: the first instance of every template; then waits for the
    * side store's set-up. */
  def warm(): Unit = {
    insts.groupBy(_.template).values.map(_.head).toSeq.sortBy(_.id)
      .foreach(exec(_, new Tracer(false)))
    sideSetup.join()
    if (sideError != null) throw sideError
  }

  private def skipSpentSide(): Unit =
    while (next < schedule.length && schedule(next) < 0 && !side.hasNext) next += 1
  def hasNext: Boolean = { skipSpentSide(); next < schedule.length }
  def nextRepeatable: Boolean = { skipSpentSide(); schedule(next) >= 0 || side.nextRepeatable }

  def runOp(i: Int, tr: Tracer): OpResult = {
    val k = schedule(next); next += 1
    lastSide = k < 0
    if (lastSide) sideOp(side.runOp(i, tr))
    else { last = insts(k); exec(last, tr) }
  }

  def rerun(tr: Tracer): OpResult = if (lastSide) sideOp(side.rerun(tr)) else exec(last, tr)

  private def sideOp(r: OpResult): OpResult = r.copy(ref = r.ref.map(x => s"side-$x"))

  /** The first answer of each instance is kept for the DuckDB check after
    * the run; every later run of the instance must reproduce it. */
  private def exec(in: Inst, tr: Tracer): OpResult = {
    val rows = run(in, tr)
    val d = Answers.digest(rows, in.ordered)
    val ok = expected.get(in.id) match {
      case Some(e) => d == e
      case None =>
        expected(in.id) = d
        answers += Map[String, Any]("id" -> in.id, "rows" -> Answers.toJava(rows)).asJava
        true
    }
    OpResult(in.kind, ok, rows.size.toLong,
      Map("exec.result_rows" -> rows.size.toDouble), Some(in.id))
  }

  override def frontEndTimings(tr: Tracer): Map[String, Double] =
    if (lastSide) side.frontEndTimings(tr) else FrontEnd.timings(engine, spark, tr)

  def finish(): java.util.Map[String, Any] = {
    Files.writeString(Paths.get(out, "answers.json"),
      Main.mapper.writeValueAsString(Main.toJava(answers.toSeq)))
    Map[String, Any]("instances" -> insts.size, "side" -> side.finish()).asJava
  }
}

/** One operation is one pass of the exact → MinHash → n-gram → SimHash →
  * quality → kNN chain over the whole corpus, each stage into a `noop`
  * sink. */
final class CorpusDedup(spark: SparkSession, inputs: String, out: String,
    script: JsonNode) extends Workload {
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private val nDocs = script.get("docs").asLong
  private val expected = mutable.Map.empty[String, Long]
  var lastKind = "pass"

  def build(): Unit = {
    docs = spark.read.parquet(s"$inputs/documents")
    emb = spark.read.parquet(s"$inputs/embeddings.parquet")
    queries = spark.read.parquet(s"$inputs/queries.parquet")
  }

  private def stages: Seq[(String, () => DataFrame)] = Seq(
    "exact" -> (() => Dedup.exactGroups(docs, "doc_id", "text")),
    "minhash" -> (() => Dedup.minhashDedupPairs(docs, "doc_id", "text",
      threshold = 0.8, k = 3, numHashes = 32, bands = 8)),
    "ngram" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.8, k = 3)),
    "simhash" -> (() => Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxBits = 3)),
    "quality" -> (() => docs.select(F.col("doc_id"),
      TextAnalysis.qualityScore(F.col("text")).as("quality"))),
    "knn" -> (() => Similarity.knnJoin(queries, emb, "qid", "vec_id",
      "embedding", "embedding", k = 5)))

  /** The checked pass: every stage's output is written as parquet for the
    * DuckDB / planted-pair gate; its row counts pin later passes. Then
    * one untimed pass as timed (noop sink): without it the first timed
    * pass is the first through that path, and 20-40% slower. */
  def warm(): Unit = {
    stages.foreach { case (name, mk) =>
      val obs = Observation(s"check_$name")
      mk().observe(obs, F.count(F.lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$out/answers/$name")
      expected(name) = obs.get("n").asInstanceOf[Long]
    }
    runOp(0, new Tracer(false))
  }

  def hasNext: Boolean = true
  def nextRepeatable: Boolean = true
  def rerun(tr: Tracer): OpResult = runOp(0, tr)

  def runOp(i: Int, tr: Tracer): OpResult = {
    val layers = mutable.Map.empty[String, Double]
    var ok = true
    var pairs = 0L
    stages.foreach { case (name, mk) =>
      val t0 = Probe.nowMs()
      val df = tr.span("build")(mk())
      val obs = Observation(s"rows_$name")
      tr.span("action")(df.observe(obs, F.count(F.lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save())
      val n = obs.get("n").asInstanceOf[Long]
      ok &&= n == expected(name)
      if (Set("minhash", "ngram", "simhash")(name)) pairs += n
      layers(s"pipeline.${name}_s") = (Probe.nowMs() - t0) / 1e3
    }
    layers("pipeline.pairs_out") = pairs.toDouble
    OpResult("pass", ok, nDocs, layers.toMap)
  }

  def finish(): java.util.Map[String, Any] =
    Map[String, Any]("docs" -> nDocs,
      "expected_rows" -> expected.toMap.asJava).asJava
}

/** A persisted GraphStore under a closed loop of N-Triples ingest batches,
  * Engine.update INSERT DATA / DELETE WHERE, and reads of the subject the
  * preceding write touched. An ingest re-points the engine at the store
  * (session edits are in-memory graph versions). */
final class GraphUpdate(spark: SparkSession, inputs: String, out: String,
    script: JsonNode) extends Workload {
  private val ops = script.get("ops").elements().asScala.toVector
  private val compactAt = script.get("compact_when_files_exceed").asInt
  private val landing = new File(out, "landing")
  private val ingestCk = s"$out/ingest-checkpoint"
  private var storePath: String = _
  private var engine: Engine = _
  private var next = 0
  private var checkpoints = 0
  private val reads = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  var lastKind = "read"
  private val ReadQ = "SELECT (STR(?p) AS ?ps) (STR(?o) AS ?os) WHERE { ?_s ?p ?o }"

  def build(): Unit = {
    storePath = s"$out/store"
    GraphStore.save(NTriples.read(spark, s"$inputs/base.nt"), storePath)
  }

  private def ingest(file: File): Unit = {
    Files.copy(file.toPath, new File(landing, file.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING)
    GraphStore.startNtIngest(spark, landing.getPath, storePath, "perfbench_ingest",
      checkpointDir = Some(ingestCk), compactWhenFilesExceed = Some(compactAt))
      .awaitTermination()
  }

  private def read(s: String, tr: Tracer): Seq[Seq[Any]] = {
    val b = Map[String, Any]("s" -> s)
    tr.frontEnd = Some(("select", ReadQ, b))
    val df = tr.span("build")(engine.select(ReadQ, b))
    tr.forcePhases(df)
    Answers.rows(tr.span("action")(df.collect()))
  }

  /** Exercises every operation type: a read, the warm-up ingests (part
    * of the generator's model; one of them compacts), and inserts and
    * deletes of one triple that no read sees. */
  def warm(): Unit = {
    landing.mkdirs()
    engine = Engine.fromGraph(GraphStore.load(spark, storePath))
    val s = "urn:graft:customer/0"
    read(s, new Tracer(false))
    (0 until script.get("warm_ingests").asInt)
      .foreach(w => ingest(new File(inputs, s"warm-$w.nt")))
    engine.graph = GraphStore.load(spark, storePath)
    val t = "<urn:perfbench:warm> <urn:perfbench:p> \"w\" ."
    // eight updates: the engine checkpoints on every 8th update, so the
    // warm-up takes one checkpoint and the next falls on the 8th update
    // of the timed phase (the left-over warm triple goes with the next
    // ingest's reload)
    (0 until 4).foreach { _ =>
      engine.update(s"INSERT DATA { $t }")
      engine.update(s"DELETE DATA { $t }")
    }
    read(s, new Tracer(false))
  }

  def hasNext: Boolean = next < ops.length
  def nextRepeatable: Boolean = hasNext && Json.str(ops(next), "op") == "read"
  def rerun(tr: Tracer): OpResult = { next -= 1; runOp(0, tr) }

  private def storeFiles(): Map[String, Long] = {
    val root = Paths.get(storePath)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
  }
  private def dirOf(k: String): String =
    Option(Paths.get(k).getParent).map(_.toString).getOrElse("")
  private def dataFilesPerDir(fs: Map[String, Long]): Map[String, Int] =
    fs.keys.filter(k => k.endsWith(".parquet") && !k.contains(".compact-tmp"))
      .groupBy(dirOf).map { case (d, ks) => d -> ks.size }

  def runOp(i: Int, tr: Tracer): OpResult = {
    val op = ops(next); next += 1
    lastKind = Json.str(op, "op")
    lastKind match {
      case "ingest" =>
        val file = new File(s"$inputs/batches", Json.str(op, "file"))
        val before = if (tr.on) storeFiles() else Map.empty[String, Long]
        val t0 = Probe.nowMs()
        tr.span("build")(ingest(file))
        val t1 = Probe.nowMs()
        tr.span("build") { engine.graph = GraphStore.load(spark, storePath) }
        val t2 = Probe.nowMs()
        val layers = if (!tr.on) Map.empty[String, Double] else {
          val after = storeFiles()
          val written = after.collect { case (k, v) if !before.contains(k) => v }.sum
          val da = dataFilesPerDir(after)
          Map("store.ingest_s" -> (t1 - t0) / 1e3, "store.load_s" -> (t2 - t1) / 1e3,
            "store.bytes_written" -> written.toDouble,
            "store.write_amp" -> written.toDouble / file.length,
            "store.files" -> da.values.sum.toDouble,
            // a merge only adds files: a directory that lost one compacted
            "store.compactions" -> before.keys.filter(k =>
              k.endsWith(".parquet") && !after.contains(k)).map(dirOf).toSet.size.toDouble)
        }
        OpResult("ingest", ok = true, op.get("triples").asLong, layers, Some(next - 1))
      case "update" =>
        val text = Json.str(op, "sparql")
        tr.frontEnd = Some(("update", text, Map.empty))
        val t0 = Probe.nowMs()
        tr.span("build")(engine.update(text))
        val applyS = (Probe.nowMs() - t0) / 1e3
        val ck = engine.graph.triples.queryExecution.logical
          .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        if (ck) checkpoints += 1
        OpResult("update", ok = true, op.get("triples").asLong,
          Map("update.apply_s" -> applyS),
          Some(next - 1))
      case "read" =>
        val rows = read(Json.str(op, "s"), tr)
        reads += Map[String, Any]("op" -> (next - 1), "rows" -> Answers.toJava(rows)).asJava
        OpResult("read", ok = true, rows.size.toLong,
          Map("exec.result_rows" -> rows.size.toDouble), Some(next - 1))
    }
  }

  override def frontEndTimings(tr: Tracer): Map[String, Double] =
    FrontEnd.timings(engine, spark, tr)

  def finish(): java.util.Map[String, Any] = {
    Files.writeString(Paths.get(out, "answers.json"),
      Main.mapper.writeValueAsString(Main.toJava(reads.toSeq)))
    val fs = storeFiles()
    Map[String, Any]("ops_done" -> next, "store_bytes" -> fs.values.sum,
      "store_files" -> dataFilesPerDir(fs).values.sum,
      "checkpoints" -> checkpoints).asJava
  }
}
