package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.core.{TableIO, TrainOnce}
import graft.jobs.{BenchImportChain, GisaidImport, JobRunner, TrainingPipeline}
import graft.sources.StateStore

/** One benchmark process: builds a session, sets up one workload, runs
  * its timed loop for about `seconds`, and writes a JSON run record
  * (spans, op samples, chain outcomes and, when traced, the raw
  * scheduler and plan-phase events) for `perfbench/run.py` to check
  * and reduce.
  *
  * Usage: Harness key=value ... with keys workload, inputs (the
  * generated input dir), work, out, seconds, trace (0|1), cpus,
  * launch_ms (epoch ms the launcher started this JVM), and either ops
  * (comma list of gates) or chain (import or curation).
  */
object Harness {

  final case class OpSample(op: Int, name: String, kind: String, startMs: Double,
      endMs: Double, ok: Boolean, error: String, traced: Boolean)
  final case class ChainRun(kind: String, k: Int, startMs: Double, endMs: Double,
      outcomes: Map[String, String], report: Map[String, Long], traced: Boolean)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = Paths.get(conf("out"))
    val record = new Harness(conf).run()
    Files.writeString(out, Json(record))
  }
}

final class Harness(conf: Map[String, String]) {
  import Harness._

  private val workload = conf("workload")
  private val inputs = conf("inputs")
  private val work = conf("work")
  private val seconds = conf("seconds").toDouble
  private val traced = conf("trace") == "1"
  private val cpus = conf("cpus").toInt
  private val tracer = new Tracer
  private val samples = ArrayBuffer[OpSample]()
  private val chains = ArrayBuffer[ChainRun]()
  private val notes = ArrayBuffer[String]()
  private val execL = new ExecListener
  private val planL = new PlanListener
  private val audit = new graft.plans.CardinalityAudit.Listener()
  private var listening = false
  private var opSeq = 0
  private var spark: SparkSession = _

  def run(): Map[String, Any] = {
    val launchMs = conf("launch_ms").toDouble
    spark = tracer.span("session.build") {
      GraftSession.build(s"local[$cpus]", cpus)
    }
    if (traced) listen(true)
    val extra: Map[String, Any] = workload match {
      case _ if conf.contains("chain") => chainWorkload()
      case _ => queries()
    }
    // stop() drains the listener bus, so every event is in before
    // the record is written
    spark.stop()
    val setupEnd = tracer.spans.find(_.name == "setup").map(_.endMs).getOrElse(Double.NaN)
    Map(
      "workload" -> workload, "traced" -> traced, "launch_ms" -> launchMs,
      "setup_end_ms" -> setupEnd, "peak_rss_kb" -> vmHwmKb(),
      "samples" -> samples.toList, "chains" -> chains.toList, "spans" -> tracer.spans,
      "notes" -> notes.toList,
      "exec_jobs" -> execL.jobs.toList, "exec_stages" -> execL.stages.toList,
      "sql_starts" -> execL.sqlStarts.toList, "plan_execs" -> planL.execs.toList,
      "fanout" -> audit.snapshot.map { case (gate, f) =>
        Map("gate" -> gate, "kind" -> f.kind, "node" -> f.node, "detail" -> f.detail,
          "out" -> f.out, "base" -> f.base, "ratio" -> f.ratio) },
      "spark_conf" -> spark.sparkContext.getConf.getAll.toMap
        .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    ) ++ extra
  }

  /** Attach (or detach) the scheduler, plan-phase and cardinality
    * listeners. */
  private def listen(on: Boolean): Unit = if (on != listening) {
    if (on) {
      spark.sparkContext.addSparkListener(execL)
      spark.listenerManager.register(planL)
      spark.listenerManager.register(audit)
    } else {
      spark.sparkContext.removeSparkListener(execL)
      spark.listenerManager.unregister(planL)
      spark.listenerManager.unregister(audit)
    }
    listening = on
  }

  private def newOp(): Int = { opSeq += 1; tracer.op = opSeq; opSeq }

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  // ------------------------------------------------------- query workloads

  /** Setup: resolve every table cold then warm, then run one pass over
    * the op list that writes each result as parquet under work/results
    * (the outputs the launcher checks against the DuckDB oracle) with
    * the cardinality audit attached; it is also the warm-up. Timed
    * loop: whole passes of construct + noop-sink execution, at least
    * three, until `seconds` have elapsed. */
  private def queries(): Map[String, Any] = {
    val ops = conf("ops").split(",").toSeq
    val dir = inputs
    val resultsDir = s"$work/results"
    tracer.span("setup") {
      for (phase <- Seq("cold", "warm"); t <- graft.Tables.names)
        tracer.span(s"tables.resolve_$phase") { graft.Tables.t(spark, dir, t) }
      tracer.span("jobs.fingerprint") { TrainOnce.sourceFingerprint(spark, dir) }
      if (!traced) spark.listenerManager.register(audit)
      for (n <- ops) {
        audit.gate = n
        try {
          val df = SparkEntry.queries(n)(spark, dir)
          df.write.mode("overwrite").parquet(s"$resultsDir/$n")
        } catch { case e: Exception => notes += s"result $n failed: ${e.getMessage}" }
        spark.catalog.clearCache()
      }
      if (!traced) spark.listenerManager.unregister(audit)
      val oracle = ops.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
      Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json(oracle))
    }
    if (traced) listen(false)
    val start = tracer.nowMs
    var pass = 0
    // at least three passes, so each gate has three samples; traced
    // runs alternate untraced and traced passes (U T U ...), so linear
    // warm-up drift cancels out of the tracing overhead
    while (pass < 3 || tracer.nowMs - start < seconds * 1000) {
      if (traced) listen(pass % 2 == 1)
      for (n <- ops) execOp(n, dir)
      pass += 1
    }
    Map("passes" -> pass)
  }

  private def execOp(n: String, dir: String): Unit = {
    val op = newOp()
    audit.gate = n
    val t0 = tracer.nowMs
    val (ok, err) = tracer.span("op") {
      try {
        val df = tracer.span("entry.construct") { SparkEntry.queries(n)(spark, dir) }
        tracer.span("exec") { df.write.format("noop").mode("overwrite").save() }
        (true, "")
      } catch { case e: Exception => (false, String.valueOf(e.getMessage).take(300)) }
    }
    samples += OpSample(op, n, "gate", t0, tracer.nowMs, ok, err, listening)
    spark.catalog.clearCache()
  }

  // ------------------------------------------------------- chain workloads

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** A chain workload's chain: `cycle(kind, k)` runs one invocation
    * (cold, delta k or poll) and records it. */
  private final case class Chain(deltas: Int, cycle: (String, Int) => ChainRun,
      fingerprintDir: String, dirs: Map[String, String])

  /** One chain invocation. The cold chain and every delta are op
    * samples, so `op_p50_ms` reads a delta and `op_p90_ms` the cold
    * chain. Polls are recorded as chain runs only: a poll is ~250 ms of
    * file listing whose level wanders from one moment of a run to the
    * next, and as the median op it spread past its bound. */
  private def invoke(kind: String, k: Int)(runChain: () => Seq[(String, JobRunner.Outcome)],
      report: () => Map[String, Long]): ChainRun = {
    val op = newOp()
    val t0 = tracer.nowMs
    val outcomes = tracer.span("op") {
      tracer.span(s"chain.$kind") { withJobSpans(runChain()) }
    }
    val r = ChainRun(kind, k, t0, tracer.nowMs,
      outcomes.map { case (n, o) => n -> o.tag }.toMap, report(), listening)
    chains += r
    val want = if (kind == "poll") "skipped" else "ran"
    if (kind != "poll") samples += OpSample(op, kind, kind, t0, r.endMs,
      outcomes.forall(_._2.tag == want), outcomes.collect {
        case (n, JobRunner.Failed(e)) => s"$n: ${e.getMessage}" }.mkString("; ").take(300),
      listening)
    r
  }

  /** Chain workloads: set up, run the cold chain and three polls, then
    * deltas, each followed by three polls, at least two and until
    * `seconds` have elapsed. A traced run attaches the listeners for the
    * cold chain and runs at least three deltas, untraced, traced,
    * untraced, so warm-up drift cancels out of the tracing overhead. */
  private def chainWorkload(): Map[String, Any] = {
    val c = tracer.span("setup") {
      conf("chain") match {
        case "import" => importChain(s"$work/chain")
        case "curation" => curationChain(s"$work/chain")
      }
    }
    def polls(k: Int): Unit = for (_ <- 1 to 3) c.cycle("poll", k)
    c.cycle("cold", 0)
    polls(0)
    val start = tracer.nowMs
    var k = 1
    while (k <= c.deltas && (k <= (if (traced) 3 else 2) ||
        tracer.nowMs - start < seconds * 1000)) {
      if (traced) listen(k == 2)
      c.cycle("delta", k)
      polls(k)
      k += 1
    }
    // the chain fingerprints its inputs inside each job; time the same
    // call directly for the per-layer figure
    tracer.span("jobs.fingerprint") { TrainOnce.sourceFingerprint(spark, c.fingerprintDir) }
    Map("chain_dirs" -> c.dirs)
  }

  private def deltaCount: Int =
    Files.list(Paths.get(inputs))
      .filter(_.getFileName.toString.matches("feed_\\d+\\.json|delta_\\d+")).count().toInt

  private def importChain(root: String): Chain = {
    val feedDir = s"$root/feed"
    val tablesDir = s"$root/tables"
    val viewsDir = s"$root/views"
    val feedPath = s"$feedDir/provision.json"
    Files.createDirectories(Paths.get(feedDir))
    copyTree(Paths.get(s"$inputs/fixtures"), Paths.get(tablesDir))
    val state = new StateStore(s"$root/state")
    var last: Option[GisaidImport.ImportReport] = None
    var existing: DataFrame = null
    var existingK = -1
    val cycle: (String, Int) => ChainRun = (kind, k) => {
      if (kind != "poll") Files.copy(Paths.get(s"$inputs/feed_$k.json"), Paths.get(feedPath),
        StandardCopyOption.REPLACE_EXISTING)
      last = None
      // read once per state, so a poll does no Spark work of its own
      // between the timed invocations
      if (existingK != k) { existing = TableIO.read(spark, s"$inputs/existing_$k"); existingK = k }
      invoke(kind, k)(() => JobRunner.runOrdered(state, BenchImportChain.jobs(
          spark, feedDir, feedPath, existing, tablesDir, viewsDir, r => last = Some(r))),
        () => last.map(r => Map("processed" -> r.processed, "failed" -> r.failed,
          "deleted" -> r.deleted)).getOrElse(Map.empty))
    }
    Chain(deltaCount - 1, cycle, tablesDir,
      Map("tables" -> tablesDir, "views" -> viewsDir))
  }

  private def curationChain(root: String): Chain = {
    val docsDir = s"$root/docs"
    copyTree(Paths.get(s"$inputs/base"), Paths.get(docsDir))
    val cycle: (String, Int) => ChainRun = (kind, k) => {
      if (kind == "delta") copyTree(Paths.get(s"$inputs/delta_$k"),
        Paths.get(s"$docsDir/documents.parquet"))
      invoke(kind, k)(() => TrainingPipeline.chain(spark, docsDir, root),
        () => Map.empty)
    }
    Chain(deltaCount, cycle, docsDir,
      Map("curated" -> s"$root/curated", "tokenizer" -> s"$root/tokenizer",
        "mix" -> s"$root/mix", "shards" -> s"$root/shards", "docs" -> docsDir))
  }

  /** Job spans of a chain, read from outside: `JobRunner.runOrdered`
    * logs `[jobs] <name>: <outcome>` when each job ends, and a job
    * starts where the previous one ended (or the chain began), so a
    * span covers the job's fingerprint and its body. Only jobs that
    * ran get a span; a skipped job's cost is its fingerprint. */
  private def withJobSpans[A](f: => A): A = {
    val real = Console.out
    var lastEnd = tracer.nowMs
    val line = new StringBuilder
    val tap = new java.io.OutputStream {
      override def write(b: Int): Unit = {
        real.write(b)
        if (b == '\n') {
          val s = line.toString
          line.clear()
          val m = "^\\[jobs\\] ([A-Za-z0-9_]+): (\\w+)".r.findFirstMatchIn(s)
          m.foreach { g =>
            val now = tracer.nowMs
            if (g.group(2) == "ran") tracer.record(s"jobs.${g.group(1)}", lastEnd, now)
            lastEnd = now
          }
        } else line += b.toChar
      }
    }
    Console.withOut(new java.io.PrintStream(tap, true))(f)
  }
}
