package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into graft: name, start, end (ms
  * since the epoch, fractional), the enclosing span and the op it
  * belongs to. Spans nest on the driver thread only. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double)

/** Span recorder. Spans stay in memory and are written out with the
  * run record; recording costs two clock reads per call, so it is on
  * in untraced runs too (op latencies are read from these spans). */
final class Tracer {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val done = ArrayBuffer[Span]()
  private var stack: List[(Int, String, Double)] = Nil
  private var nextId = 1
  @volatile var op: Int = -1

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val start = nowMs
    stack = (id, name, start) :: stack
    try f
    finally {
      stack = stack.tail
      done.synchronized { done += Span(id, name, parent, op, start, nowMs) }
    }
  }

  /** A span whose bounds were observed rather than wrapped (job spans
    * read from the program's own `[jobs]` log lines). */
  def record(name: String, startMs: Double, endMs: Double): Unit = {
    val parent = stack.headOption.map(_._1).getOrElse(0)
    done.synchronized {
      done += Span(nextId, name, parent, op, startMs, endMs)
      nextId += 1
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

/** Scheduler-side record of every job, stage and SQL execution, kept
  * raw with timestamps so the reader attributes each to the innermost
  * span open at its start. Registered only in traced runs. */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Int)
  final case class Stage(id: Int, attempt: Int, submitMs: Long, doneMs: Long,
      tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long, schedDelayMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long,
      inputRows: Long, inputBytes: Long, outputBytes: Long, outputFiles: Long)

  val jobs = ArrayBuffer[Job]()
  val stages = ArrayBuffer[Stage]()
  val sqlStarts = ArrayBuffer[Long]()
  // per (stage, attempt): summed scheduler delay, and tasks that wrote
  // rows (each writes one file of a non-partitioned write)
  private val delay = new java.util.HashMap[(Int, Int), java.lang.Long]()
  private val writers = new java.util.HashMap[(Int, Int), java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += Job(e.jobId, e.time, -1L, e.stageInfos.size) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      // the Spark UI's scheduler delay: task wall minus what the
      // executor spent deserializing, running and serializing it
      val d = math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime)
      val k = (e.stageId, e.stageAttemptId)
      delay.put(k, delay.getOrDefault(k, 0L) + d)
      if (m.outputMetrics.recordsWritten > 0) writers.put(k, writers.getOrDefault(k, 0L) + 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val k = (i.stageId, i.attemptNumber())
    if (m != null) stages += Stage(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      delay.getOrDefault(k, 0L),
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      writers.getOrDefault(k, 0L))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlStarts += s.time }
    case _ => ()
  }
}

/** QueryExecution phase timings (analysis / optimization / planning)
  * for every successful execution, inner fuzz queries included. */
final class PlanListener extends QueryExecutionListener {
  final case class Exec(endMs: Long, analyzeMs: Long, optimizeMs: Long, physicalMs: Long)
  val execs = ArrayBuffer[Exec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val end = ph.values.map(_.endTimeMs).foldLeft(System.currentTimeMillis())(math.min)
    synchronized {
      execs += Exec(end, dur("analysis"), dur("optimization"), dur("planning"))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Minimal JSON writer for the run record (flat values, arrays and
  * objects of them). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}
