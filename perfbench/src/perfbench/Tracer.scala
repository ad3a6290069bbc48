package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans and engine counters for the traced loop, from Spark's public
  * listener and metrics APIs only.
  *
  * A span is one call the benchmark makes: an operation (`bench`), a call
  * into a module's public function (layer named after the module), or a
  * Spark job (`engine`, from the listener). Each span records its parent
  * and the operation id; spans stay in memory and are written when the run
  * ends. Jobs, stages and tasks are attributed to operations through a
  * local property set on the driver thread (stream threads inherit it). */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  // Driver-thread spans.
  private val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opSeq = 0
  private var curOp = 0

  // Listener-bus state (a different thread: guard with `lock`).
  private val lock = new Object
  private var lastEventMs = nowMs()
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val jobEnd = mutable.Map.empty[Int, Double]
  private val stageOp = mutable.Map.empty[Int, Int]
  private var stagesCompleted = 0
  private val taskIntervals = mutable.Map.empty[Int, ArrayBuffer[(Double, Double)]]
  private val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Double]]
  private var taskRunMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var fetchWaitMs = 0L
  private var spillBytes = 0L
  private var tasksFailed = 0L
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  // Codegen compilations while attached. The compile-time histogram keeps
  // a sample, not a sum: its mean times its count estimates the total.
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
  private var codegenMark = codegen()
  private var classesCompiled = 0L
  private var compileMs = 0.0

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress; lastEventMs = nowMs() }
  }

  // ---- driver side ------------------------------------------------------

  def op[A](name: String)(f: => A): A = {
    opSeq += 1
    curOp = opSeq
    sc.setLocalProperty(OpProperty, curOp.toString)
    try span(name, "bench")(f)
    finally { sc.setLocalProperty(OpProperty, null); curOp = 0 }
  }

  def span[A](name: String, layer: String)(f: => A): A = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, curOp, name, layer, nowMs(), Double.NaN)
    stack.push(id)
    try f
    finally {
      stack.pop()
      spans(id) = spans(id).copy(endMs = nowMs())
    }
  }

  /** Wait until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = nowMs() + 15000
    def settled = lock.synchronized {
      jobEnd.size == jobStart.size && nowMs() - lastEventMs > 300
    }
    while (!settled && nowMs() < deadline) Thread.sleep(50)
  }

  def attach(): Unit = {
    codegenMark = codegen()
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
    Tracer.current = Some(this)
  }

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
    Tracer.current = None
    val (count, ms) = codegen()
    classesCompiled += count - codegenMark._1
    compileMs += ms - codegenMark._2
  }

  // ---- listener side ----------------------------------------------------

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val op = opOf(e.properties)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(s => stageOp(s) = op)
    lastEventMs = nowMs()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobEnd(e.jobId) = e.time.toDouble
    lastEventMs = nowMs()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stagesCompleted += 1
    lastEventMs = nowMs()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    lastEventMs = nowMs()
    if (e.reason != Success) tasksFailed += 1
    val info = e.taskInfo
    val op = stageOp.getOrElse(e.stageId, 0)
    taskIntervals.getOrElseUpdate(op, ArrayBuffer.empty) +=
      (info.launchTime.toDouble -> info.finishTime.toDouble)
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime.toDouble
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled
    }
  }

  // ---- results ----------------------------------------------------------

  /** Spark jobs as `engine` spans, parented to the innermost call span of
    * their operation that was open when the job started. */
  private def jobSpans: Seq[Span] = lock.synchronized {
    jobStart.toSeq.sortBy(_._1).flatMap { case (job, start) =>
      jobEnd.get(job).map { end =>
        val op = jobOp(job)
        val parent = spans.filter(s => s.op == op && s.op != 0 && s.startMs <= start &&
          s.endMs >= start).sortBy(-_.startMs).headOption.map(_.id).getOrElse(-1)
        Span(-1, parent, op, s"job $job", "engine", start, end)
      }
    }.zipWithIndex.map { case (s, i) => s.copy(id = spans.size + i) }
  }

  /** Union length of possibly overlapping intervals, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val iv = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer metrics, per traced iteration, merged with `extra`. */
  def metrics(iterations: Int, extra: Map[String, Double]): Map[String, Double] = lock.synchronized {
    val n = math.max(1, iterations).toDouble
    val all = spans.toSeq ++ jobSpans
    val children = all.groupBy(_.parent)
    // Self time: duration minus the part of it that child spans cover.
    val selfMs = all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.durMs - covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
          s.startMs, s.endMs)
      }.sum
    }
    val opSpans = spans.filter(s => s.parent == -1 && s.op != 0)
    val gapMs = opSpans.map(s => s.durMs -
      covered(taskIntervals.getOrElse(s.op, ArrayBuffer.empty).toSeq, s.startMs, s.endMs)).sum
    val hot = stageTaskMs.values.toSeq.sortBy(-_.sum).headOption
      .map(ts => ts.max / math.max(1.0, Workload.median(ts.toSeq))).getOrElse(0.0)
    val lastPerRun = progress.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val streamRows = progress.map(_.numInputRows.toDouble).sum
    val triggerMs = progress.map(dur(_, "triggerExecution")).sum
    val layers = Seq("bench", "plans", "loops", "streaming", "pipeline", "operators", "engine")
    Map(
      "plans.codegen_compile_s" -> compileMs / 1000 / n,
      "plans.classes_compiled" -> classesCompiled / n,
      "operators.task_s" -> taskRunMs / 1000.0 / n,
      "operators.shuffle_write_bytes" -> shuffleWrite / n,
      "operators.shuffle_read_bytes" -> shuffleRead / n,
      "operators.fetch_wait_s" -> fetchWaitMs / 1000.0 / n,
      "operators.spill_bytes" -> spillBytes / n,
      "operators.hot_stage_skew" -> hot,
      "operators.tasks_failed" -> tasksFailed.toDouble,
      "loops.jobs" -> jobStart.size / n,
      "loops.stages" -> stagesCompleted / n,
      "loops.driver_gap_s" -> gapMs / 1000 / n,
      "streaming.batches" -> progress.size / n,
      "streaming.add_batch_s" -> progress.map(dur(_, "addBatch")).sum / 1000 / n,
      "streaming.commit_s" ->
        progress.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / 1000 / n,
      "streaming.state_rows" ->
        lastPerRun.map(_.stateOperators.map(s => math.max(0L, s.numRowsTotal)).sum).sum / n,
      "streaming.state_memory_bytes" ->
        lastPerRun.map(_.stateOperators.map(s => math.max(0L, s.memoryUsedBytes)).sum).sum / n,
      "streaming.rows_per_s" -> (if (triggerMs > 0) streamRows / (triggerMs / 1000) else 0.0)
    ) ++ layers.map(l => s"self_s.$l" -> selfMs.getOrElse(l, 0.0) / 1000 / n) ++ extra
  }

  /** Write every span as JSON; returns the path. */
  def write(path: String): String = {
    val rows = (spans.toSeq ++ jobSpans).map { s =>
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))
    }
    Files.writeString(Paths.get(path), rows.mkString("[\n", ",\n", "\n]\n"))
    path
  }
}

object Tracer {
  private val OpProperty = "perfbench.op"

  final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                        startMs: Double, endMs: Double) {
    def durMs: Double = endMs - startMs
  }

  @volatile private var current: Option[Tracer] = None

  /** A span around one call into a module when tracing; a plain call otherwise. */
  def call[A](name: String, layer: String)(f: => A): A =
    current.fold(f)(_.span(name, layer)(f))
}
