package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON encoder for the raw run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-encodable: $other")
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Spans recorded by the benchmark around its calls into graft, kept
  * in memory and written out when the run ends.
  *
  * Span kinds nest as run → pass → op → layer; an ELT table's span
  * is recorded after graft.Main.run returns, as kind "table". Passes
  * and ops are always recorded (the end-to-end metrics come from them);
  * layer spans and the Spark-job listener only exist in a traced run.
  * The innermost open span's id is carried to Spark as a local
  * property, so every job names the span that caused it.
  */
final class Tracer(val traced: Boolean) {
  import Tracer._

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds, at nanoTime resolution, on the
    * same axis as the listener's job times.
    */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var current = 0
  var sc: SparkContext = _

  private def setProperty(): Unit =
    if (sc != null) sc.setLocalProperty(SpanKey, if (current == 0) null else current.toString)

  def open(name: String, kind: String): Span = {
    val s = Span(spans.size + 1, current, name, kind, nowMs)
    spans += s
    current = s.id
    setProperty()
    s
  }

  /** A span whose times were observed after the fact, under the open span. */
  def record(name: String, kind: String, start: Double, end: Double, error: Option[String]): Span = {
    val s = Span(spans.size + 1, current, name, kind, start, end, error.orNull)
    spans += s
    s
  }

  def close(s: Span): Unit = {
    s.end = nowMs
    current = s.parent
    setProperty()
  }

  def span[T](name: String, kind: String)(body: => T): T = {
    val s = open(name, kind)
    try body
    catch { case e: Throwable => s.error = describe(e); throw e }
    finally close(s)
  }

  /** A layer call: a span in a traced run, a plain call otherwise. */
  def layer[T](name: String)(body: => T): T =
    if (traced) span(name, "layer")(body) else body

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "start" -> s.start, "end" -> s.end, "error" -> Option(s.error)))
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        var start: Double, var end: Double = -1, var error: String = null)

  /** One line naming a failure: class and message of the innermost cause. */
  def describe(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val top = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    val root = if (c eq e) "" else s" <- ${c.getClass.getSimpleName}: ${c.getMessage}"
    (top + root).replace('\n', ' ').take(400)
  }
}

/** Records every Spark job, stage and RDD block update of a traced
  * run. The benchmark drains the listener bus before reading.
  */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val parent: Int, val start: Long, val callSite: String,
                  val execution: Long, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1
    @volatile var ok: Boolean = false
  }
  final class Stage(val id: Int, val tasks: Int, val runMs: Long, val cpuNs: Long,
                    val gcMs: Long, val shuffleWriteBytes: Long, val shuffleWriteRecords: Long,
                    val shuffleReadRecords: Long, val inputRecords: Long,
                    val outputRecords: Long, val outputBytes: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  private val taskInputs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val failedTasks = new ConcurrentHashMap[Int, Int]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  private val executionSites = new ConcurrentHashMap[Long, String]()
  @volatile private var blockBytes = 0L
  @volatile var blockBytesPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val parent = prop(Tracer.SpanKey).map(_.toInt).getOrElse(0)
    // the result stage is created last, so it has the highest id; its
    // details hold this job's long call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val execution = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new Job(e.jobId, parent, e.time, site, execution, e.stageIds))
  }

  /** A SQL execution's long call site is taken on the thread that
    * started it; jobs that the execution submits from Spark's own
    * worker threads (broadcasts, AQE stages) carry only those threads'
    * frames in their stage call site.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
    j.end = e.time
    j.ok = e.jobResult == JobSucceeded
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != org.apache.spark.Success)
      failedTasks.merge(e.stageId, 1, (a: Int, b: Int) => a + b)
    if (e.taskMetrics != null) {
      val buf = taskInputs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      buf.synchronized { buf += e.taskMetrics.inputMetrics.recordsRead }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, new Stage(i.stageId, i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.recordsRead, m.inputMetrics.recordsRead,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val prev = Option(blocks.put(b.blockId.name, now)).getOrElse(0L)
      blockBytes += now - prev
      blockBytesPeak = math.max(blockBytesPeak, blockBytes)
    }
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "parent" -> j.parent, "start" -> j.start, "end" -> j.end,
      "ok" -> j.ok, "call_site" -> j.callSite,
      "execution_site" -> Option(executionSites.get(j.execution)).getOrElse(""),
      "stages" -> j.stageIds)),
    "stages" -> stages.values.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
      "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "shuffle_write_records" -> s.shuffleWriteRecords,
      "shuffle_read_records" -> s.shuffleReadRecords,
      "input_records" -> s.inputRecords, "output_records" -> s.outputRecords,
      "output_bytes" -> s.outputBytes,
      "failed_tasks" -> failedTasks.getOrDefault(s.id, 0),
      "task_input_records" -> Option(taskInputs.get(s.id)).map(_.toSeq).getOrElse(Nil))),
    "block_bytes_peak" -> blockBytesPeak)
}
