package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds, monotone within the run (nanoTime
  * offset from one epoch reading), so spans and Spark's epoch-millisecond
  * event times share one time base.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** Spans the harness opens around each call it makes into a layer.
  * Calls and failures are counted in both modes; intervals are kept only
  * when tracing is on, in memory, and written out when the run ends. A
  * span notes whether the thread that built the tracer opened it: only
  * those make layer calls one at a time.
  */
final class Tracer(val traced: Boolean) {
  final case class Span(id: Int, parent: Int, layer: String, call: String,
      startUs: Long, endUs: Long, ok: Boolean, main: Boolean)

  private val mainThread = Thread.currentThread()

  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  private var attempted = 0L
  private var failed = 0L

  def apply[A](layer: String, call: String)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val stack = open.get
    open.set(id :: stack)
    val start = Clock.nowUs()
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      val end = Clock.nowUs()
      open.set(stack)
      synchronized {
        attempted += 1
        if (!ok) failed += 1
        if (traced) spans += Span(id, stack.headOption.getOrElse(0), layer, call, start, end, ok,
          Thread.currentThread() eq mainThread)
      }
    }
  }

  def counts: (Long, Long) = synchronized((attempted, failed))

  def toJson: Json.V = synchronized(Json.arr(spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "call" -> s.call,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "ok" -> s.ok, "main" -> s.main)
  }))
}

/** Job, stage and task counts and shuffle bytes from the Spark listener
  * bus. Registered only in traced runs; the metrics step attributes each
  * job to the innermost span whose interval contains the job's start.
  */
final class JobRecorder extends SparkListener {
  private final case class Job(id: Int, startMs: Long, stages: Seq[Int], var endMs: Long, var ok: Boolean)
  private final case class Stage(tasks: Int, read: Long, written: Long, meta: Boolean)
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds, -1L, ok = false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    // parquet footer reads for schema inference run as their own job
    // whose call stack passes through ParquetFileFormat's footer merge
    val meta = i.details.contains("mergeSchemasInParallel") ||
      i.details.contains("readParquetFootersInParallel") || i.details.contains("inferSchema")
    stages(i.stageId) = Stage(i.numTasks,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten, meta)
  }

  def toJson: Json.V = synchronized(Json.arr(jobs.toSeq.map { j =>
    // stages skipped because their shuffle output was reused never
    // complete, so only stages that ran contribute counts
    val ran = j.stages.flatMap(stages.get)
    Json.obj("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.ok,
      "stages" -> ran.size, "tasks" -> ran.map(_.tasks).sum,
      "shuffle_read_bytes" -> ran.map(_.read).sum,
      "shuffle_write_bytes" -> ran.map(_.written).sum,
      "meta" -> ran.exists(_.meta))
  }))
}

/** Micro-batches seen by the streaming listener bus. */
final class MicroBatchRecorder extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[(Long, Long, Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += ((java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchId, p.numInputRows))
  }
  def toJson: Json.V = synchronized(Json.arr(batches.toSeq.map { case (t, b, n) =>
    Json.obj("ts_ms" -> t, "batch_id" -> b, "rows" -> n)
  }))
}

/** Minimal JSON writer for the result file. */
object Json {
  sealed trait V
  final case class Raw(s: String) extends V
  implicit def fromInt(i: Int): V = Raw(i.toString)
  implicit def fromLong(l: Long): V = Raw(l.toString)
  implicit def fromDouble(d: Double): V = Raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
  implicit def fromBool(b: Boolean): V = Raw(b.toString)
  implicit def fromString(s: String): V = Raw(quote(s))
  implicit def fromSeqV(xs: Seq[V]): V = arr(xs)
  def arr(xs: Seq[V]): V = Raw(xs.map(render).mkString("[", ",", "]"))
  def obj(kv: (String, V)*): V = Raw(kv.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))
  def render(v: V): String = v match { case Raw(s) => s }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
