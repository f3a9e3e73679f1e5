package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

/** Task counts summed over some set of tasks. */
final class Counters {
  var tasks = 0L
  var runMs = 0L        // executorRunTime
  var cpuNs = 0L        // executorCpuTime
  var shuffleBytes = 0L // shuffle bytes written
  var spillBytes = 0L   // bytes spilled to disk

  def add(o: Counters): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
  def copy(): Counters = { val c = new Counters; c.add(this); c }
  def minus(o: Counters): Counters = {
    val c = copy()
    c.tasks -= o.tasks; c.runMs -= o.runMs; c.cpuNs -= o.cpuNs
    c.shuffleBytes -= o.shuffleBytes; c.spillBytes -= o.spillBytes
    c
  }
}

/** Sums every finished task's metrics, in total and per Spark job group. A
  * job's group is the `spark.jobGroup.id` local property of the thread that
  * submitted it; the tracer sets one group per span. */
final class TaskListener(sc: org.apache.spark.SparkContext) extends SparkListener {
  private val stageGroup = scala.collection.mutable.HashMap[Int, String]()
  private val groups = scala.collection.mutable.HashMap[String, Counters]()
  private val all = new Counters

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = new Counters
      c.tasks = 1
      c.runMs = m.executorRunTime
      c.cpuNs = m.executorCpuTime
      c.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      c.spillBytes = m.diskBytesSpilled
      all.add(c)
      groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Counters).add(c)
    }
  }

  /** Totals after every queued event has been delivered. */
  def total(): Counters = { PerfbenchBus.drain(sc); synchronized(all.copy()) }

  def group(g: String): Counters = synchronized(groups.get(g).map(_.copy()).getOrElse(new Counters))
}

/** One record per finished streaming micro-batch. */
final case class BatchProgress(batchId: Long, durationS: Double, inputRows: Long,
                               stateRows: Long, stateMemBytes: Long)

final class ProgressListener extends StreamingQueryListener {
  private val buf = ArrayBuffer[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    buf += BatchProgress(p.batchId, dur / 1e3, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
  }
  def clear(): Unit = synchronized(buf.clear())
  def batches: Seq[BatchProgress] = synchronized(buf.toList)
}

/** A span: one call into a layer, or the whole traced iteration (`parent`
  * = -1). Times are nanoTime readings. */
final case class Span(id: Int, parent: Int, name: String, call: String, run: String,
                      startNs: Long, endNs: Long, rows: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Records spans around layer calls. When disabled every method just runs
  * its body, so the untraced runs compose lazily as a user would write them.
  * When enabled each span runs under its own Spark job group (so the task
  * listener can attribute work to it) and a span producing a DataFrame
  * materializes it (persist + count) so its work lands inside the span. */
final class Tracer(spark: SparkSession, @volatile var enabled: Boolean, val run: String) {
  private val sc = spark.sparkContext
  private val done = ArrayBuffer[Span]()
  private val cached = ArrayBuffer[DataFrame]()
  private var nextId = 0

  def groupOf(id: Int): String = s"$run/span-$id"

  /** Runs `body` as span `name` (under `parent`). `body` gets the span id,
    * for child spans. */
  def span[A](name: String, call: String, parent: Int)(body: Int => A): A =
    counted(name, call, parent)(body)(_ => -1L)

  /** [[span]], with `rows` reading the span's output row count from the
    * result. */
  def counted[A](name: String, call: String, parent: Int)(body: Int => A)(rows: A => Long): A =
    if (!enabled) body(-1)
    else {
      val id = synchronized { nextId += 1; nextId }
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(groupOf(id), s"$name $call", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val out = body(id)
        val n = rows(out)
        synchronized { done += Span(id, parent, name, call, run, t0, System.nanoTime(), n) }
        out
      } finally {
        if (prev == null) sc.clearJobGroup()
        else sc.setJobGroup(prev, prevDesc, interruptOnCancel = false)
      }
    }

  /** A span whose result is a DataFrame: when tracing, the frame is
    * persisted and counted inside the span. */
  def frame(name: String, call: String, parent: Int)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else {
      var n = 0L
      val df = counted(name, call, parent) { _ =>
        val d = body.persist(StorageLevel.MEMORY_AND_DISK)
        n = d.count()
        d
      }(_ => n)
      synchronized { cached += df }
      df
    }

  /** Releases the frames materialized since the last call. */
  def release(): Unit = synchronized {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }

  def spans: Seq[Span] = synchronized(done.toList)
}

/** Per-layer figures of a set of spans: self time (span time not covered by
  * child spans) and the task counts of the spans' own job groups. */
final case class LayerStats(selfS: Double, taskCpuS: Double, idleCoreS: Double,
                            shuffleMb: Double, spillMb: Double, rowsOut: Long, tasks: Long)

object Trace {
  val Mb = 1024.0 * 1024.0

  /** Self time of each span: its duration minus the union of its
    * children's intervals (children of one parent may overlap when a layer
    * submits work from several threads). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Children must lie within their parent, and self time must be ≥ 0. */
  def nestingErrors(spans: Seq[Span]): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    val self = selfTimes(spans)
    spans.flatMap { s =>
      val p = byId.get(s.parent)
      val outside = p.exists(pp => s.startNs < pp.startNs || s.endNs > pp.endNs)
      (if (outside) Seq(s"span ${s.id} ${s.name} lies outside its parent ${s.parent}") else Nil) ++
        (if (s.parent >= 0 && p.isEmpty) Seq(s"span ${s.id} ${s.name} has unknown parent ${s.parent}") else Nil) ++
        (if (self(s.id) < 0) Seq(s"span ${s.id} ${s.name} has negative self time") else Nil)
    }
  }

  def layerStats(spans: Seq[Span], tracer: Tracer, tasks: TaskListener, cores: Int): Map[String, LayerStats] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (name, ss) =>
      var st = LayerStats(0, 0, 0, 0, 0, 0, 0)
      ss.foreach { s =>
        val c = tasks.group(tracer.groupOf(s.id))
        st = LayerStats(st.selfS + self(s.id), st.taskCpuS + c.cpuNs / 1e9,
          st.idleCoreS + self(s.id) * cores - c.runMs / 1e3,
          st.shuffleMb + c.shuffleBytes / Mb, st.spillMb + c.spillBytes / Mb,
          st.rowsOut + math.max(0L, s.rows), st.tasks + c.tasks)
      }
      name -> st
    }
  }

  def json(s: Span, t0: Long, c: Counters): String =
    s"""{"run": ${Json.str(s.run)}, "span": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
      s""""call": ${Json.str(s.call)}, "start_s": ${(s.startNs - t0) / 1e9}, "end_s": ${(s.endNs - t0) / 1e9}, """ +
      s""""rows_out": ${s.rows}, "tasks": ${c.tasks}, "task_run_s": ${c.runMs / 1e3}, "task_cpu_s": ${c.cpuNs / 1e9}, """ +
      s""""shuffle_write_mb": ${c.shuffleBytes / Mb}, "spill_mb": ${c.spillBytes / Mb}}"""
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
