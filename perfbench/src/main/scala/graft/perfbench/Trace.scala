package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed layer call: `parent` is the id of the span that caused it
  * (0 for a root), `trace` groups the spans of one cycle. */
final case class Span(trace: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Where a traced call's spans go: under span `parent` of trace `trace`. */
final case class Ctx(tracer: Tracer, trace: Int, parent: Int) {

  /** Time `f` as a child span named `name`; `f` gets the child's context. */
  def apply[T](name: String)(f: Ctx => T): T = {
    val t0 = System.nanoTime()
    val id = tracer.reserve()
    try f(copy(parent = id))
    finally tracer.put(Span(trace, id, parent, name, t0, System.nanoTime()))
  }
}

/** In-memory span recorder. The benchmark opens spans around its own calls
  * into each layer; nothing inside the library is instrumented. Spans stay
  * in memory and are written out once, when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  def reserve(): Int = { val id = nextId; nextId += 1; id }

  def put(s: Span): Unit = spans += s

  def record(trace: Int, parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = reserve()
    put(Span(trace, id, parent, name, startNs, endNs))
    id
  }

  def root(trace: Int): Ctx = Ctx(this, trace, 0)

  def all: Seq[Span] = spans.toSeq

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Share of a span's interval that its leaf descendants cover. */
  def leafCoverage(root: Span): Double = {
    def leaves(s: Span): Seq[Span] = {
      val cs = children(s.id)
      if (cs.isEmpty) Seq(s) else cs.flatMap(leaves)
    }
    val ivs = leaves(root).filter(_.id != root.id).map(s => (s.startNs, s.endNs)).sortBy(_._1)
    var covered = 0L
    var end = root.startNs
    ivs.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    covered.toDouble / math.max(root.endNs - root.startNs, 1L)
  }

  /** Write every span as one JSON line. */
  def writeTo(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s => Stats.json(Map(
      "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Spark runtime totals since the last [[SparkCounters.take]]. */
final case class SparkTotals(
    jobs: Long, stages: Long, tasks: Long, shuffleWriteBytes: Long,
    spillBytes: Long, outputBytes: Long, executorCpuNs: Long, gcMs: Long)

/** A `SparkListener` the benchmark registers itself. It sums job, stage
  * and task counts and task metrics. [[take]] first runs a one-task marker
  * job and waits for its end event: the listener bus delivers events in
  * order, so every event of earlier jobs has been counted by then. The
  * marker's own job, stage and task are not counted. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val MarkerProp = "perfbench.marker"
  private val lock = new Object
  private var markerStages = Set.empty[Int]
  private var markerJobs = Set.empty[Int]
  private var markersSeen = 0L
  private var t = SparkTotals(0, 0, 0, 0, 0, 0, 0, 0)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val marker = Option(e.properties).exists(_.getProperty(MarkerProp) != null)
    if (marker) { markerJobs += e.jobId; markerStages ++= e.stageIds }
    else t = t.copy(jobs = t.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    if (!markerStages.contains(e.stageInfo.stageId)) t = t.copy(stages = t.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (!markerStages.contains(e.stageId) && m != null)
      t = t.copy(
        tasks = t.tasks + 1,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = t.spillBytes + m.diskBytesSpilled,
        outputBytes = t.outputBytes + m.outputMetrics.bytesWritten,
        executorCpuNs = t.executorCpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    if (markerJobs.contains(e.jobId)) { markersSeen += 1; lock.notifyAll() }
  }

  /** Totals since the previous call, after every earlier event arrived. */
  def take(): SparkTotals = {
    val want = lock.synchronized(markersSeen) + 1
    sc.setLocalProperty(MarkerProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    lock.synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (markersSeen < want && System.currentTimeMillis() < deadline) lock.wait(100)
      require(markersSeen >= want, "listener bus did not deliver the marker job's end event")
      val r = t
      t = SparkTotals(0, 0, 0, 0, 0, 0, 0, 0)
      r
    }
  }
}
