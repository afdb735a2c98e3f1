package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval of driver wall time around one call into a layer.
  * Spans of one pass share `pass`; `parent` is the enclosing span
  * (0 for the pass root).
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. In a traced pass each span also sets a
  * Spark job group named after itself, so the listener can attribute
  * the span's jobs to its layer.
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1
  @volatile var traced = false
  var pass = 0
  /** Span name active on the driver thread; jobs without a group land here. */
  @volatile var active: String = "bench"

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.fold(0)(_._1)
    val outer = active
    stack = (id, name) :: stack
    active = name
    if (traced) sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      done += Span(id, name, parent, pass, t0, t1)
      stack = stack.tail
      active = outer
      if (traced) {
        if (stack.isEmpty) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
      }
    }
  }

  def spans: Seq[Span] = done.toSeq
  def spansOf(pass: Int): Seq[Span] = done.filter(_.pass == pass).toSeq

  /** Seconds of one span name within a pass (summed if it repeats). */
  def seconds(pass: Int, name: String): Double =
    done.iterator.filter(s => s.pass == pass && s.name == name)
      .map(_.seconds).sum
}

object Tracer {

  /** Length of the union of intervals (start, end). */
  def covered(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((ca, cb) :: done, (a, b)) if a <= cb => (ca, math.max(cb, b)) :: done
        case (merged, next) => next :: merged
      }.map { case (a, b) => b - a }.sum

  /** Self time per layer: each span's duration minus the part of its
    * interval its child spans cover, summed by layer.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.pass == s.pass)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      s.layer -> (s.endNs - s.startNs - covered(kids)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Task-level totals of one layer within one pass. */
final class LayerAcc {
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** SparkListener the benchmark registers. Always: RDD block storage
  * (current and peak bytes held in cached or checkpointed blocks).
  * When tracing: per-layer task metrics keyed by the job group a span
  * set, stage pipelines for the recompute count, and file bytes read
  * and written.
  *
  * Attribution: a job whose result stage is an eager checkpoint
  * (`localCheckpoint at …` / `checkpoint at …`) belongs to `core`, the
  * materialization layer; any other job to the layer of its job group,
  * or of the span active on the driver when it started.
  */
final class Probe(slots: Int, tracer: Tracer) extends SparkListener {

  val FenceGroup = "perfbench.fence"

  // ---- storage (always on) ----
  private val blocks = mutable.HashMap.empty[String, Long]
  private var current = 0L
  private var peak = 0L
  private var stored = 0L
  private var storedBytes = 0L

  // ---- per pass, traced passes only ----
  private val jobLayer = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageWallMs = mutable.HashMap.empty[Int, Long]
  private val rddStages = mutable.HashMap.empty[Int, mutable.Set[Int]]
  private val layers = mutable.HashMap.empty[String, LayerAcc]
  private var bytesRead = 0L
  private var bytesWritten = 0L
  private val planMs = mutable.HashMap.empty[String, Long]
  private var fenceSeen = 0L
  private val fenceJobs = mutable.Set.empty[Int]

  private def acc(layer: String) = layers.getOrElseUpdate(layer, new LayerAcc)

  /** Reset the per-pass counters; the peak restarts at what is held now. */
  def startPass(): Unit = synchronized {
    peak = current; stored = 0L; storedBytes = 0L
    jobLayer.clear(); jobStart.clear(); stageLayer.clear()
    stageTaskMs.clear(); stageWallMs.clear(); rddStages.clear()
    layers.clear(); planMs.clear(); bytesRead = 0L; bytesWritten = 0L
  }

  def heldBytes: Long = synchronized(current)

  /** Block until every event posted before this call has been handled:
    * run a one-task job in the fence group and wait for its end event,
    * which the listener bus delivers after all earlier events.
    */
  def fence(sc: SparkContext): Unit = {
    val want = synchronized(fenceSeen) + 1
    sc.setJobGroup(FenceGroup, FenceGroup)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    synchronized {
      while (fenceSeen < want && System.nanoTime() < deadline) wait(50)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val before = blocks.getOrElse(id, 0L)
      if (info.storageLevel.isValid) {
        val bytes = info.memSize + info.diskSize
        blocks(id) = bytes
        current += bytes - before
        if (before == 0L) { stored += 1; storedBytes += bytes }
      } else {
        blocks.remove(id)
        current -= before
      }
      peak = math.max(peak, current)
    }
  }

  /** RDD unpersists remove their blocks without block-update events. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toSeq.foreach { id =>
      current -= blocks.remove(id).getOrElse(0L)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    if (group.contains(FenceGroup)) fenceJobs += e.jobId
    else if (tracer.traced) {
      // a job's result stage carries the job's call site as its name
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val layer =
        if (site.startsWith("localCheckpoint at") ||
            site.startsWith("checkpoint at")) "core"
        else group.getOrElse(tracer.active).takeWhile(_ != '.')
      jobLayer(e.jobId) = layer
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageLayer(_) = layer)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLayer.get(e.jobId).foreach(l =>
      acc(l).jobIntervals += ((jobStart(e.jobId), e.time)))
    if (fenceJobs.remove(e.jobId)) { fenceSeen += 1; notifyAll() }
  }

  /** Mark the RDDs a submitted stage will compute: walk its pipeline
    * from the stage's own RDD, stopping at shuffle reads and at
    * persisted RDDs that already hold blocks (those are read, not
    * computed). An RDD computed by two stages of one pass is a
    * recompute.
    */
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    if (tracer.traced && stageLayer.contains(si.stageId) && si.attemptNumber() == 0) {
      val byId = si.rddInfos.map(r => r.id -> r).toMap
      val cachedRdds = blocks.keysIterator.map(_.split('_')(1).toInt).toSet
      var frontier = si.rddInfos.headOption.toList
      val seen = mutable.Set.empty[Int]
      while (frontier.nonEmpty) {
        val r = frontier.head
        frontier = frontier.tail
        val isRead = r.name.contains("Shuffled") ||
          (r.storageLevel.isValid && cachedRdds.contains(r.id))
        if (!isRead && seen.add(r.id)) {
          rddStages.getOrElseUpdate(r.id, mutable.Set.empty) += si.stageId
          frontier = r.parentIds.flatMap(byId.get).toList ++ frontier
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (tracer.traced && stageLayer.contains(si.stageId))
      for (a <- si.submissionTime; b <- si.completionTime)
        stageWallMs(si.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (tracer.traced) stageLayer.get(e.stageId).foreach { layer =>
      val a = acc(layer)
      a.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) a.failedTasks += 1
      a.taskMs += e.taskInfo.duration
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.busyMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        bytesRead += m.inputMetrics.bytesRead
        bytesWritten += m.outputMetrics.bytesWritten
        if (m.inputMetrics.bytesRead > 0 || m.outputMetrics.bytesWritten > 0) {
          val s = acc("sources")
          s.tasks += 1
          s.busyMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.taskMs += e.taskInfo.duration
          if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) s.failedTasks += 1
        }
      }
    }
  }

  /** Planning time per phase, from each finished query's tracker. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = Probe.this.synchronized {
      if (tracer.traced) qe.tracker.phases.foreach { case (phase, p) =>
        planMs(phase) = planMs.getOrElse(phase, 0L) + p.durationMs
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
  }

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** Storage figures of the pass: (peak MB, blocks stored, MB stored). */
  def storage: (Double, Long, Double) = synchronized(
    (peak / 1048576.0, stored, storedBytes / 1048576.0))

  /** Listener metrics of the pass, by layer. Call after [[fence]]. */
  def layerMetrics(names: Seq[String]): Map[String, Double] = synchronized {
    names.flatMap { layer =>
      val a = layers.getOrElse(layer, new LayerAcc)
      val stages = stageLayer.collect { case (s, l) if l == layer => s }.toSeq
      val slowest = stages.filter(stageWallMs.contains)
        .sortBy(s => -stageWallMs(s)).headOption
      val skew = slowest.flatMap(stageTaskMs.get).filter(_.nonEmpty)
        .map(t => t.max / math.max(median(t.toSeq), 1.0)).getOrElse(0.0)
      val waitMs = math.max(0L, Tracer.covered(a.jobIntervals.toSeq) * slots - a.taskMs)
      val common = Seq(
        s"$layer.busy_s" -> a.busyMs / 1e3,
        s"$layer.cpu_s" -> a.cpuNs / 1e9,
        s"$layer.gc_s" -> a.gcMs / 1e3,
        s"$layer.tasks" -> a.tasks.toDouble,
        s"$layer.failed_tasks" -> a.failedTasks.toDouble)
      // sources tasks (file scans and writes) run inside other layers'
      // jobs and stages: no job time, shuffle or stage of their own
      if (layer == "sources") common
      else common ++ Seq(s"$layer.wait_s" -> waitMs / 1e3,
        s"$layer.shuffle_mb" -> a.shuffleBytes / 1048576.0,
        s"$layer.spill_mb" -> a.spillBytes / 1048576.0,
        s"$layer.task_skew" -> skew)
    }.toMap ++ Map(
      "sources.bytes_read" -> bytesRead.toDouble,
      "sources.bytes_written" -> bytesWritten.toDouble,
      "core.recompute_count" -> rddStages.count(_._2.size > 1).toDouble,
      "spark_sql.analysis_ms" -> planMs.getOrElse("analysis", 0L).toDouble,
      "spark_sql.optimization_ms" ->
        planMs.getOrElse("optimization", 0L).toDouble,
      "spark_sql.physical_ms" -> planMs.getOrElse("planning", 0L).toDouble)
  }
}
