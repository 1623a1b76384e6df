package graftbench

import java.io.PrintWriter
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as the times Spark stamps on listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. `parent` is 0 for a root; every root starts its own
  * trace. Self time is computed when the spans are written. */
final case class Span(trace: String, id: Int, parent: Int, name: String,
    layer: String, startMs: Double, endMs: Double, attrs: Map[String, Any]) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store; written once, as JSON, at the end of a run. */
final class Recorder {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(trace: String, parent: Int, name: String, layer: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty): Span =
    synchronized {
      nextId += 1
      val s = Span(trace, nextId, parent, name, layer, startMs, endMs, attrs)
      spans += s
      s
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span: its duration minus the union of its
    * children's intervals, clipped to the span. */
  def selfTimes: Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }

  def write(path: Path, summary: Map[String, Any]): Unit = {
    val self = selfTimes
    val w = new PrintWriter(path.toFile, "UTF-8")
    try {
      w.println("{\"summary\":" + Json.enc(summary) + ",\"spans\":[")
      all.zipWithIndex.foreach { case (s, i) =>
        w.print(Json.enc(Json.obj(
          "trace_id" -> s.trace, "span_id" -> s.id,
          "parent_id" -> (if (s.parent == 0) null else s.parent),
          "name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.startMs, "dur_ms" -> s.durMs,
          "self_ms" -> self(s.id), "attrs" -> s.attrs)))
        w.println(if (i + 1 < all.length) "," else "")
      }
      w.println("]}")
    } finally w.close()
  }
}

object Intervals {
  /** Length of the union of closed intervals. */
  def unionLength(xs: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }
}

/** Which layer a job belongs to, from its call site: the short call site of
  * the action, or for jobs inside a SQL execution (AQE stages) that
  * execution's description. */
object Layers {
  def of(site: String): String =
    if (site.contains("Checkpointing.scala")) "checkpoint"
    else if (site.contains("StreamingPublish.scala") ||
      site.contains("PartitionedSink.scala") || site.contains("ChessExport.scala")) "publish"
    else if (site.contains("Markdown.scala")) "validate"
    else if (site.contains("ChessPipeline.scala")) "stage"
    else if (site.contains("OpeningEnrichment.scala")) "enrich"
    else "ops"
}

final class JobRec(val id: Int, val startMs: Double, val stageIds: Seq[Int],
    val site: String) {
  @volatile var endMs: Double = Double.NaN
}
final class StageRec(val id: Int, val name: String) {
  var tasks = 0
  var submitMs, endMs = Double.NaN
  var runMs, cpuNs, gcMs, schedMs, fetchWaitMs = 0.0
  var shufWrite, shufRead, spill = 0L
  var scan = false
  val taskMs = mutable.ArrayBuffer.empty[Double]
}

/** Benchmark-owned listener: job, stage and task records plus storage
  * block sizes, all kept in memory for span building and per-layer sums. */
final class Probe extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val sqlDesc = mutable.HashMap.empty[Long, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var stored, peak = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(sqlDesc(s.executionId) = s.description)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = execId.flatMap(sqlDesc.get)
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse(j.stageInfos.lastOption.map(_.name).getOrElse(""))
    jobs(j.jobId) = new JobRec(j.jobId, j.time.toDouble, j.stageIds, site)
    j.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId, si.name)))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.endMs = j.time.toDouble)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val si = s.stageInfo
    val r = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId, si.name))
    r.submitMs = si.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    r.endMs = si.completionTime.map(_.toDouble).getOrElse(Double.NaN)
    r.scan = si.rddInfos.exists(_.name == "DataSourceRDD")
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val r = stages.getOrElseUpdate(t.stageId, new StageRec(t.stageId, ""))
    val m = t.taskMetrics
    r.tasks += 1
    val dur = t.taskInfo.duration.toDouble
    r.taskMs += dur
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.schedMs += math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - t.taskInfo.gettingResultTime)
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      r.shufRead += m.shuffleReadMetrics.totalBytesRead
      r.shufWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = synchronized {
    val info = b.blockUpdatedInfo
    if (info.blockId.isInstanceOf[RDDBlockId]) {
      val key = info.blockId.name
      stored -= blocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid) {
        blocks(key) = info.memSize + info.diskSize
        stored += info.memSize + info.diskSize
      } else blocks.remove(key)
      peak = math.max(peak, stored)
    }
  }

  /** Starts a new storage-peak window at the current stored size. */
  def resetPeak(): Unit = synchronized { peak = stored }
  def storage: (Long, Long) = synchronized((stored, peak))

  /** Jobs that started in [fromMs, toMs]. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs + 1).toList
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.tasks > 0)
  }
}
