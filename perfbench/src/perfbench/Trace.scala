package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** A span: name, start, end (epoch ms), the span that caused it, and the run
  * id shared by every span of one `Main.main` call. */
final case class Span(run: String, id: Int, parent: Int, name: String, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

final class JobRec(val id: Int, val startMs: Long, val execId: Long, val stageIds: Seq[Int],
    val stageDetails: String) {
  var endMs: Long = -1
}

final class StageRec(val id: Int, var name: String) {
  var submitMs: Long = -1
  var endMs: Long = -1
  val runMs = mutable.ArrayBuffer.empty[Long]
  var cpuNs, gcMs, inBytes, shuffleWriteBytes, outBytes, spillBytes = 0L
}

/** What the listeners saw during one `Main.main` call. Listener callbacks
  * run on Spark's listener-bus thread; `SparkContext.stop` drains the bus
  * before `Main.main` returns, so the harness reads a complete record. */
final class RunRecord(val runId: String) {
  /** When Spark instantiated the trace listener: the end of SparkContext
    * start-up (the application-start event carries the start-up's begin). */
  var contextReadyMs: Long = -1
  var appEndMs: Long = -1
  private val blockMem = mutable.HashMap.empty[String, (Boolean, Long)]
  private var rddMem, allMem = 0L
  var rddPeak, allPeak = 0L
  /** SQL execution id -> (call site, arguments of its write commands) */
  val executions = mutable.HashMap.empty[Long, (String, String)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  def block(id: String, isRdd: Boolean, memSize: Long): Unit = synchronized {
    blockMem.remove(id).foreach { case (rdd, m) => allMem -= m; if (rdd) rddMem -= m }
    if (memSize > 0) {
      blockMem(id) = (isRdd, memSize)
      allMem += memSize
      if (isRdd) rddMem += memSize
    }
    rddPeak = math.max(rddPeak, rddMem)
    allPeak = math.max(allPeak, allMem)
  }
}

object Recorder {
  @volatile var current: RunRecord = null
}

/** Always attached (through `spark.extraListeners`): storage memory held by
  * blocks, for `cache_peak_mb`. */
class CacheListener extends SparkListener {
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val r = Recorder.current
    if (r != null) {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD || b.blockId.isBroadcast)
        r.block(b.blockId.name, b.blockId.isRDD, if (b.storageLevel.isValid) b.memSize else 0L)
    }
  }
}

/** Attached in traced runs only: application, SQL execution, job, stage and
  * task events. */
class TraceListener extends CacheListener {
  rec(_.contextReadyMs = System.currentTimeMillis())

  private def rec[A](f: RunRecord => A): Unit = {
    val r = Recorder.current
    if (r != null) r.synchronized { f(r) }
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = rec(_.appEndMs = e.time)

  /** The arguments of the plan's write commands (their target paths). */
  private def commands(p: SparkPlanInfo): Seq[String] =
    (if (p.nodeName.contains("Command")) Seq(p.simpleString) else Nil) ++ p.children.flatMap(commands)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      rec(_.executions(s.executionId) = (s.details, commands(s.sparkPlanInfo).mkString("\n")))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    // the result stage is created last: its details carry the job's call site
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    rec(_.jobs += new JobRec(e.jobId, e.time, execId, e.stageIds, details))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec(_.jobs.find(_.id == e.jobId).foreach(_.endMs = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = rec { r =>
    val i = e.stageInfo
    val s = r.stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId, i.name))
    s.name = i.name
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.endMs = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) rec { r =>
      val s = r.stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, ""))
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.outBytes += m.outputMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }
}

/** One traced `Main.main` call, attributed to Main's phases. */
final case class TracedRun(phases: Map[String, Double], spark: Map[String, Double], spans: Seq[Span])

object Phases {
  /** Main's phases in the order it runs them. */
  val Names: Seq[String] = Seq("session", "plan", "resume", "extract", "commit_data",
    "commit_manifest", "publish", "stop")

  /** Phase of a Spark job, from the call site that submitted it. Writes are
    * told apart by their target under the output directory (Checkpoint's
    * `extracted/` and `_manifest/` layout), everything else by the first
    * program frame on the call stack. */
  def label(j: JobRec, r: RunRecord): String = {
    val (site, target) = r.executions.getOrElse(j.execId, (j.stageDetails, ""))
    if (target.contains("/_manifest/")) "commit_manifest"
    else if (target.contains("/extracted/")) "commit_data"
    else if (site.contains("graft.pipeline.Checkpoint$.resume") ||
      site.contains("graft.pipeline.Checkpoint$.doneUrls")) "resume"
    else if (site.contains("graft.pipeline.TableIO$")) "plan"
    else if (site.contains("graft.pipeline.Main$")) "extract"
    else "other"
  }

  /** Phase intervals: `session` runs from the call to the SparkContext being up;
    * each job owns the interval since the previous job ended (the driver
    * work that led up to it); `publish` runs from the last job to the
    * application end (the commit renames), `stop` from there to the return.
    * Jobs no rule attributes land in "other", which phase coverage leaves
    * out. */
  def analyse(r: RunRecord, callMs: Long, returnMs: Long, cores: Int): TracedRun = {
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, s: Long, e: Long): Int = {
      spans += Span(r.runId, spans.length, parent, name, s, math.max(s, e)); spans.length - 1
    }
    val root = span(-1, "main", callMs, returnMs)
    val ready = if (r.contextReadyMs > 0) r.contextReadyMs else callMs
    val appEnd = if (r.appEndMs > 0) r.appEndMs else returnMs
    val dur = mutable.LinkedHashMap(Names.map(_ -> 0L): _*)
    dur("other") = 0L
    val intervals = mutable.ArrayBuffer.empty[(String, Long, Long, JobRec)]
    var boundary = ready
    r.jobs.sortBy(j => (j.startMs, j.id)).foreach { j =>
      val end = math.max(boundary, if (j.endMs > 0) j.endMs else j.startMs)
      val l = label(j, r)
      intervals += ((l, boundary, end, j))
      dur(l) += end - boundary
      boundary = end
    }
    dur("session") = ready - callMs
    dur("publish") = math.max(0L, appEnd - boundary)
    dur("stop") = math.max(0L, returnMs - appEnd)

    // span tree: main > phase > job > stage
    val phaseSpan = mutable.HashMap.empty[String, Int]
    def phaseOf(l: String, s: Long, e: Long): Int = phaseSpan.get(l) match {
      case Some(i) =>
        val p = spans(i)
        spans(i) = p.copy(startMs = math.min(p.startMs, s), endMs = math.max(p.endMs, e)); i
      case None => val i = span(root, l, s, e); phaseSpan(l) = i; i
    }
    phaseOf("session", callMs, ready)
    intervals.foreach { case (l, s, e, j) =>
      val p = phaseOf(l, s, e)
      val js = span(p, s"job ${j.id}", j.startMs, if (j.endMs > 0) j.endMs else j.startMs)
      j.stageIds.flatMap(r.stages.get).filter(_.submitMs > 0).foreach(st =>
        span(js, s"stage ${st.id} ${st.name}", st.submitMs, st.endMs))
    }
    phaseOf("publish", boundary, appEnd)
    phaseOf("stop", appEnd, returnMs)

    // engine totals, and the extract stage: the extract phase's stage with the most task time
    val all = r.stages.values.toSeq
    val extractJobs = intervals.filter(_._1 == "extract")
    val extractStages = extractJobs.flatMap(_._4.stageIds).distinct.flatMap(r.stages.get)
    val extractWallMs = math.max(1L, dur("extract"))
    val extractRunMs = extractStages.map(_.runMs.sum).sum
    val hot = if (extractStages.isEmpty) None else Some(extractStages.maxBy(_.runMs.sum))
    val skew = hot.map { s =>
      val t = s.runMs.map(_.toDouble).toSeq
      val p50 = Stats.percentile(t, 50)
      if (p50 > 0) t.max / p50 else 1.0
    }.getOrElse(0.0)
    val mb = 1e6
    val spark = Map(
      "run_s" -> all.map(_.runMs.sum).sum / 1e3,
      "cpu_s" -> all.map(_.cpuNs).sum / 1e9,
      "gc_s" -> all.map(_.gcMs).sum / 1e3,
      "input_mb" -> all.map(_.inBytes).sum / mb,
      "shuffle_write_mb" -> all.map(_.shuffleWriteBytes).sum / mb,
      "output_mb" -> all.map(_.outBytes).sum / mb,
      "spill_mb" -> all.map(_.spillBytes).sum / mb,
      "cache_mb" -> r.rddPeak / mb,
      "tasks" -> all.map(_.runMs.length).sum.toDouble,
      "busy_ratio" -> extractRunMs.toDouble / (cores * extractWallMs),
      "task_skew" -> skew)
    TracedRun((dur.view.mapValues(_ / 1e3)).toMap, spark, spans.toSeq)
  }

  /** Self time: the span minus the union of its children's intervals. */
  def selfMs(s: Span, spans: Seq[Span]): Long = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0L
    var upTo = s.startMs
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    s.ms - covered
  }
}
