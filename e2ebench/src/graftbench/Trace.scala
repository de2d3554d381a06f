package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A benchmark-side span around one call into a graft module. `op` names
  * the operation kind on the span that opens a timed operation. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    startMs: Long, op: String) {
  @volatile var endMs: Long = -1L
}

/** Counters of one module, summed over the tasks and jobs charged to it. */
final class ModuleCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRecords = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans around the benchmark's calls plus a SparkListener that charges
  * every job to the graft module that launched it.
  *
  * A job's module comes from its call site (the result stage's long
  * form, which lists the launching stack from the first non-Spark frame
  * inward):
  *  - any frame in the sidecar planes (`Sidecars`, `ZoneMap`, `Layout`,
  *    `MetadataAgg`, `Par`) charges `sink.planes`;
  *  - else any `StageWriter` merge frame charges `sink.merge`;
  *  - else the innermost graft frame's package names the module, with
  *    `StageWriter` writes as `sink.write`. A write launched inside an
  *    extract span is the raw-zone landing (read source, stringify,
  *    write raw: one action), so it is charged to that span's layer
  *    (`extract`, or `sources` for the JDBC pull);
  *  - a job with no graft frame (the analyst's own query action, or a
  *    broadcast launched from a Spark thread) takes the layer of the
  *    innermost enclosing span.
  * Inside a `transform` span, the shuffle-map stages of a `sink.write`
  * job compute the DSL projection and feed dedup-latest's shuffle; their
  * tasks and busy time are charged to `transform`, and the job's final
  * stage to the sink. A module's busy time is the union of its stages'
  * run intervals.
  *
  * Only jobs under a timed operation span are counted; set-up, warm-up
  * and correctness checks are not. */
final class Tracer(spark: SparkSession, val enabled: Boolean)
    extends SparkListener {

  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = TrieMap[Long, Span]()
  private val current = new InheritableThreadLocal[Span]

  private final case class JobRec(id: Int, module: String, op: Long,
      under: Set[String], startMs: Long, site: String) {
    @volatile var endMs: Long = -1L
  }
  private val jobs = TrieMap[Int, JobRec]()
  private val stageJob = TrieMap[Int, Int]()
  private val execSite = TrieMap[String, String]()
  private val counters = TrieMap[String, ModuleCounters]()
  private val mapStages = TrieMap[Int, Unit]()

  if (enabled) sc.addSparkListener(this)

  /** Whether operations started now are timed ones; only their spans
    * open an operation. */
  @volatile var timing = false

  def span[T](name: String, layer: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(current.get)
      val s = Span(ids.incrementAndGet(), name, layer,
        parent.map(_.id).getOrElse(0L), System.currentTimeMillis(),
        if (timing) op else "")
      spans.put(s.id, s)
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        current.set(parent.orNull)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  private def ancestors(id: Long): Iterator[Span] =
    Iterator.iterate(spans.get(id))(_.flatMap(s => spans.get(s.parent)))
      .takeWhile(_.isDefined).map(_.get)

  // Adaptive execution submits query stages from its own threads, whose
  // stacks hold no graft frame; the SQL execution's start event carries
  // the call site of the thread that ran the action.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(js.properties).flatMap(p =>
      Option(p.getProperty(k)))
    val spanId = prop(SpanKey).map(_.toLong).getOrElse(0L)
    val chain = ancestors(spanId).toSeq
    val op = chain.find(_.op.nonEmpty).map(_.id).getOrElse(0L)
    val layer = chain.headOption.map(_.layer).getOrElse("bench")
    val details = (js.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).toSeq ++
      Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(prop).flatMap(execSite.get))
      .find(graftFrames(_).nonEmpty).getOrElse("")
    val rec = JobRec(js.jobId, moduleOf(details, layer), op,
      chain.map(_.name).toSet ++ chain.map(_.layer), js.time,
      graftFrames(details).headOption.map { case (c, m) => s"$c.$m" }
        .getOrElse(""))
    jobs.put(js.jobId, rec)
    js.stageInfos.foreach(si => stageJob.putIfAbsent(si.stageId, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.get(je.jobId).foreach(_.endMs = je.time)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m == null) return
    val job = stageJob.get(te.stageId).flatMap(jobs.get)
      .filter(_.op != 0L).getOrElse(return)
    val isMap = te.taskType == "ShuffleMapTask"
    if (isMap) mapStages.put(te.stageId, ())
    val c = counters.getOrElseUpdate(stageModule(job, isMap),
      new ModuleCounters)
    c.tasks += 1
    c.cpuNs += m.executorCpuTime
    c.gcMs += m.jvmGCTime
    c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
    c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    c.inputBytes += m.inputMetrics.bytesRead
    c.outputBytes += m.outputMetrics.bytesWritten
    c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
  }

  private def stageModule(job: JobRec, isMap: Boolean): String =
    if (job.under("transform") && job.module == "sink.write" && isMap)
      "transform"
    else job.module

  /** A module is busy while one of its stages runs. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = stageJob.get(si.stageId).flatMap(jobs.get)
      .filter(_.op != 0L).getOrElse(return)
    for (s <- si.submissionTime; t <- si.completionTime) {
      val c = counters.getOrElseUpdate(
        stageModule(job, mapStages.contains(si.stageId)), new ModuleCounters)
      c.intervals += ((s, t))
    }
  }

  /** Delivers pending listener events; call before reading counters. */
  def flush(): Unit = if (enabled) BenchBus.flush(sc)

  private def timedJobs: Seq[JobRec] =
    jobs.values.toSeq.filter(j => j.op != 0L && j.endMs >= 0L)

  /** Per-module counters over the timed operations, every module listed
    * in [[Tracer.Modules]] present (zeros where a module launched
    * nothing). */
  def moduleCounters(): Map[String, ModuleCounters] = {
    flush()
    val byModule = timedJobs.groupBy(_.module)
    Modules.map { m =>
      val c = counters.getOrElse(m, new ModuleCounters)
      c.jobs = byModule.getOrElse(m, Nil).size.toLong
      m -> c
    }.toMap
  }

  /** Per timed operation: (kind, wall ms, jobs, ms covered by a job). */
  def opStats(): Seq[(String, Long, Int, Long)] = {
    flush()
    val byOp = timedJobs.groupBy(_.op)
    spans.values.toSeq.filter(s => s.op.nonEmpty && s.endMs >= 0L)
      .sortBy(_.id).map { s =>
        val js = byOp.getOrElse(s.id, Nil)
        val covered = unionMs(js.map(j =>
          (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
        (s.op, s.endMs - s.startMs, js.size, covered)
      }
  }

  /** Busy ms of the timed jobs launched under a span with this name. */
  def busyMsUnder(name: String): Long = {
    flush()
    unionMs(timedJobs.filter(_.under(name)).map(j => (j.startMs, j.endMs)))
  }

  /** Every span as one JSON line: name, layer, start, end, parent, and
    * self time (its duration minus the part its children cover). */
  def spanLines(): Seq[String] = {
    val all = spans.values.toSeq.sortBy(_.id)
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      val self = (s.endMs - s.startMs) - unionMs(kids)
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""op":"${s.op}","parent":${s.parent},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"self_ms":$self}"""
    }
  }

  def jobLines(): Seq[String] = jobs.values.toSeq.sortBy(_.id).map { j =>
    s"""{"job":${j.id},"module":"${j.module}","site":"${j.site}",""" +
      s""""op":${j.op},""" +
      s""""start_ms":${j.startMs},"end_ms":${j.endMs}}"""
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** The modules per-layer counters are reported for. */
  val Modules: Seq[String] = Seq("run", "extract", "sources", "transform",
    "sink.write", "sink.merge", "sink.planes", "plans")

  /** The kinds of timed operation, as their spans name them. */
  val OpKinds: Seq[String] = Seq("load", "epoch", "point", "range",
    "governed")

  private val PlaneClasses = Set("graft.sink.Sidecars", "graft.sink.ZoneMap",
    "graft.sink.Layout", "graft.sink.MetadataAgg", "graft.sink.Par")
  private val MergeMethods = Seq("mergeInto", "casMerge", "targetedCommit",
    "mergeCdcInto")

  /** (class without its `$` suffixes, method) of each graft frame in a
    * call site's long form, innermost first. */
  private[graftbench] def graftFrames(details: String): Seq[(String, String)] =
    details.split("\n").toSeq.map(_.trim)
      .filter(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .map { l =>
        val head = l.takeWhile(_ != '(')
        val dot = head.lastIndexOf('.')
        val cls = head.substring(0, math.max(dot, 0))
        (cls.takeWhile(_ != '$'), head.substring(dot + 1))
      }

  private[graftbench] def moduleOf(details: String, spanLayer: String)
      : String = {
    val frames = graftFrames(details)
    if (frames.exists { case (c, _) => PlaneClasses(c) }) "sink.planes"
    else if (frames.exists { case (c, m) => c == "graft.sink.StageWriter" &&
        MergeMethods.exists(m.contains) }) "sink.merge"
    else frames.headOption.map(_._1) match {
      case Some(c) if c.startsWith("graft.sink.") =>
        if (spanLayer == "extract" || spanLayer == "sources") spanLayer
        else "sink.write"
      case Some(c) if c.startsWith("graft.run.") => "run"
      case Some(c) if c.startsWith("graft.extract.") => "extract"
      case Some(c) if c.startsWith("graft.sources.") => "sources"
      case Some(c) if c.startsWith("graft.transform.") ||
          c.startsWith("graft.dsl.") => "transform"
      case Some(c) if c.startsWith("graft.plans.") => "plans"
      case Some(c) if c.startsWith("graft.state.") => "state"
      case _ => spanLayer
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
