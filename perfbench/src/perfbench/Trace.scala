package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a module's public function. `parent` is the
  * enclosing span's id (-1 only for the run's root span); spans of one
  * workload iteration share `trace`. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    start: Long, end: Long)

/** Per-stage record from the listener: which job ran it, its call-site
  * file ("fold at Engine.scala:177" → Engine.scala) and task metrics. */
final case class StageRec(stageId: Int, jobId: Int, name: String,
    file: String, tasks: Int, cpuNs: Long, inBytes: Long, inRecords: Long,
    shuffleWrite: Long, spill: Long)

/** One Spark job: id, start and end (epoch ms), and its stages. */
final case class JobRec(jobId: Int, start: Long, end: Long, stages: Seq[Int])

/** Hadoop FileSystem byte counters for the `file` scheme — every lake and
  * event read or write of the one benchmark JVM goes through it. */
final case class FsStats(bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats =
    FsStats(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  def now(): FsStats = {
    import scala.jdk.CollectionConverters._
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsStats(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** In-memory tracer. Disabled (the timed passes) it only runs the body;
  * enabled it records spans, FS-statistic deltas per span, and — through
  * [[Listener]] — every Spark job and stage, attributed afterwards to the
  * innermost span open at the job's start. The benchmark drives one
  * client on one thread, so at any instant one span stack is open. */
final class Tracer(val enabled: Boolean) {
  private val nanoToEpochMs: Long =
    System.currentTimeMillis() - System.nanoTime() / 1000000L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val fs = mutable.HashMap.empty[Int, FsStats]
  private val stack = mutable.Stack.empty[Int]
  private var traceId = 0
  val listener = new Listener

  def newTrace(): Unit = traceId += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, traceId, System.nanoTime(), 0L)
      stack.push(id)
      val fs0 = FsStats.now()
      try body
      finally {
        fs(id) = FsStats.now() - fs0
        stack.pop()
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq
  def fsOf(id: Int): FsStats = fs.getOrElse(id, FsStats(0, 0))

  /** Jobs whose start falls inside the span and in no deeper span. */
  def jobsOf(s: Span, sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    listener.jobs.filter(j => innermostAt(j.start) == s.id)
  }

  /** Jobs whose start falls inside the span or any of its descendants. */
  def jobsUnder(s: Span, sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    listener.jobs.filter(j => j.start >= epochMs(s.start) && j.start <= epochMs(s.end))
  }

  def stagesOf(jobs: Seq[JobRec]): Seq[StageRec] = {
    val ids = jobs.flatMap(_.stages).toSet
    listener.stages.filter(st => ids.contains(st.stageId))
  }

  /** Runtime totals over everything the listener saw (the traced phase). */
  def sparkTotals(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    val st = listener.stages
    Map("spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble)
  }

  /** Wall of a span minus the union of its jobs' intervals: time the
    * driver spent planning, committing and waiting outside any job. */
  def driverGapMs(s: Span, jobs: Seq[JobRec]): Double = {
    val (a, b) = (epochMs(s.start), epochMs(s.end))
    (s.end - s.start) / 1e6 -
      Tracer.union(jobs.map(j => (math.max(a, j.start), math.min(b, j.end))))
  }

  def epochMs(nano: Long): Long = nanoToEpochMs + nano / 1000000L

  private def innermostAt(ms: Long): Int = {
    val open = spans.filter(s => epochMs(s.start) <= ms && ms <= epochMs(s.end))
    if (open.isEmpty) -1 else open.maxBy(_.start).id
  }

  /** Self time: the span's wall minus the union of its children's walls. */
  def selfNs(s: Span): Long =
    (s.end - s.start) -
      Tracer.union(spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq)

  def toJson: String = spans.map { s =>
    val f = fsOf(s.id)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""trace":${s.trace},"start_ms":${epochMs(s.start)},""" +
      s""""wall_us":${(s.end - s.start) / 1000},"self_us":${selfNs(s) / 1000},""" +
      s""""fs_bytes_read":${f.bytesRead},"fs_bytes_written":${f.bytesWritten}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  final class Listener extends SparkListener {
    private val jobStarts = mutable.HashMap.empty[Int, SparkListenerJobStart]
    private val jobBuf = mutable.ArrayBuffer.empty[JobRec]
    private val stageBuf = mutable.ArrayBuffer.empty[StageRec]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    // call-site file of each SQL execution and of each job: adaptive query
    // stages run as jobs submitted from a pool thread, so their own stage
    // names do not show the engine's call site — their execution's does
    private val execFile = mutable.HashMap.empty[Long, String]
    private val jobFile = mutable.HashMap.empty[Int, String]
    private val CallSite = """(?s).*? at ([A-Za-z0-9_$]+\.scala):\d+.*""".r
    private def fileOf(callSite: String): Option[String] = callSite match {
      case CallSite(f) => Some(f)
      case _ => None
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized { fileOf(x.description).foreach(execFile(x.executionId) = _) }
      case _ =>
    }

    def jobs: Seq[JobRec] = synchronized(jobBuf.toSeq)
    def stages: Seq[StageRec] = synchronized(stageBuf.toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = e
      e.stageIds.foreach(stageJob(_) = e.jobId)
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execFile.get(id.toLong))
        .foreach(jobFile(e.jobId) = _)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach(s =>
        jobBuf += JobRec(e.jobId, s.time, e.time, s.stageIds))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val job = stageJob.getOrElse(i.stageId, -1)
        val file = fileOf(i.name).orElse(jobFile.get(job)).getOrElse("?")
        if (m != null) stageBuf += StageRec(i.stageId, job, i.name, file,
          i.numTasks, m.executorCpuTime, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }
}

object Tracer {
  /** Total length covered by a set of [start, end) intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    intervals.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (x, y) =>
      if (x > curE) {
        if (curE != Long.MinValue) covered += curE - curS
        curS = x; curE = y
      } else curE = math.max(curE, y)
    }
    if (curE != Long.MinValue) covered += curE - curS
    covered
  }
}
