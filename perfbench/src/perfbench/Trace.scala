package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed span of benchmark code around a call into the engine.
  * `op` groups the spans of one benchmark operation; `parent` is the
  * enclosing span (-1 at the top). Times are epoch milliseconds from
  * the same clock Spark stamps job events with, plus a nanosecond
  * duration for precision.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startMs: Long, startNs: Long) {
  var endNs: Long = startNs
  var fsRead: Long = 0L
  var fsWritten: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spark work attributed to one span: a job and the task totals of its
  * stages. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long,
                   val stages: Seq[Int]) {
  var endMs: Long = startMs
  var stagesDone = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
}

/** Span recorder plus a SparkListener that attributes every job to the
  * innermost open span, through a job-group local property set on span
  * entry. Off (`on = false`) it records nothing and registers nothing,
  * so untraced runs measure the engine alone.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      val rec = new JobRec(e.jobId, span, e.time, e.stageIds)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stagesDone += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
  if (on) spark.sparkContext.addSparkListener(listener)

  def stop(): Unit = if (on) spark.sparkContext.removeSparkListener(listener)

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit =
    if (on) org.apache.spark.sql.graftshim.ExprShim.drainListenerBus(spark, 60000L)

  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, name, op, parent.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      nextId += 1
      spans += s
      stack.push(s)
      val (r0, w0) = FsBytes.now()
      spark.sparkContext.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        val (r1, w1) = FsBytes.now()
        s.fsRead = r1 - r0
        s.fsWritten = w1 - w0
        stack.pop()
        spark.sparkContext.setLocalProperty(Prop,
          parent.map(_.id.toString).orNull)
      }
    }

  /** Milliseconds of `s` that some Spark job covers (interval union). */
  def jobCoveredMs(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.min(covered.toDouble, s.ms)
  }

  /** Span self time: duration minus what its child spans cover. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

/** Hadoop FileSystem byte counters for the local `file` scheme. Local
  * mode runs executors as threads of this JVM, so these include task
  * I/O; Spark shuffle files bypass the Hadoop FileSystem. */
object FsBytes {
  def now(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}
