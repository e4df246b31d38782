package etlbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in tracing. Every call the benchmark makes into a public
  * function of the engine is wrapped in a span whose id becomes the
  * Spark job group of the calling thread; a listener registered here
  * files each job, and its tasks' metrics, under that span. Nothing in
  * the engine knows it is being traced.
  *
  * Spans form the tree run → public call → Spark job. They stay in
  * memory and are written out once, when the benchmark ends.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Span

  /** One Spark job and the summed metrics of its tasks. */
  final class Job(val id: Int, val span: Long, val frameModule: Option[String],
      val execution: Option[String], val submit: Long) {
    /** The engine module on the job's call site; jobs run from Spark's
      * own threads (broadcasts) carry no engine frame and take the module
      * of a sibling job of the same SQL execution, else of their span. */
    lazy val module: String = frameModule
      .orElse(execution.flatMap(x => jobs.values.asScala
        .find(j => j.execution.contains(x) && j.frameModule.isDefined)
        .flatMap(_.frameModule)))
      .orElse(Option(spans.get(span)).map(_.name.takeWhile(_ != '.')))
      .getOrElse("other")
    @volatile var end = 0L
    @volatile var firstLaunch = Long.MaxValue
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
  }

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  sc.addSparkListener(this)

  /** Open a span; `parent` 0 is a root. */
  def open(name: String, parent: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, name, System.nanoTime())
    spans.put(s.id, s)
    s
  }

  /** Run `body` as a public call under `parent`, tagging its jobs. */
  def call[A](name: String, parent: Long)(body: => A): (A, Span) = {
    val s = open(name, parent)
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try (body, s)
    finally {
      s.end = System.nanoTime()
      sc.clearJobGroup()
    }
  }

  /** Block until every event posted so far has reached the listener. */
  def drain(): Unit = org.apache.spark.etlbench.Bus.drain(sc)

  /** Run `body` with the listener removed, as an untraced run would. */
  def detached[A](body: => A): A = {
    drain()
    sc.removeSparkListener(this)
    try body finally sc.addSparkListener(this)
  }

  /** Jobs whose span is `span` or one of its descendants. */
  def jobsUnder(span: Long): Seq[Job] = {
    val kids = spans.values.asScala.groupBy(_.parent)
    def tree(id: Long): Seq[Long] =
      id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => tree(s.id))
    val under = tree(span).toSet
    jobs.values.asScala.filter(j => under(j.span)).toSeq
  }

  def span(id: Long): Span = spans.get(id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop("spark.jobGroup.id").flatMap(_.toLongOption).getOrElse(0L)
    val j = new Job(e.jobId, span, Tracer.moduleOf(e.stageInfos.map(_.details)),
      prop("spark.sql.execution.id"), System.nanoTime())
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
      j.synchronized(j.stages += 1))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val now = System.nanoTime()
      if (now < j.firstLaunch) j.firstLaunch = now
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())

  /** All spans plus one child span per Spark job, as JSON lines. */
  def spansJson(): Iterator[String] = {
    def line(id: String, parent: Long, name: String, start: Long, end: Long) =
      s"""{"id":"$id","parent":"$parent","name":${Json.str(name)},""" +
        s""""start_ns":$start,"end_ns":$end}"""
    spans.values.asScala.toSeq.sortBy(_.id).iterator
      .map(s => line(s.id.toString, s.parent, s.name, s.start, s.end)) ++
      jobs.values.asScala.toSeq.sortBy(_.id).iterator.map(j =>
        line(s"job-${j.id}", j.span, s"job:${j.module}", j.submit, j.end))
  }
}

object Tracer {

  final case class Span(id: Long, parent: Long, name: String, start: Long,
      var end: Long = 0L)

  private val Frame = """^\s*graft\.(?:[a-z]\w*\.)*([A-Z]\w*)""".r.unanchored

  /** The engine module on the innermost `graft.` frame of a job's stage
    * call sites, e.g. `graft.etl.Entities$.mergeAuthors(...)` → Entities. */
  def moduleOf(details: Seq[String]): Option[String] =
    details.iterator.flatMap(_.linesIterator)
      .collectFirst { case Frame(cls) => cls }
}
