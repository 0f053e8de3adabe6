package lancebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are epoch milliseconds (fractional), so they
  * line up with Spark's listener event times. */
final case class Span(id: Long, name: String, opId: Long, parent: Long,
                      start: Double, end: Double,
                      attrs: scala.collection.mutable.Map[String, Double]) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long,
                        stages: Seq[Int])
final case class StageRec(var tasks: Int = 0, var busyMs: Double = 0, var schedMs: Double = 0,
                          var shuffleWrite: Long = 0, var spill: Long = 0,
                          var recordsRead: Long = 0)
final case class PlanRec(start: Long, analysisMs: Double, optimizeMs: Double, physicalMs: Double)

/** Spans around every call into a layer, plus the Spark jobs each call
  * triggers (tagged with job group = span id through a listener).
  * Everything stays in memory until the run ends. Listeners exist only
  * when `record` is set (traced runs); when `on` is false [[span]] only
  * runs its body. */
final class Tracer(spark: SparkSession, record: Boolean) {
  @volatile var on = false
  private val sc: SparkContext = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def now: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Span] = Nil
  private var curOp = 0L

  val jobs = ArrayBuffer.empty[JobRec]
  val stageRecs = scala.collection.mutable.HashMap.empty[Int, StageRec]
  val plans = ArrayBuffer.empty[PlanRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs += JobRec(e.jobId, g.getOrElse(""), e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics; val i = e.taskInfo
      stageRecs.synchronized {
        val s = stageRecs.getOrElseUpdate(e.stageId, StageRec())
        s.tasks += 1
        s.busyMs += m.executorRunTime
        s.schedMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def d(k: String): Double = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
        plans.synchronized { plans += PlanRec(start, d("analysis"), d("optimization"), d("planning")) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  if (record) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = if (record) org.apache.spark.BenchBus.drain(sc)

  /** Runs `body` inside a span; when on, jobs it triggers carry the span id
    * as their job group. `attrs` receives counts measured at the boundary. */
  def span[T](name: String, opId: Long = -1L)(body: => T): T = span(name, opId, (_: T) => Nil)(body)

  def span[T](name: String, opId: Long, attrs: T => Seq[(String, Double)])(body: => T): T = {
    if (!on) return body
    val parent = stack.headOption
    val op = if (opId >= 0) opId else curOp
    val s = Span(nextId, name, op, parent.map(_.id).getOrElse(0L), now, 0.0,
      scala.collection.mutable.LinkedHashMap.empty)
    nextId += 1
    if (parent.isEmpty) curOp = op
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    var end = 0.0
    try {
      val r = body
      end = now
      // boundary counts are measured after the span's end time is taken
      attrs(r).foreach { case (k, v) => s.attrs(k) = v }
      r
    } finally {
      if (end == 0.0) end = now
      stack = stack.tail
      parent match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += s.copy(end = end)
    }
  }

  /** Adds an attribute to the innermost open span. */
  def note(k: String, v: => Double): Unit = if (on) stack.headOption.foreach(s => s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)

  def close(): Unit = if (record) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Writes every span and job as one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      val a = s.attrs.map { case (k, v) => "\"" + k + "\":" + Report.num(v) }.mkString(",")
      sb ++= s"""{"span":${s.id},"name":"${s.name}","op":${s.opId},"parent":${s.parent},""" +
        s""""start_ms":${Report.num(s.start)},"end_ms":${Report.num(s.end)},"attrs":{$a}}""" + "\n"
    }
    jobs.foreach { j =>
      sb ++= s"""{"job":${j.id},"group":"${j.group}","start_ms":${j.start},"end_ms":${j.end},""" +
        s""""stages":[${j.stages.mkString(",")}]}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
