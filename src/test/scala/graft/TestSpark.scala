package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8)

  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it starts. A marker job run
    * afterwards proves the listener has seen every earlier job start. */
  def jobsOf[A](body: => A): (A, Int) = countJobs(_ => true)(body)

  /** [[jobsOf]] counting only the jobs this thread starts (and the threads
    * that inherit its local properties): for a body that races other
    * threads' jobs. */
  def threadJobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-group-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try countJobs(_.getProperty("spark.jobGroup.id") == group)(body)
    finally sc.clearJobGroup()
  }

  private def countJobs[A](counted: java.util.Properties => Boolean)(body: => A): (A, Int) = {
    val marker = s"jobs-of-marker-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties)
        if (props.getProperty("spark.job.description") == marker) markerSeen.countDown()
        else if (counted(props)) started.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
