package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The Spark jobs `f` launches on this thread, counted by job group with
    * a SparkListener. Listener events arrive in order, so once a later
    * sentinel job is seen every job `f` started has been counted. */
  def jobsOf(spark: SparkSession)(f: => Any): Int = jobDescriptionsOf(spark)(f).size

  /** The job description of every Spark job `f` launches on this thread
    * (or on threads it starts), "null" for an unlabelled job. */
  def jobDescriptionsOf(spark: SparkSession)(f: => Any): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")) ->
          String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    def seen = jobs.toArray.exists(_ == ("jobs-of-sentinel" -> "sentinel"))
    try {
      sc.setJobGroup("jobs-of", "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("jobs-of-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var waited = 0
      while (!seen && waited < 200) {
        Thread.sleep(50)
        waited += 1
      }
      if (!seen) throw new IllegalStateException("sentinel job never reached the listener")
      jobs.toArray.toSeq.collect { case ("jobs-of", d: String) => d }
    } finally sc.removeSparkListener(listener)
  }
}
