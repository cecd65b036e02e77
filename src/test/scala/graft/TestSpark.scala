package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared session for all specs (one JVM per `sbt test` run). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with one session conf set, restoring the old value (or
    * unsetting it) afterwards. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val was = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold=-1`, which
    * makes [[graft.core.SmallRelation.fits]] false: operators built inside
    * take their distributed plans. */
  def distributed[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  /** Runs `body` twice: as the session is (small fixtures take the
    * candidate joins' in-task branch), then with [[distributed]]. */
  def onBothBranches(body: => Unit): Unit = {
    body
    distributed(body)
  }

  /** Jobs started while `body` runs, under a job group of its own so that
    * jobs from anywhere else never count. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      body
      ListenerBusDrain(sc)
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
