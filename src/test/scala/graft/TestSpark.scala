package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Shared session for all specs (one JVM per `sbt test` run). */
object TestSpark {
  lazy val spark: SparkSession = {
    deleteTempDirsAtExit
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

  // directories made by tempDir, and the artifacts queries wrote for this
  // JVM (`Q.tmpArtifactPath`: graft_<tag>_<pid>_...), deleted when the test
  // JVM exits
  private val tempDirs = new ConcurrentLinkedQueue[File]()
  private lazy val deleteTempDirsAtExit: Unit = sys.addShutdownHook {
    tempDirs.forEach(d => deleteRecursively(d))
    val artifact = s"_${ProcessHandle.current().pid()}_"
    Option(new File(sys.props("java.io.tmpdir")).listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft_") && f.getName.contains(artifact)) deleteRecursively(f)
    })
  }: Unit

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** A fresh directory under `java.io.tmpdir`, named `prefix` plus a
    * random suffix, deleted with everything in it when the test JVM
    * exits. */
  def tempDir(prefix: String): String = {
    deleteTempDirsAtExit
    val d = Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  /** Custom metric `name` of the one DataSourceV2 batch scan in `df`'s
    * executed plan — read after `df` ran, once (the metric sums over
    * every execution of that plan). */
  def scanMetric(df: DataFrame, name: String): Long = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan) match {
      case Seq(b) => b.metrics(name).value
      case found => throw new IllegalStateException(
        s"expected one BatchScanExec, found ${found.size}:\n${df.queryExecution.executedPlan}")
    }
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
    val jobs = new AtomicInteger(0)
    listened(group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ofGroup(e.properties, group)) jobs.incrementAndGet()
    })(body)
    jobs.get()
  }

  /** Shuffle records read by each task of every stage that reads a
    * shuffle, one entry per stage in submission order, while `body` runs
    * under a job group of its own. A reduce stage's empty partitions read
    * 0 records but still count as tasks. */
  def shuffleReads(body: => Unit): Seq[Seq[Long]] = {
    val stages = new ConcurrentLinkedQueue[Int]()
    val reads = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    listened(group => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ofGroup(e.properties, group) && e.stageInfo.parentIds.nonEmpty) {
          reads.putIfAbsent(e.stageInfo.stageId, new ConcurrentLinkedQueue[Long]())
          stages.add(e.stageInfo.stageId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (q <- Option(reads.get(e.stageId)); m <- Option(e.taskMetrics))
          q.add(m.shuffleReadMetrics.recordsRead)
    })(body)
    stages.asScala.toSeq.map(id => reads.get(id).asScala.toSeq)
  }

  private def ofGroup(props: java.util.Properties, group: String): Boolean =
    Option(props).exists(_.getProperty("spark.jobGroup.id") == group)

  /** Runs `body` under a fresh job group with the listener made for that
    * group added, and waits until the listener has seen every event. */
  private def listened(listener: String => SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val group = s"listened-${java.util.UUID.randomUUID()}"
    val l = listener(group)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "listened")
    try {
      body
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
