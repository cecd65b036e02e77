package graft
package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.ExtensionQueries

/** JVM half of the benchmark: sets a session up, runs an untimed pass that
  * writes every query's output for the output check, then timed passes in
  * `Bench`'s regime (caches released, timer around the query function and
  * the noop-sink write), and writes one JSON report. With `--trace 1` it
  * also records spans and per-query layer metrics from a `SparkListener`.
  *
  * Run through `perfbench/run.py`, which builds the inputs and checks the
  * outputs; the arguments are listed in [[Opts]]. */
object Main {

  /** One local executor thread per core of the 4-core reference host. */
  val Cpus = 4

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Opts(
      data: String = "",
      queries: Seq[String] = Nil,
      fingerprinted: Set[String] = Set.empty,
      passes: Int = 2,
      traced: Boolean = false,
      out: String = "",
      checkDir: String = "",
      spans: String = "")

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--data" :: v :: t        => parse(t, o.copy(data = v))
    case "--queries" :: v :: t     => parse(t, o.copy(queries = v.split(',').toSeq))
    case "--fingerprint" :: v :: t =>
      parse(t, o.copy(fingerprinted = v.split(',').filter(_.nonEmpty).toSet))
    case "--passes" :: v :: t      => parse(t, o.copy(passes = v.toInt))
    case "--trace" :: v :: t       => parse(t, o.copy(traced = v == "1"))
    case "--out" :: v :: t         => parse(t, o.copy(out = v))
    case "--check-dir" :: v :: t   => parse(t, o.copy(checkDir = v))
    case "--spans" :: v :: t       => parse(t, o.copy(spans = v))
    case Nil                       => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  private def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Scratch entries the library leaves under java.io.tmpdir. */
  private def artifacts(tmp: File): Set[File] =
    Option(tmp.listFiles()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.getName.startsWith("graft_"))

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (steal, total) CPU ticks of the machine so far; (0, 0) where the kernel
    * does not report them. Each timed pass's steal share is logged with the
    * run, to tell a slow host from slow code; it selects nothing. */
  private def cpuTicks(): (Long, Long) =
    try {
      val t = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      (t(7), t.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Wall seconds of the probe: a fixed Spark SQL job that runs no library
    * code (an aggregation with a shuffle over generated rows, ~0.1 s on an
    * idle 4-core host). It runs before every timed query, and the metrics
    * divide each query's time by its pass's median probe. On a shared host,
    * hypervisor steal and neighbours slow whole runs by 10-90% for minutes;
    * the probe slows with them, while a change to the library moves only
    * the queries. */
  private def probeS(spark: SparkSession): Double = {
    spark.sparkContext.setJobGroup(Collector.ProbeGroup, "probe")
    val t0 = System.nanoTime()
    spark.range(0, 4000000, 1, Cpus).selectExpr("id % 1024 AS k", "id * 7 AS v")
      .groupBy("k").agg(sum("v")).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  /** Order-free fingerprint of a frame's rows, observed as "fp": row count
    * and a sum of row hashes, with floating-point cells rounded to 6 decimals. */
  private def fingerprinted(df: DataFrame): DataFrame = {
    val cells: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _                      => col(s"`${f.name}`")
      }
    }
    df.observe("fp", count(lit(1)).as("rows"),
      sum(pmod(xxhash64(cells: _*), lit(2147483647L))).as("hash"))
  }

  /** Watches finished query executions: their planning phases (analysis,
    * optimization, planning) as (start, duration) in ms, and the last
    * fingerprint observed by [[fingerprinted]], as "rows:hash". */
  private final class ExecWatch extends QueryExecutionListener {
    private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var lastFingerprint = ""
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      record(qe)
      qe.observedMetrics.get("fp").foreach { r =>
        lastFingerprint = s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) phases += ((ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum))
    }
    def drain(): Seq[(Long, Long)] = synchronized {
      val s = phases.toList; phases.clear(); s
    }
  }

  final case class Span(
      trace: String, id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
      tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val tmp = new File(sys.props("java.io.tmpdir"))
    val work = tmp.getParentFile.getAbsolutePath
    val out = new Json

    // Set-up, repeated: session start and `Bench`'s warm-up. No workload
    // query reads a seeded tokenizer or index artifact, so
    // `ExtensionQueries.seedArtifacts` is not part of it.
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(work)
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"${o.data}/lineitem.parquet").limit(1).collect()
      (System.nanoTime() - t0) / 1e9
    }
    out.arr("setup_s", setupS.map(Json.num))

    val collector = new Collector(o.traced)
    spark.sparkContext.addSparkListener(collector)
    val watch = new ExecWatch
    spark.listenerManager.register(watch)
    val sc = spark.sparkContext

    def fingerprint(): String = { ListenerDrain(sc); watch.lastFingerprint }
    def fresh(): Unit = {
      watch.lastFingerprint = ""
      CacheRegistry.unpersistAll()
      ExtensionQueries.clearArtifactCaches()
      artifacts(tmp).foreach(delete)
    }

    // Untimed first pass: warms the JVM and writes each output for the check.
    val warm = o.queries.map { name =>
      fresh()
      sc.setJobGroup(s"warm/$name", name)
      val t0 = System.nanoTime()
      val err = try {
        val df = SparkEntry.queries(name)(spark, o.data)
        val df2 = if (o.fingerprinted(name)) fingerprinted(df) else df
        df2.write.mode("overwrite").parquet(s"${o.checkDir}/$name")
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val fp = if (o.fingerprinted(name) && err.isEmpty) fingerprint() else ""
      Json.obj("query" -> Json.str(name), "wall_s" -> Json.num((System.nanoTime() - t0) / 1e9),
        "error" -> err.fold("null")(Json.str), "fingerprint" -> Json.str(fp))
    }
    out.arr("warm", warm)
    (1 to 3).foreach(_ => probeS(spark)) // warm the probe up before it is used
    ListenerDrain(sc)
    collector.drain()
    watch.drain()
    collector.resetPeak()

    // Timed passes.
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0
    def span(trace: String, parent: Int, name: String, a: Long, b: Long, tasks: Int = 0): Int = {
      nextId += 1
      spans += Span(trace, nextId, parent, name, a, b, tasks)
      nextId
    }
    val execs = mutable.ArrayBuffer.empty[String]
    val passSteal = mutable.ArrayBuffer.empty[Double]
    for (pass <- 1 to o.passes) {
      val (steal0, total0) = cpuTicks()
      for (name <- o.queries) {
        val probe = probeS(spark)
        fresh()
        val group = s"pass$pass/$name"
        sc.setJobGroup(group, name)
        if (o.traced) { ListenerDrain(sc); collector.drain(); watch.drain() }
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        val err = try {
          val df = SparkEntry.queries(name)(spark, o.data)
          t1 = System.nanoTime()
          val df2 = if (o.fingerprinted(name)) fingerprinted(df) else df
          df2.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val t2 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        val wall = (t2 - t0) / 1e9
        val fields = mutable.ArrayBuffer(
          "pass" -> Json.num(pass), "query" -> Json.str(name), "wall_s" -> Json.num(wall),
          "probe_s" -> Json.num(probe), "error" -> err.fold("null")(Json.str))
        if (o.fingerprinted(name) && err.isEmpty) fields += "fingerprint" -> Json.str(fingerprint())
        if (o.traced) {
          ListenerDrain(sc)
          val batch = collector.drain()
          val phases = watch.drain()
          val buildEndMs = startMs + (t1 - t0) / 1000000L
          // planning of the executions that finished after the query function
          // returned; earlier ones belong to its eager build work
          val writePlans = phases.filter(_._1 >= buildEndMs)
          val planMs = writePlans.map(_._2).sum
          val buildS = (t1 - t0) / 1e9
          val planS = planMs / 1e3
          val tagged = batch.forGroup(group)
          val l = Layers.of(tagged, startMs, endMs, buildS, planS, wall - buildS - planS)
          val bytesLeft = artifacts(tmp).toSeq.map(bytesUnder).sum
          fields ++= Seq(
            "build_s" -> Json.num(l.buildS), "plan_s" -> Json.num(l.planS),
            "exec_s" -> Json.num(l.execS), "jobs" -> Json.num(l.jobs),
            "tasks" -> Json.num(l.tasks), "driver_gap_s" -> Json.num(l.driverGapS),
            "exec_run_s" -> Json.num(l.execRunS), "max_task_share" -> Json.num(l.maxTaskShare),
            "shuffle_mb" -> Json.num(l.shuffleMb), "spill_mb" -> Json.num(l.spillMb),
            "bytes_read" -> Json.num(l.bytesRead.toDouble),
            "exec_records_read" -> Json.num(tagged.tasks
              .filter(_.launchMs >= buildEndMs).map(_.recordsRead).sum.toDouble),
            "bytes_left" -> Json.num(bytesLeft.toDouble),
            "untagged_jobs" -> Json.num(batch.jobs.size - tagged.jobs.size))
          // span tree: pass > query > build/plan/exec > job > stage
          val trace = s"pass$pass"
          val q = span(trace, 0, s"query:$name", startMs, endMs)
          val b = span(trace, q, "build", startMs, buildEndMs)
          span(trace, q, "plan", buildEndMs, math.min(endMs, buildEndMs + planMs))
          val e = span(trace, q, "exec", math.min(endMs, buildEndMs + planMs), endMs)
          val jobSpan = tagged.jobs.map { j =>
            j.id -> span(trace, if (j.startMs < buildEndMs) b else e, s"job:${j.id}",
              j.startMs, j.endMs)
          }.toMap
          tagged.stages.foreach { s =>
            span(trace, jobSpan.getOrElse(s.jobId, e), s"stage:${s.id}.${s.attempt}",
              s.submitMs, s.endMs, s.numTasks)
          }
        }
        execs += Json.obj(fields.toSeq: _*)
      }
      val (steal1, total1) = cpuTicks()
      passSteal += (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0)
    }
    out.arr("pass_steal", passSteal.toSeq.map(Json.num))
    sc.clearJobGroup()
    ListenerDrain(sc)
    out.arr("execs", execs.toSeq)
    out.field("peak_exec_mem_bytes", Json.num(collector.peakExecMem.toDouble))
    out.field("oracle", Json.obj(o.queries.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(sql => q -> Json.str(sql))): _*))
    if (o.traced && o.spans.nonEmpty) writeSpans(o.spans, spans.toSeq)
    spark.stop()
    Files.writeString(Paths.get(o.out), out.render)
  }

  /** Spans as a JSON array, each with the time its children do not cover. */
  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val children = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.trace == s.trace)
      val self = (s.endMs - s.startMs) -
        Layers.unionMs(kids.map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
      Json.obj("trace" -> Json.str(s.trace), "id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs.toDouble), "end_ms" -> Json.num(s.endMs.toDouble),
        "self_ms" -> Json.num(self.toDouble), "tasks" -> Json.num(s.tasks))
    }
    Files.writeString(Paths.get(path), rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Just enough JSON writing for the report. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def field(k: String, v: String): Unit = fields += s"${Json.str(k)}:$v"
  def arr(k: String, vs: Seq[String]): Unit = field(k, vs.mkString("[", ",", "]"))
  def render: String = fields.mkString("{", ",\n", "}\n")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Int): String = v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
