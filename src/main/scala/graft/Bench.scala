package graft

/** Per-round benchmark: every registered query timed at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout (driver contract). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus())
    Harness.warm(spark, sfDir)
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> Harness.time(spark, sfDir, name, "sweep")
    }
    // Self-certifying variance pass: this host's sweeps carry roving
    // 10-30x per-query drag spikes (NOTES.md), and two rounds of review
    // needed hand-run idle-JVM probes to exonerate phantom regressions.
    // The artifact carries its own exoneration: re-time EVERY query whose
    // ratio vs the previous committed snapshot exceeds RETIME_RATIO (a
    // clean run skips the pass entirely), capped at RETIME_CAP worst-first
    // (the cap being hit is logged — an uncapped pass on a badly contended
    // host would double the sweep). A retimed number far below the
    // main-loop one marks the spike as host drag, not a code change.
    // The previous snapshot is read BEFORE this run overwrites it.
    // 1.5 vs the ALL-TIME best (round 12, was 2.5 vs last round): the
    // old gate compared against the previous snapshot's corrected value,
    // which let a drag-inflated sweep UNDER the gate become the next
    // baseline — one quiet round later a real 2x regression on that
    // query was invisible (the round-11 d13/d15/m4/d12 ratchet). The
    // baseline is now the historical minimum (best_known, persisted and
    // monotonically improved each run), which host drag can never raise.
    val RETIME_RATIO = 1.5
    // 24 (round 11, was 12): the round-10 consumer regime change tripped
    // 18 queries at once and the cap left six carrying possibly-contended
    // sweep numbers into corrected_total for a full round. 24 bounds a
    // worst-case contended sweep to ~2x while covering a full regime
    // shift; env-overridable for a deliberate full-retime pass.
    val RETIME_CAP = Harness.intEnv("SPARK_GRAFT_RETIME_CAP", 24)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", outPath)
    val prevExists = java.nio.file.Files.exists(java.nio.file.Paths.get(prevPath))
    def scrapeMap(txt: String, key: String): Map[String, Double] = {
      val anchor = "\"" + key + "\":{"
      val start = txt.indexOf(anchor)
      val end = if (start < 0) -1 else txt.indexOf("}", start)
      if (end < 0) Map.empty
      else "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.Ee+-]*)".r
        .findAllMatchIn(txt.substring(start + anchor.length, end))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    // Previous snapshot: its corrected_queries (else min(sweep, retimed))
    // plus its best_known map — the two inputs to the all-time-best
    // baseline below.
    val (prev: Map[String, Double], prevBest: Map[String, Double]) = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(prevPath)), "UTF-8")
      val corrected = scrapeMap(txt, "corrected_queries")
      val base =
        if (corrected.nonEmpty) corrected
        else {
          val sweep = scrapeMap(txt, "queries")
          val rt = scrapeMap(txt, "retimed")
          sweep.map { case (k, v) =>
            k -> (rt.get(k) match {
              case Some(r) if r >= 0 && v >= 0 => math.min(v, r)
              case Some(r) if r >= 0 => r
              case _ => v
            })
          }
        }
      (base, scrapeMap(txt, "best_known"))
    } catch { case scala.util.control.NonFatal(_) =>
      (Map.empty[String, Double], Map.empty[String, Double]) }
    // the regression baseline: the ALL-TIME best committed time per
    // query — last snapshot's best_known improved by its corrected
    // values. Monotone: host drag can inflate a sweep, never the
    // baseline; only a renamed query resets it.
    val baseline: Map[String, Double] =
      (prev.keySet ++ prevBest.keySet).map { k =>
        val cands = Seq(prev.get(k), prevBest.get(k)).flatten.filter(_ > 0)
        k -> (if (cands.isEmpty) -1.0 else cands.min)
      }.toMap
    if (prevExists && prev.isEmpty)
      // the prev reader is a format-anchored scrape; if the snapshot format
      // drifts it degrades to an empty map and silently disables the
      // variance pass — make that visible instead
      System.err.println(s"[bench] WARNING: $prevPath exists but parsed to an " +
        "empty queries map — snapshot format drift? variance pass disabled")
    // ITERATED retime (round 13; was a single capped pass): the round-12
    // driver sweep hit drag on ~45 queries at once — the single pass
    // retimed 24 and left ~25 inflated entries standing in
    // corrected_total (published 476 s vs 157 s idle, a 3x artifact).
    // Now the pass LOOPS: each round recomputes the suspect list from
    // the current corrected values (so a query whose retime also caught
    // drag gets another chance, and queries past the per-round cap get
    // picked up next round), until no suspect remains or
    // MAX_RETIME_ROUNDS bounds the total added work at 3x the cap.
    val MAX_RETIME_ROUNDS = 3
    var corrected = scala.collection.mutable.Map(results: _*)
    val allRetimed = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    var pass = 0
    var clean = false
    while (pass < MAX_RETIME_ROUNDS && !clean) {
      val suspects = corrected.toSeq
        .flatMap { case (k, v) =>
          val p = baseline.getOrElse(k, -1.0)
          if (v > 0 && p > 0 && v / p > RETIME_RATIO) Some((k, v / p)) else None
        }
        .sortBy(-_._2)
      if (suspects.isEmpty) clean = true
      else {
        if (suspects.size > RETIME_CAP)
          System.err.println(s"[bench] retime pass $pass: ${suspects.size} over " +
            s"${RETIME_RATIO}x, retiming worst $RETIME_CAP this pass; rest " +
            "picked up next pass: " +
            suspects.drop(RETIME_CAP).map(_._1).mkString("deferred=[", ",", "]"))
        val batch = suspects.take(RETIME_CAP).map(_._1)
        batch.foreach { name =>
          val r = Harness.time(spark, sfDir, name, s"retimed-p$pass")
          allRetimed += (name -> r)
          val cur = corrected(name)
          if (r >= 0 && cur >= 0 && r < cur) corrected(name) = r
        }
        pass += 1
      }
    }
    // r15 (the r14 verdict's measurement-trust item): a MIN-OF-N pass for
    // the slowest cohort. The ratio-gated retime above only fires for
    // queries already over 1.5x best_known; the slowest queries carry the
    // most absolute drag even when under the gate, and one extra cold rep
    // each bounds their noise at ~seconds of added sweep. Off with
    // SPARK_GRAFT_MINOF_REPS=0. Reporting-only, like the retime pass: the
    // headline `value` stays the raw sweep total.
    val MINOF_COHORT = Harness.intEnv("SPARK_GRAFT_MINOF_COHORT", 8)
    val MINOF_REPS = Harness.intEnv("SPARK_GRAFT_MINOF_REPS", 1)
    if (MINOF_REPS > 0 && MINOF_COHORT > 0) {
      val cohort = corrected.toSeq.filter(_._2 > 0).sortBy(-_._2).take(MINOF_COHORT)
      for ((name, _) <- cohort; r <- 1 to MINOF_REPS) {
        val t = Harness.time(spark, sfDir, name, s"minof-$r")
        allRetimed += (name -> t)
        val cur = corrected(name)
        if (t >= 0 && cur >= 0 && t < cur) corrected(name) = t
      }
    }
    // drag indicator (r15): how many queries still read over RETIME_RATIO x
    // their all-time best after every retime — the host-contention
    // signature the r14 verdict had to reconstruct by hand — plus the OS
    // load average bracketing the sweep, emitted in-band in both lines.
    val stillDragged = corrected.count { case (k, v) =>
      val p = baseline.getOrElse(k, -1.0); v > 0 && p > 0 && v / p > RETIME_RATIO }
    if (!clean) {
      System.err.println(s"[bench] retime rounds exhausted with $stillDragged queries " +
        s"still over ${RETIME_RATIO}x best_known — floored_total below is the " +
        "drag-immune estimate")
    }
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // best retime per query, for the snapshot's retimed map
    val retimed = allRetimed.groupBy(_._1).toSeq.map { case (k, vs) =>
      val ok = vs.map(_._2).filter(_ >= 0)
      k -> (if (ok.isEmpty) vs.head._2 else ok.min)
    }.sortBy(_._1)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rt = retimed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // corrected_total: the sweep total with each retimed query counted at
    // its best observed time (min of sweep and retime — both are cold runs
    // of identical code, so the min is the quiet-window estimate). This is
    // the number to compare across rounds on a contended host.
    // Per-query best observed time this run: sweep value, improved by
    // every retime that ran (the loop above already folded the mins in).
    // Persisted as corrected_queries so the NEXT round's regression
    // baseline is the quiet-window estimate, not a possibly
    // drag-inflated sweep value. A sweep FAILURE (-1) stays -1 so
    // n_failed and corrected_total count the same set of queries.
    val correctedQueries = results.map { case (k, _) => k -> corrected(k) }
    val correctedTotal = correctedQueries.map(_._2).filter(_ >= 0).sum
    // floored_total: each query capped at best_known x RETIME_RATIO — the
    // DRAG-IMMUNE estimate. corrected_total is honest observation (real
    // regressions show up in full); floored_total is what a fully
    // contended host can never inflate past ~RETIME_RATIO x the idle
    // number. Compare corrected_total across rounds when both hosts were
    // quiet; fall back to floored_total when they disagree wildly. The
    // floor NEVER feeds best_known — only real measurements do.
    val flooredTotal = correctedQueries.map { case (k, v) =>
      val b = baseline.getOrElse(k, -1.0)
      if (v > 0 && b > 0) math.min(v, b * RETIME_RATIO) else v
    }.filter(_ >= 0).sum
    val cq = correctedQueries.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // best_known: the monotone all-time-best map the NEXT run baselines
    // against — this run's corrected value can only lower an entry
    val newBest = correctedQueries.map { case (k, v) =>
      k -> ((baseline.get(k).filter(_ > 0), v) match {
        case (Some(b), t) if t > 0 => math.min(b, t)
        case (Some(b), _) => b
        case (None, t) => t
      })
    }
    val bk = newBest.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","corrected_total":$correctedTotal,"floored_total":$flooredTotal,"n_drag_suspects":$stillDragged,"load_start":$loadStart,"load_end":$loadEnd,"consumer":"noop-sink","queries":$qs,"retimed":$rt,"corrected_queries":$cq,"best_known":$bk,"sf":"$sfDir"}"""
    // The driver's log capture keeps only the LAST ~2000 chars of output,
    // so a 172-query map printed to stdout gets decapitated and the
    // driver's JSON parse fails (BENCH_r01..r08 all carry parsed:null).
    // stdout therefore gets a COMPACT line that fits whole inside that
    // tail — totals, failure count, the slowest queries, and the retime
    // map — while the full per-query line goes to the committed snapshot
    // file (best-effort: an unwritable cwd must not fail the bench).
    // Locale.ROOT: the f interpolator is locale-sensitive — a comma
    // decimal separator would make the compact line invalid JSON and
    // silently recreate the parsed:null failure this line exists to fix.
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val nFailed = results.count(_._2 < 0)
    val top = correctedQueries.filter(_._2 >= 0).sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // the iterated retime can produce up to MAX_RETIME_ROUNDS x
    // RETIME_CAP entries — far too many for the driver's ~2000-char
    // tail, so the compact line carries only the count and the slowest
    // few; the full map is in the snapshot file
    val rtCompact = retimed.sortBy(-_._2).take(8)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","corrected_total":${fmt(correctedTotal)},"floored_total":${fmt(flooredTotal)},"n_queries":${results.size},"n_failed":$nFailed,"n_retimed":${retimed.size},"n_drag_suspects":$stillDragged,"load_start":${fmt(loadStart)},"load_end":${fmt(loadEnd)},"consumer":"noop-sink (r10+: full materialization; count()-era totals are smaller, not comparable)","queries":$top,"retimed_worst":$rtCompact,"sf":"$sfDir","note":"queries = slowest 20 of ${results.size}; floored_total = drag-immune (per-query cap best_known*1.5); full maps in $outPath"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => }
    spark.stop()
    // Absolute last output: nothing (not even spark.stop's shutdown
    // logging) may print after the line the driver's tail must parse.
    println(compact)
  }
}
