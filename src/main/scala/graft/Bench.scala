package graft
import org.apache.spark.sql.SparkSession
object Bench {

  private def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** The epoch-reference query: the one whose history best every
    * normalization in this file anchors on. */
  private val AnchorQuery = "wordcount_x8"

  /** The STREAMING epoch reference (VERDICT r15 #3): micro-batch
    * wall-clock cadence is contention-sensitive in a way a CPU-bound
    * anchor cannot normalize — 9 of the 12 top r14→r15 drifters were
    * streaming queries at 1.3-1.5x raw against a 1.19x CPU epoch. A
    * streaming flag's child therefore times THIS query as its anchor,
    * so the epoch is measured in the same cadence regime as the
    * measurement. A code regression in the stream anchor itself is
    * not masked: as a flagged query it is judged against the CPU
    * floor (a child never anchors on itself). */
  private val StreamAnchorQuery = "streaming_tumbling_agg"

  private def anchorFor(query: String): String =
    if (query.startsWith("streaming_")) StreamAnchorQuery else AnchorQuery

  /** Child mode for regression confirmation: time ONE query in this
    * fresh JVM (pass 1 warms codegen/JIT, pass 2 is the measurement)
    * and print a single parse-friendly line. No history/detail writes,
    * no regression logic — the parent owns all bookkeeping, so the
    * child can never recurse or clobber the suite's artifacts.
    *
    * The child ALSO times the anchor query (unless it IS the query):
    * three separate measurement windows have now produced garbage
    * "confirmed" verdicts because the children landed in a host
    * contention spike the parent's host_factor never saw (r13 driver:
    * 355ms→2.3s on untouched code; r14 mid-round: 84ms→1.5s at
    * host_factor 1.475). The anchor reading measures the CHILD's own
    * epoch, so the parent can normalize the verdict by the window the
    * measurement actually ran in. */
  private def isolatedMain(query: String, sfDir: String, cpus: Int): Unit = {
    val spark = GraftSession(cpus)
    val fn = SparkEntry.queries.getOrElse(query,
      sys.error(s"--isolated: unknown query '$query'"))
    def once(f: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      f(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // The anchor passes run BETWEEN the two query passes (ADVICE r14)
    // so the epoch reading samples the same window the measurement
    // ran in, not a slightly later one.
    val q1 = once(fn)
    val anchorQ = anchorFor(query)
    val anchorJson =
      if (query == anchorQ) ""
      else SparkEntry.queries.get(anchorQ).map { af =>
        val ab = math.min(once(af), once(af))
        s""","anchor_sec":${fmt(ab, 3)}"""
      }.getOrElse("")
    val best = math.min(q1, once(fn))
    spark.stop()
    println(s"""{"isolated":"$query","best_sec":${fmt(best, 3)}$anchorJson}""")
    System.out.flush()
  }

  /** Spawn a fresh JVM running `--isolated name`; returns (measured
    * seconds, the child's anchor seconds when it reported one), or
    * None on spawn/parse/timeout failure (noted on
    * stderr — confirmation then falls back to the raw flag). Works
    * because the build forks run/test, so java.class.path of THIS
    * process is the full application classpath. */
  private def runIsolated(name: String, sfDir: String, cpus: Int,
                          timeoutSec: Long): Option[(Double, Option[Double])] = {
    import scala.jdk.CollectionConverters._
    try {
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench", "--isolated", name)
      val out = java.io.File.createTempFile("graft-bench-isolated", ".out")
      out.deleteOnExit()
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      pb.redirectOutput(out)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        p.destroyForcibly()
        System.err.println(s"[bench] isolated $name timed out after ${timeoutSec}s")
        None
      } else {
        val src = scala.io.Source.fromFile(out, "UTF-8")
        val txt = try src.mkString finally src.close()
        val anchor = """"anchor_sec":([0-9.]+)""".r
          .findFirstMatchIn(txt).map(_.group(1).toDouble)
        """"best_sec":([0-9.]+)""".r.findFirstMatchIn(txt)
          .map(m => (m.group(1).toDouble, anchor))
          .orElse {
            System.err.println(
              s"[bench] isolated $name produced no best_sec (exit ${p.exitValue()})")
            None
          }
      }
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] isolated $name spawn failed: $e"); None
    }
  }

  private def readHistory(histFile: java.io.File): Map[String, Long] =
    try {
      if (histFile.exists()) {
        val src = scala.io.Source.fromFile(histFile, "UTF-8")
        val txt = try src.mkString finally src.close()
        "\"([^\"]+)\":\\s*(\\d+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
      } else Map.empty
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] history read failed, starting fresh: $e")
        Map.empty
    }

  /** Single choke point for every bench_history.json write (VERDICT
    * r16 #1). Round 16 shipped one UNATTRIBUTED upward best revision
    * (corpus_card 322→867ms, commit 129f13e) that neither sanctioned
    * rebaseline arm accounts for — the committed artifact contradicted
    * the committed refusal narrative, and the query's tripwire
    * threshold silently loosened ~2.7x. The whole perf-evidence chain
    * (flags, confirmations, weak-set clearing) rests on this file, so
    * upward moves are now structurally gated here:
    *
    *   - the file is re-read IMMEDIATELY before writing (not the
    *     possibly-minutes-stale copy the suite loaded at start — a
    *     concurrent writer or hand edit in between is part of the
    *     threat model);
    *   - a key about to move ABOVE its on-disk value that is not in
    *     `adoptions` is clamped back to the on-disk value and screamed
    *     about on stderr — the rolling min can never lose ground to an
    *     unexplained number;
    *   - every adoption that takes effect is (a) printed as an
    *     attributed stderr line naming the arm, and (b) appended to
    *     bench_adoptions.jsonl (committed alongside the history), so
    *     tools/history_check.py can match ANY upward diff between two
    *     committed snapshots of the history file against a committed
    *     provenance record and fail the round gate otherwise.
    */
  private[graft] def writeHistoryGuarded(
      histFile: java.io.File,
      merged: Map[String, Long],
      adoptions: Map[String, Long],
      arm: String): Unit = {
    val onDisk = readHistory(histFile)
    val guarded = merged.map { case (k, v) =>
      onDisk.get(k) match {
        case Some(d) if v > d && !adoptions.contains(k) =>
          System.err.println(
            s"[bench] HISTORY GUARD: refused unattributed upward move $k $d -> $v (clamped to $d)")
          k -> d
        case _ => k -> v
      }
    }
    val effective = adoptions.filter { case (k, v) =>
      guarded.get(k).contains(v) && onDisk.get(k).exists(v > _) }
    if (effective.nonEmpty) {
      val ledger = new java.io.File(
        histFile.getAbsoluteFile.getParentFile, "bench_adoptions.jsonl")
      val w = new java.io.FileWriter(ledger, java.nio.charset.StandardCharsets.UTF_8, true)
      try effective.toSeq.sorted.foreach { case (k, v) =>
        val old = onDisk(k)
        w.write(s"""{"key":"$k","old":$old,"adopted":$v,"arm":"$arm","utc":"${java.time.Instant.now()}"}""" + "\n")
        System.err.println(s"[bench] HISTORY ADOPTION ($arm): $k $old -> $v")
      } finally w.close()
    }
    val w = new java.io.PrintWriter(histFile, "UTF-8")
    try w.println(guarded.toSeq.sorted.map { case (k, v) => s""" "$k":$v""" }
      .mkString("{\n", ",\n", "\n}")) finally w.close()
  }

  /** The STALE-BEST arm of the rebaseline policy (VERDICT r15 #4):
    * "never rebaseline from a contended window" needs a complement, or
    * a best recorded in a long-gone fast epoch re-flags the same query
    * on every noisy sub-window forever (corpus_card: a 322ms r12-era
    * best, unapproached for 4 rounds while worktree A/Bs prove the
    * code is at parity or faster). Invoking this mode IS the policy
    * decision that the recorded best predates the current epoch regime
    * (≥2 rounds stale — checked against git history by the operator,
    * not guessable from the flat history file); the tool then enforces
    * the MEASUREMENT half: 3 isolated fresh-JVM reps, every rep's own
    * anchor window quiet (epoch ≤ 1.1), and adoption only when the
    * quiet median still reads >1.5x the recorded best. The adopted
    * value is a real measured reading — the rolling min takes back
    * over if a later fix restores speed. */
  private def rebaselineMain(names: Seq[String], sfDir: String, cpus: Int): Unit = {
    val sfKey = new java.io.File(sfDir).getName
    val histFile = new java.io.File("bench_history.json")
    val hist = readHistory(histFile)
    val msOf = (v: Double) => math.round(v * 1000)
    val adopted = names.flatMap { name =>
      val histBest = hist.get(s"$sfKey/$name").filter(_ > 0)
      val anchorBest = hist.get(s"$sfKey/${anchorFor(name)}").filter(_ > 0)
      if (histBest.isEmpty || anchorBest.isEmpty) {
        System.err.println(s"[rebaseline] $name: no history for query or anchor — skipped")
        None
      } else {
        val reps = (1 to 3).flatMap(_ => runIsolated(name, sfDir, cpus, 420))
        val epochs = reps.map { case (_, a) =>
          a.map(s => s * 1000.0 / anchorBest.get).getOrElse(Double.MaxValue) }
        if (reps.size < 3) {
          System.err.println(s"[rebaseline] $name: only ${reps.size}/3 reps measured — refused")
          None
        } else if (epochs.sorted.apply(1) > 1.1 || epochs.exists(_ > 1.25)) {
          // the window gate is the MEDIAN epoch (the verdict's
          // "quiet-window median" criterion — fresh-JVM anchor reps
          // carry JIT jitter), with a per-rep spike backstop
          System.err.println(s"[rebaseline] $name: window not quiet (epochs " +
            epochs.map(e => fmt(e, 2)).mkString(",") +
            " — need median <= 1.1, all <= 1.25) — refused")
          None
        } else {
          val med = reps.map(r => msOf(r._1)).sorted.apply(1)
          if (med <= math.round(1.5 * histBest.get)) {
            System.err.println(s"[rebaseline] $name: quiet median ${med}ms is within " +
              s"1.5x of best ${histBest.get}ms — best stands, no adoption")
            None
          } else Some((name, histBest.get, med))
        }
      }
    }
    if (adopted.nonEmpty) {
      val updates = adopted.map { case (n, _, med) => s"$sfKey/$n" -> med }.toMap
      writeHistoryGuarded(histFile, hist ++ updates, updates, "stale-best")
    }
    println(adopted.map { case (n, old, med) =>
      s""""$n":{"old_best_ms":$old,"adopted_ms":$med}""" }
      .mkString("""{"rebaselined":{""", ",", "}}"))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores(32)
    if (args.length >= 2 && args(0) == "--isolated") {
      isolatedMain(args(1), sfDir, cpus); return
    }
    if (args.length >= 2 && args(0) == "--rebaseline") {
      rebaselineMain(args(1).split(",").toSeq, sfDir, cpus); return
    }
    // optional arg: comma-separated query-name filter (local iteration);
    // an unknown name throws here, before the session or any artifact
    val only: Option[Set[String]] = args.lift(0).map(_.split(",").toSet)
    val ordered = SparkEntry.registry.select(only).map(q => q.name -> q.build).sortBy(_._1)
    val spark = GraftSession(cpus)
    // Steady-state timing: first execution pays JIT + codegen compile
    // (tens of seconds across a 33-query suite); run each query once to
    // warm, then measure the second execution.
    def time(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // The host shows roaming steal spikes lasting tens of seconds —
    // long enough to swallow consecutive samples of the same query
    // (observed: 29s recorded for a 1.5s-isolated wordcount). So the
    // two samples per query come from two INTERLEAVED full passes: a
    // spike then contaminates different queries in each pass and the
    // per-query min dodges it. Pass 1 doubles as the codegen/JIT warm
    // pass. Queries whose two samples still disagree >3x (or are both
    // >10s — a spike can straddle passes) get one targeted re-sample.
    def timeSafe(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      try time(fn) catch { case _: Throwable => -1.0 }
    // fixture staging out of the timed region (and its dirs cleaned on exit)
    try SparkEntry.stageAllEventFixtures(spark, sfDir) catch { case _: Throwable => () }
    val pass1 = ordered.map { case (name, fn) => name -> timeSafe(fn) }.toMap
    val pass2 = ordered.map { case (name, fn) => name -> timeSafe(fn) }.toMap
    val results = ordered.map { case (name, fn) =>
      val (a, b) = (pass1(name), pass2(name))
      val best =
        if (a < 0 || b < 0) math.min(a, b)
        else {
          val (lo, hi) = (math.min(a, b), math.max(a, b))
          if (hi > 3 * lo || lo > 10.0) {
            // a failed re-sample must not discard two good measurements
            val c = timeSafe(fn)
            if (c < 0) lo else math.min(lo, c)
          } else lo
        }
      name -> best
    }.toMap
    // In-session degradation sentinel (BENCH_r01 recorded 95s for a
    // query that re-measures at 1.35s in a fresh session): re-time the
    // first query after the whole suite ran. ratio >> 1 means the
    // recorded tail is NOT steady-state — the run is flagged, not
    // silently reported.
    // All numeric rendering pins Locale.ROOT: the f interpolator and
    // String.format use the JVM default locale, and e.g. de_DE prints
    // "117,36" — no longer valid JSON.
    val (sentinel, hostDegraded) = ordered.headOption.map { case (name, fn) =>
      val before = results(name)
      val after = math.min(timeSafe(fn), timeSafe(fn))
      val ratio = if (before > 0 && after > 0) after / before else -1.0
      if (ratio > 3.0)
        (s""""sentinel":{"query":"$name","ratio":${fmt(ratio, 2)}},"degraded":true,""", true)
      else (""""degraded":false,""", false)
    }.getOrElse(("", false))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Regression tripwire: bench_history.json (committed) records the
    // best best_ms ever observed per (sf, query). A query now >2x its
    // recorded best AND >500ms is flagged, so round-over-round drift
    // (the r6→r8 page_rank 6.7s→18.7s episode) surfaces at build time
    // instead of judge time. History then updates to the rolling min.
    // Flat {"sf/query": ms} format keeps the no-dependency parse honest
    // (keys are query names — no quotes/escapes to handle).
    val sfKey = new java.io.File(sfDir).getName
    val histFile = new java.io.File("bench_history.json")
    val hist: Map[String, Long] = readHistory(histFile)
    val msOf = (v: Double) => math.round(v * 1000)
    // Host-epoch normalization (round 11): a uniformly slower host
    // (page-cache epoch, co-tenant load) shifts the WHOLE distribution
    // under the 3x sentinel's radar — the r11 run whose suite median
    // sat at 1.39x history "confirmed" three right-tail queries whose
    // quiet-host re-runs reproduced the slowdown only because the
    // whole epoch was slow (untouched code, suite-wide shift). The
    // tripwire's job is RELATIVE regression, so the 2x criterion is
    // scaled by the run's own median current/best ratio — the median
    // is robust to the very regressions being hunted — floored at 1
    // so a fast epoch never tightens the cut, and only trusted with
    // enough history to be a distribution (>= 20 entries).
    val hostFactor: Double = {
      val ratios = ordered.flatMap { case (name, _) =>
        val cur = msOf(results(name))
        hist.get(s"$sfKey/$name").collect { case h if h > 0 && cur > 0 => cur.toDouble / h }
      }.sorted
      if (ratios.size < 20) 1.0 else math.max(1.0, ratios(ratios.size / 2))
    }
    val hostFactorJson = s""""host_factor":${fmt(hostFactor, 3)},"""
    // Machine-checked 2x baseline budget (VERDICT r11 #5): the parity
    // workload wordcount_x8 vs the reference's best SINGLE-NODE run
    // (2.172s, BASELINE.md — 2 MPI procs x 8 threads on one box),
    // host-factor normalized like every other cut in this file. The
    // contract is ratio <= 2.0; a breach screams on stderr so a round
    // can never close quietly outside the budget.
    val baselineJson: String = results.get("wordcount_x8").map { sec =>
      val ratio = (sec / hostFactor) / 2.172
      if (ratio > 2.0)
        System.err.println(s"[bench] BASELINE BREACH: wordcount_x8 ${fmt(sec, 2)}s " +
          s"= ${fmt(ratio, 2)}x the 2.172s single-node reference best (budget 2.0x)")
      s""""baseline_ratio":${fmt(ratio, 3)},"""
    }.getOrElse("")
    // Suite-level 2x tripwire (the baseline_ratio analog for the WHOLE
    // suite): baseline_ratio keys on one query, so a systemic plan
    // regression that spares wordcount_x8 would close a round quietly.
    // Ratio = suite total over the sum of rolling bests, restricted to
    // queries that HAVE history so a newly added query cannot inflate
    // the numerator unmatched. Normalization is ANCHORED on
    // wordcount_x8's own cur/best ratio, NOT the suite-median
    // host_factor: a systemic regression shifts the median itself, so
    // dividing by it would absorb exactly the failure this wire exists
    // to catch. A real epoch moves the anchor with the suite (the cut
    // scales up, no fire); a code regression that spares the anchor
    // leaves the cut at ~2x and screams. Both the anchored and raw
    // ratios ship on the line so the distinction is auditable.
    //
    // VERDICT r13 #3: a single noisy anchor run must not rescale the
    // whole suite's cut — the r13 close scaled by an anchor of 1.359
    // and masked flags the driver then confirmed at host_factor 1.135.
    // A genuine epoch slows the anchor AND the median together, so the
    // anchor may raise the cut only as far as the host_factor itself:
    // scale = min(anchor, host_factor). An anchor above the median is
    // anchor-local noise and is clamped. Backstop (ADVICE r13): the
    // RAW ratio gets its own looser ceiling (3x) that no normalization
    // can absorb — a systemic regression that drags the median up past
    // the cap still screams here.
    val suiteRatioJson: String = {
      val pairs = ordered.flatMap { case (name, _) =>
        val cur = msOf(results(name))
        hist.get(s"$sfKey/$name").collect { case h if h > 0 && cur > 0 => (name, cur, h) }
      }
      if (pairs.size < 20) ""
      else {
        val raw = pairs.map(_._2).sum.toDouble / pairs.map(_._3).sum.toDouble
        val anchor = pairs.collectFirst {
          case ("wordcount_x8", c, h) => c.toDouble / h
        }.getOrElse(hostFactor)
        val scale = math.max(1.0, math.min(anchor, hostFactor))
        val ratio = raw / scale
        if (ratio > 2.0)
          System.err.println(s"[bench] SUITE REGRESSION: suite total " +
            s"${fmt(ratio, 2)}x the rolling-best total after capped anchor " +
            s"normalization (budget 2.0x; raw ${fmt(raw, 2)}x, anchor ${fmt(anchor, 2)}x, " +
            s"scale ${fmt(scale, 2)}x)")
        if (raw > 3.0)
          System.err.println(s"[bench] SUITE REGRESSION (RAW BACKSTOP): suite total " +
            s"${fmt(raw, 2)}x the rolling-best total un-normalized (ceiling 3.0x) — " +
            "no host epoch on record has exceeded 1.5x; treat as a code regression")
        s""""suite_ratio":${fmt(ratio, 3)},"suite_ratio_raw":${fmt(raw, 3)},"""
      }
    }
    // (name, current_ms, historical_best_ms), worst inflation first
    val flagged: Seq[(String, Long, Long)] = ordered.flatMap { case (name, _) =>
      val cur = msOf(results(name))
      hist.get(s"$sfKey/$name") match {
        case Some(h) if h > 0 && cur > 2 * h * hostFactor && cur > 500 => Some((name, cur, h))
        case _ => None
      }
    }.sortBy { case (_, cur, h) => -cur.toDouble / h }
    // Confirmation pass (the standing BENCH_NOTES methodology, now
    // structural): every flag is re-run in an ISOLATED fresh JVM.
    // One rep clears most environmental flags (in-suite inflation is
    // the long-session JVM, not the plan); a flag whose first isolated
    // rep is still >2x gets two more reps and is judged on the median.
    // A wall-clock budget keeps a 23-flag day bounded — unconfirmed
    // remainder stays in the raw flag list, explicitly marked.
    val confirmEnabled = flagged.nonEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_CONFIRM", "1") != "0"
    // The r10-close episode (BENCH_NOTES.md): confirmation children
    // measured 3988ms for a query that reads 1.2s on a quiet host —
    // the parent's local[32]/128 GiB session was still resident. All
    // timed work is done by here (passes + sentinel are eager vals
    // above), so release the executors BEFORE spawning children;
    // the trailing stop() is idempotent.
    if (confirmEnabled) spark.stop()
    val confirmBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_CONFIRM_BUDGET_SEC", "900").toLong
    val confirmStart = System.nanoTime()
    def budgetLeft: Long =
      confirmBudgetSec - (System.nanoTime() - confirmStart) / 1000000000L
    var confirmTruncated = false
    // The child's own epoch: its anchor reading over the anchor's
    // history best, floored at 1. The parent's host_factor measures
    // the SUITE's window; the children run minutes later and have
    // repeatedly landed in contention spikes the suite never saw (the
    // r13-driver and r14-mid-round garbage confirmations). A genuinely
    // regressed query cannot inflate its own epoch — the anchor is a
    // different query — and an anchor CODE regression is caught
    // separately by baseline_ratio.
    // per-family anchor history: streaming flags normalize by the
    // streaming anchor's best, everything else by the CPU anchor's
    def anchorHistFor(name: String): Option[Long] =
      hist.get(s"$sfKey/${anchorFor(name)}").filter(_ > 0)
    def epochOf(name: String, anchorSec: Option[Double]): Double = (for {
      ah <- anchorHistFor(name); a <- anchorSec
    } yield math.max(1.0, a * 1000.0 / ah)).getOrElse(1.0)
    // Child timeout: the old 300s ceiling covered two passes of the
    // flagged query alone; the child now also times two anchor passes
    // (ADVICE r14), so scale the ceiling for the added work rather
    // than letting previously-near-timeout queries silently degrade
    // to the raw flag.
    def childTimeout: Long = math.min(420, budgetLeft)
    // Children that produced no measurement (spawn/timeout/parse) —
    // the raw flag stands; named on the committed JSON line, not only
    // stderr (ADVICE r14).
    val confirmFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    // name -> (isolated_ms, hist_ms, confirmed?, child_epoch)
    val confirmResults: Seq[(String, Long, Long, Boolean, Double)] =
      if (!confirmEnabled) Seq.empty
      else flagged.flatMap { case (name, _, h) =>
        if (budgetLeft < 60) { confirmTruncated = true; None }
        else runIsolated(name, sfDir, cpus, childTimeout) match {
          case None => confirmFailed += name; None // raw flag stands
          case Some((first, aFirst)) =>
            val firstMs = msOf(first)
            val e1 = epochOf(name, aFirst)
            if (firstMs <= 2 * h * math.max(hostFactor, e1))
              Some((name, firstMs, h, false, e1))
            else {
              val reps: Seq[(Long, Double)] = (firstMs, e1) +: (1 to 2).flatMap(rep =>
                if (budgetLeft < 60) { confirmTruncated = true; None }
                else runIsolated(name, sfDir, cpus, childTimeout) match {
                  // a rep-level failure silently shrinking the median
                  // sample would contradict the "children producing no
                  // measurement are named on the JSON line" contract
                  // (ADVICE r15) — name the rep, keep the survivors
                  case None => confirmFailed += s"$name#rep$rep"; None
                  case Some((s2, a2)) => Some((msOf(s2), epochOf(name, a2)))
                })
              // Judge the median of the PER-REP epoch-normalized
              // readings — each rep corrected by the window it ran in,
              // floored at the suite's hostFactor exactly like the
              // first-shot check above (ADVICE r14: an epochOf() 1.0
              // fallback — anchor missing/unparsed — must not drop the
              // suite-level correction on a contended host). Report the
              // (ms, epoch) pair OF the median rep itself so the
              // committed numbers are mutually consistent with the
              // verdict, not medians of independently sorted lists.
              val byNorm = reps.sortBy { case (ms, e) => ms / math.max(hostFactor, e) }
              val (medMs, medE) = byNorm(reps.size / 2)
              val medNorm = medMs / math.max(hostFactor, medE)
              Some((name, medMs, h, medNorm > 2.0 * h, medE))
            }
        }
      }
    val confirmedJson = {
      val entries = confirmResults.collect { case (n, ms, h, true, e) =>
        s""""$n":{"isolated_ms":$ms,"hist_ms":$h,"child_epoch":${fmt(e, 2)}}"""
      }
      // The r10 contradiction: a round whose sentinel said the HOST
      // was degraded still emitted plain "confirmed_regressions" —
      // the isolated children ran on the same loaded host, so their
      // confirmation is tainted. When the sentinel fired, the same
      // measurements ship under "confirmed_degraded" instead: the
      // flag stands for a quiet-host re-run, it is NOT a verdict.
      val confirmedKey =
        if (hostDegraded) """"confirmed_degraded":{"""
        else """"confirmed_regressions":{"""
      if (!confirmEnabled) ""
      else {
        val cleared = confirmResults.count(r => !r._4)
        val unconfirmed = flagged.size - confirmResults.size
        entries.mkString(confirmedKey, ",", "},") +
          s""""flags_raw":${flagged.size},"flags_cleared":$cleared,""" +
          (if (unconfirmed > 0) s""""flags_unconfirmed":$unconfirmed,""" else "") +
          (if (confirmFailed.nonEmpty)
            confirmFailed.map(n => s""""$n"""")
              .mkString(""""confirm_failed":[""", ",", "],")
          else "") +
          (if (confirmTruncated) """"confirm_truncated":true,""" else "")
      }
    }
    // Raw flags: full {best,hist} detail goes on the line when no
    // confirmation ran (the old behavior); with confirmation, the line
    // carries the confirmed list + counts AND (VERDICT r13 #3) the raw
    // flag NAMES — a flag the normalization cleared must still be
    // visible on the committed line, not only in bench_detail.json.
    // An empty flag list emits nothing at all (ADVICE r9).
    val regressionEntries = flagged.map { case (name, cur, h) =>
      s""""$name":{"best_ms":$cur,"hist_ms":$h}"""
    }
    // ALL names, never truncated (a silently-capped list recreates the
    // masked-flag failure this key exists to fix); a monster flag day
    // only degrades the line's per-query precision via the renderTop
    // fallback, which keeps this key intact. The count rides along so
    // any downstream clipping is detectable.
    val rawNamesJson =
      if (flagged.isEmpty) ""
      else flagged.map(f => s""""${f._1}"""")
        .mkString(s""""regressions_raw_n":${flagged.size},"regressions_raw":[""", ",", "],")
    val regressionsJson =
      if (flagged.isEmpty) ""
      else if (confirmEnabled) rawNamesJson + confirmedJson
      else regressionEntries.mkString(""""regressions":{""", ",", "},")
    // CONFIRMED regressions re-baseline: the rolling min otherwise
    // ratchets in the fastest environment ever observed and re-flags
    // the same queries every round on a permanently slower host
    // (ADVICE r9). A flag that survived median-of-3 isolated fresh-JVM
    // reps was reported on THIS round's committed bench line — history
    // then adopts the isolated median so the signal fires once, and
    // the rolling min takes back over if a later fix restores speed.
    // A degraded-host "confirmation" must not rewrite history either:
    // adopting an inflated median would mask the next real regression.
    // Nor may a merely-SLOW epoch (ADVICE r11): the 3x sentinel is a
    // single-query spot check, but host_factor is the whole
    // distribution — r11 adopted confirmed medians at host_factor
    // 1.424/degraded=false, exactly the masking the sentinel guard
    // exists for. Above a modest epoch bound the flag simply stands
    // until a quiet-host round re-confirms it.
    // a confirmation measured in a slow child window (epoch > 1.2)
    // may stand as a flag, but its inflated median must not become
    // the new baseline — same rule as the parent-epoch guard
    val rebaseline: Map[String, Long] =
      if (hostDegraded || hostFactor > 1.2) Map.empty
      else confirmResults.collect {
        case (n, ms, _, true, e) if e <= 1.2 => s"$sfKey/$n" -> ms
      }.toMap
    try {
      val updated = (hist.keySet ++ ordered.map(o => s"$sfKey/${o._1}")).flatMap { k =>
        val cur =
          if (k.startsWith(s"$sfKey/"))
            results.get(k.stripPrefix(s"$sfKey/")).filter(_ >= 0).map(msOf)
          else None
        rebaseline.get(k).orElse(
          (hist.get(k).toSeq ++ cur.toSeq).reduceOption(_ min _)).map(k -> _)
      }.toMap
      writeHistoryGuarded(histFile, updated, rebaseline, "confirm")
    } catch {
      case e: java.io.IOException => // a read-only cwd must not kill the run
        System.err.println(s"[bench] history write skipped: $e")
    }
    // Full-precision channel: every run also writes bench_detail.json
    // into the repo (committed alongside the round), carrying
    // millisecond per-query values for BOTH passes plus the chosen
    // best — the collector-window constraint below never degrades it,
    // so sub-second round-over-round regressions stay detectable.
    val detail = {
      val rows = ordered.map { case (name, _) =>
        val ms = (v: Double) => math.round(v * 1000)
        s""" "$name":{"pass1_ms":${ms(pass1(name))},"pass2_ms":${ms(pass2(name))},"best_ms":${ms(results(name))}}"""
      }.mkString("{\n", ",\n", "\n}")
      // distinct key from the line's "regressions_raw" NAME ARRAY: one
      // key, one shape — this object carries the {best,hist} detail
      val rawFlags =
        if (flagged.isEmpty) ""
        else regressionEntries.mkString(""""regressions_raw_detail":{""", ",", "},")
      val isolatedRows =
        if (confirmResults.isEmpty) ""
        else confirmResults.map { case (n, ms, h, conf, e) =>
          s""""$n":{"isolated_ms":$ms,"hist_ms":$h,"confirmed":$conf,"child_epoch":${fmt(e, 2)}}"""
        }.mkString(""""isolated":{""", ",", "},")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec",$sentinel$hostFactorJson$baselineJson$suiteRatioJson$rawFlags$isolatedRows$confirmedJson"sf":"$sfDir",
         |"queries":$rows}""".stripMargin
    }
    try {
      val w = new java.io.PrintWriter("bench_detail.json", "UTF-8")
      try w.println(detail) finally w.close()
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] detail write skipped: $e")
    }
    // The harness that collects the stdout line keeps only the LAST
    // ~2000 chars of output, so the line must be compact and be the
    // final thing printed — after spark.stop(), so no shutdown log
    // lines land behind it. Precision steps 2 → 1 decimals; it NEVER
    // drops to 0 (whole-second rendering destroys the per-query signal
    // — BENCH_r04 recorded 62 of 90 queries as 0 or 1). If 1-decimal
    // still overflows, the line keeps the slowest queries at 1 decimal
    // and rolls the rest into "others" — full per-query resolution
    // lives in bench_detail.json either way.
    def render(decimals: Int): String = {
      val qs = results.map { case (k, v) => s""""$k":${fmt(v, decimals)}""" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec",$sentinel$hostFactorJson$baselineJson$suiteRatioJson$regressionsJson"queries":$qs,"sf":"$sfDir"}"""
    }
    def renderTop(n: Int): String = {
      val bySlow = results.toSeq.sortBy(-_._2)
      val (top, rest) = bySlow.splitAt(n)
      val qs = top.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v, 1)}""" }
        .mkString("{", ",", "}")
      val restTotal = rest.map(_._2).sum
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec",$sentinel$hostFactorJson$baselineJson$suiteRatioJson$regressionsJson"queries":$qs,""" +
        s""""others":{"n":${rest.size},"total":${fmt(restTotal, 1)}},"detail":"bench_detail.json","sf":"$sfDir"}"""
    }
    val line = {
      val l2 = render(2)
      if (l2.length <= 1700) l2
      else {
        val l1 = render(1)
        if (l1.length <= 1900) l1
        else Iterator(60, 50, 40, 30, 20).map(renderTop).find(_.length <= 1900).getOrElse(renderTop(10))
      }
    }
    spark.stop()
    println(line)
    System.out.flush()
  }
}
