package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the full battery on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. An untimed warm-up pass absorbs session/JIT
  * startup; each query is then measured SPARK_GRAFT_PASSES times
  * (default 3) and reports its per-query MEDIAN, so one-off Janino
  * compilation, GC pauses and first-touch parquet footer reads don't
  * masquerade as engine regressions (run-to-run spread of the median
  * total is <10%; a single measured pass swung >40%). Failures are
  * reported per-query (failed list + nonzero exit) instead of silently
  * inflating the total.
  *
  * Noise instrumentation (round-8 lesson: identical code measured
  * 57.8 s one run and 109.9 s the next while a NO-OP baseline swung
  * 18 s → 45 s — the host steals CPU/IO in multi-minute windows that
  * median-of-passes cannot remove, so a consumer needs machine-readable
  * validity evidence IN the output):
  *   - `calib_before`/`calib_after`: median wall time of a fixed
  *     engine-independent probe job run before and after the battery.
  *     Comparing the two (and either against its quiet-window ~0.2 s
  *     cost) flags contamination during the run itself.
  *   - `process_cpu_sec` vs `wall_sec` (+ their ratio): on a quiet
  *     host the battery is CPU-bound and the ratio is stable; external
  *     contention inflates wall while process CPU stays flat, so a
  *     ratio well below the machine's historical value marks the run
  *     contaminated rather than the engine regressed. */
object Bench {

  /** The one STDOUT line: totals, failures, validity evidence and the
    * SF, never per-entry data — its length does not grow with the
    * battery. The driver captures it from the sbt log tail, and a line
    * carrying the per-entry medians map (4.4 KB at 179 entries) was
    * cut mid-map, so every record from r16 on had "parsed": null.
    * The failures appear as their count `failed_n` plus as many failed
    * names as keep the line within [[stdoutMaxBytes]]; the full list,
    * per-entry medians, min-of-passes, CPU, lint, exchange counts and
    * the budget diff live in bench_out.json, which log capture cannot
    * truncate. */
  private[graft] def stdoutLine(total: Double, totalMin: Double,
                                failed: Seq[String], remeasuredN: Int,
                                noise: String, sf: String): String = {
    def line(names: Seq[String]) =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"failed_n":${failed.size},"failed":${jsonList(names)},"remeasured_n":$remeasuredN,$noise,"sf":"$sf"}"""
    failed.inits.map(line)
      .find(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= stdoutMaxBytes)
      .getOrElse(line(Nil))
  }

  /** The longest stdout line a log-tail capture keeps whole. */
  private[graft] val stdoutMaxBytes = 300

  private def jsonList(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The validity evidence both output lines carry (see the object
    * doc), as JSON members. */
  private[graft] def noiseJson(calibBefore: Double, calibAfter: Double,
                               wallSec: Double, cpuSec: Double): String =
    f""""calib_before":$calibBefore%.3f,"calib_after":$calibAfter%.3f,"wall_sec":$wallSec%.3f,"process_cpu_sec":$cpuSec%.3f,"cpu_wall_ratio":${cpuSec / wallSec}%.2f"""

  /** Whether the opt-in strict CI gate should exit nonzero. A
    * deliberate re-baseline run (SPARK_GRAFT_WRITE_BUDGET set) just
    * replaced the committed budget with the measured counts — failing
    * it on the pre-rewrite diff would veto the very rewrite it was
    * asked to do (round-12 ADVICE); the diff is still logged. */
  private[graft] def strictGateFails(strict: Boolean, rebaselining: Boolean,
                                     budgetClean: Boolean): Boolean =
    strict && !rebaselining && !budgetClean

  /** Per-entry self-validation: entries whose fresh median deviates
    * more than `factor`× ABOVE the previous committed clean bench —
    * the candidates for a bounded re-measure pass. Three consecutive
    * rounds a judge hand-exonerated 1.5–2.2× medians inflated by host
    * contention; the artifact must carry that evidence itself.
    * `floorSec` keeps sub-noise entries (0.05 s → 0.12 s) out;
    * `maxEntries` bounds the extra passes on a badly contended run
    * (worst offenders first). Entries NEW to the battery have no
    * committed baseline, so they compare against the battery median
    * instead (`newEntryFactor`× it): round 14's first-appearance
    * 11.9 s entry sailed through `remeasured_n: 0` unflagged — real
    * CPU that time, but the mechanism would equally have passed an
    * 11.9 s contention artifact into the record. The new-entry rule
    * only arms when a same-SF baseline exists at all; on a fresh or
    * cross-SF run every entry is "new" and flagging the legitimate
    * heavy tail would burn passes for no evidence. */
  private[graft] def suspects(medians: Map[String, Double],
                              baseline: Map[String, Double],
                              factor: Double = 2.0,
                              floorSec: Double = 0.25,
                              maxEntries: Int = 12,
                              newEntryFactor: Double = 5.0): Seq[String] = {
    val battMed = batteryMedian(medians)
    medians.toSeq
      .collect {
        case (k, v) if v > floorSec &&
          baseline.get(k).exists(b => b > 0 && v > b * factor) =>
          (k, v / baseline(k))
        case (k, v) if v > floorSec && baseline.nonEmpty &&
          !baseline.contains(k) && battMed > 0 &&
          v > battMed * newEntryFactor =>
          (k, v / battMed)
      }
      .sortBy(-_._2).take(maxEntries).map(_._1)
  }

  /** Median of the per-entry medians — the scale reference for
    * entries that have no committed baseline yet. */
  private[graft] def batteryMedian(medians: Map[String, Double]): Double = {
    val vals = medians.values.toSeq.sorted
    if (vals.isEmpty) 0.0 else vals(vals.size / 2)
  }

  /** Exchange-budget file for the measured corpus (round-19, verdict
    * item #2): scaled /tmp corpora (basename `sf<digits>x` —
    * GenScale's naming) compare against the 10× ceilings (plan shapes
    * legitimately shift with AQE/broadcast thresholds at scale);
    * everything else against the sf0.1 file. Round-18's first 10×
    * battery compared against the sf0.1 budgets and flagged three
    * false breaches — the selector is code now; the env var
    * (`SPARK_GRAFT_EXCHANGE_BUDGET`) is an OVERRIDE only. */
  private[graft] def budgetFileFor(sfDir: String): String = {
    val base = java.nio.file.Paths.get(sfDir).getFileName.toString
    if (base.matches("sf\\d+x")) "exchange_budget_10x.json"
    else "exchange_budget.json"
  }

  /** Previous committed medians out of a bench_out.json, keyed for
    * [[suspects]]. Returns empty (self-validation off) when the file
    * is missing, unparseable, or measured at a different SF — a
    * cross-SF comparison would flag everything. */
  private[graft] def baselineMedians(path: java.nio.file.Path,
                                     sfDir: String): Map[String, Double] = {
    if (!java.nio.file.Files.exists(path)) return Map.empty
    try {
      val text = new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8)
      new graft.rdf.Json.JsonReader(text).parseDocument() match {
        case graft.rdf.Json.JObj(fields) =>
          val m = fields.toMap
          val sfOk = m.get("sf").exists {
            case graft.rdf.Json.JStr(s) => s == sfDir
            case _ => false
          }
          if (!sfOk) Map.empty
          else m.get("queries") match {
            case Some(graft.rdf.Json.JObj(qs)) => qs.collect {
              case (k, graft.rdf.Json.JNum(raw)) => k -> raw.toDouble
            }.toMap
            case _ => Map.empty
          }
        case _ => Map.empty
      }
    } catch { case _: Exception => Map.empty }
  }

  private[graft] def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Fixed calibration probe, median of 3 seconds: engine-independent
    * arithmetic over an in-memory range — no IO, no shuffle,
    * byte-identical work every round, so its wall time moves ONLY with
    * host contention. One discarded run first: the probe's own plan
    * and generated code are compiled and JIT-warmed there, which read
    * 0.46-0.50 s against 0.14-0.17 s warm in a short `Dev time` run. */
  private[graft] def calibrate(spark: SparkSession): Double = {
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 50000000L, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(id * 2 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    probe()
    medianOf((1 to 3).map(_ => probe()))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt.max(1)
    val spark = LocalSession.start(32)

    // Materialize EVERY output column (count() would let Catalyst prune
    // the computed columns away and under-measure).
    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // untimed warm-up: EVERY entry once (round-19, verdict item #2) —
    // build-once /tmp artifacts (dict stores, WARC fixtures, persisted
    // ANN/IVF indexes, signed corpora), Janino codegen and parquet
    // footer reads all land here instead of inside timed passes, so
    // the round's FIRST battery after a /tmp wipe matches a warm
    // re-run by construction (round-18's first 10× run read 395 s vs
    // 319 s warm because dict-store builds paid inside timed entries)
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      try exec(q) catch { case _: Throwable => () }
    }

    val calibBefore = calibrate(spark)
    val wall0 = System.nanoTime()
    val cpu0 = osBean.getProcessCpuTime

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // (wall, process-CPU) per pass: contention arrives in mid-run
    // bursts the before/after calibration probes cannot see (three
    // identical-code runs inflated DIFFERENT entries 7-10×), but a
    // burst inflates an entry's wall while its CPU stays flat — the
    // per-entry ratio pins which medians to distrust
    def timeEntry(name: String): Seq[(Double, Double)] =
      (1 to passes).flatMap { _ =>
        val t0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime
        try {
          exec(name)
          Some(((System.nanoTime() - t0) / 1e9,
            (osBean.getProcessCpuTime - c0) / 1e9))
        } catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          None
        }
      }
    val measured = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val times = timeEntry(name)
      (name, if (times.isEmpty) 0.0 else medianOf(times.map(_._1)),
        if (times.isEmpty) 0.0 else times.map(_._1).min,
        if (times.isEmpty) 0.0 else medianOf(times.map(_._2)))
    }

    // ---- per-entry self-validation (round-11 #3 / round-12 #1) ----
    // medians >2× the previous committed clean bench get a bounded
    // second chance AFTER the battery (the contention window that
    // inflated them has usually moved on); contention only ever
    // inflates, so the smaller median is the truth and is reported,
    // with the full evidence trail in the artifact
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    val baseline = baselineMedians(outPath, sfDir)
    val medMap = measured.collect {
      case (k, v, _, _) if !failed.contains(k) => k -> v
    }.toMap
    val battMed = batteryMedian(medMap)
    val toRecheck = suspects(medMap, baseline)
    val revalidations = toRecheck.flatMap { name =>
      val vs = baseline.get(name)
        .map(b => f"committed $b%.3f s (>2x)")
        .getOrElse(f"battery median $battMed%.3f s (first appearance, >5x)")
      System.err.println(f"[bench] re-measuring $name: median " +
        f"${measured.find(_._1 == name).get._2}%.3f s vs " + vs)
      val times = timeEntry(name)
      if (times.isEmpty) None
      else Some((name, medianOf(times.map(_._1)), times.map(_._1).min,
        medianOf(times.map(_._2))))
    }.map { case (name, med2, min2, cpu2) => name -> ((med2, min2, cpu2)) }
      .toMap
    val results = measured.map { case r @ (name, med, mn, cpu) =>
      revalidations.get(name) match {
        case Some((med2, min2, cpu2)) if med2 < med =>
          (name, med2, math.min(mn, min2), cpu2)
        case _ => r
      }
    }
    val remeasuredJson = toRecheck.map { name =>
      val orig = measured.find(_._1 == name).get._2
      val kept = results.find(_._1 == name).get._2
      // first-appearance entries carry the battery-median reference
      // they were flagged against ("baseline": null marks them)
      val (baseJson, confirmed) = baseline.get(name) match {
        case Some(b) => (f"$b%.3f", kept > b * 2.0)
        case None => ("null", kept > battMed * 5.0)
      }
      f"""{"entry":"$name","original":$orig%.3f,"kept":$kept%.3f,"baseline":$baseJson,"confirmed":$confirmed}"""
    }.mkString("[", ",", "]")
    val qs = results.map { case (k, v, _, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    // min-of-passes alongside the median: the noise-resistant floor —
    // a host-contention window inflates medians near-uniformly, but
    // rarely all passes of all queries (observed identical-code totals
    // of 33.9/45.8/185 s under invisible neighbor load)
    val qsMin = results.map { case (k, _, m, _) => "\"" + k + f"\":$m%.3f" }
      .mkString("{", ",", "}")
    val qsCpu = results.map { case (k, _, _, c) => "\"" + k + f"\":$c%.3f" }
      .mkString("{", ",", "}")
    // total covers SUCCESSFUL queries only: a failed query's partial
    // elapsed time (parse-error-fast vs fails-after-100s) would make
    // cross-round totals incomparable for identical coverage
    val total = results.collect {
      case (k, v, _, _) if !failed.contains(k) => v
    }.sum
    val totalMin = results.collect {
      case (k, _, m, _) if !failed.contains(k) => m
    }.sum
    val failedJson = jsonList(failed.toSeq)
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
    val calibAfter = calibrate(spark)
    // per-entry PlanLint ERROR counts + shuffle-exchange counts next
    // to the latencies: a plan regression (new cartesian, oversized
    // broadcast, a quietly-added extra shuffle) becomes
    // machine-visible in the SAME artifact as the time it costs.
    // Runs OUTSIDE the timed window (see PlanAudit for the
    // constructs-but-never-executes caveat); one pass feeds both maps.
    val lintPass = PlanAudit.pass(spark, sfDir)
    val lintCounts = lintPass.map { case (k, n, _) => "\"" + k + s"""\":$n""" }
      .mkString("{", ",", "}")
    val exchangeCounts = lintPass.map { case (k, _, x) => "\"" + k + s"""\":$x""" }
      .mkString("{", ",", "}")
    // diff actual shuffle counts against the checked-in ceilings
    // (exchange_budget.json; see ExchangeBudget for semantics)
    val budgetPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_EXCHANGE_BUDGET", budgetFileFor(sfDir)))
    val actualMap = lintPass.map { case (k, _, x) => k -> x }.toMap
    val budgetDiff =
      if (java.nio.file.Files.exists(budgetPath))
        graft.plans.ExchangeBudget.check(
          graft.plans.ExchangeBudget.load(budgetPath), actualMap)
      else graft.plans.ExchangeBudget.Diff(Nil, actualMap.keys.toSeq.sorted, Nil)
    budgetDiff.over.foreach { case (name, actual, budget) =>
      System.err.println(
        s"[bench] EXCHANGE BUDGET EXCEEDED: $name plans $actual " +
          s"shuffle(s), budget $budget — an extra full pass over the " +
          "data at scale; fix the plan or consciously re-baseline")
    }
    budgetDiff.stale.foreach { name =>
      System.err.println(
        s"[bench] stale budget key: $name has a ceiling in $budgetPath " +
          "but no battery entry — renamed/removed entry; re-baseline " +
          "to drop the dead line")
    }
    val overJson = budgetDiff.over.map { case (n, a, b) =>
      s"""{"entry":"$n","actual":$a,"budget":$b}"""
    }.mkString("[", ",", "]")
    val unbudgetedJson =
      budgetDiff.unbudgeted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val staleJson =
      budgetDiff.stale.map("\"" + _ + "\"").mkString("[", ",", "]")
    // regenerate the baseline in place when asked (then commit it)
    sys.env.get("SPARK_GRAFT_WRITE_BUDGET").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        graft.plans.ExchangeBudget.render(actualMap))
    }
    val noise = noiseJson(calibBefore, calibAfter, wallSec, cpuSec)
    val shortJson = stdoutLine(total, totalMin, failed.toSeq, toRecheck.size,
      noise, sfDir)
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_min":$qsMin,"queries_cpu":$qsCpu,"lint_errors":$lintCounts,"exchange_counts":$exchangeCounts,"exchange_over_budget":$overJson,"exchange_unbudgeted":$unbudgetedJson,"exchange_budget_stale":$staleJson,"remeasured":$remeasuredJson,"total_min":$totalMin%.3f,"failed":$failedJson,$noise,"sf":"$sfDir"}"""
    println(shortJson)
    java.nio.file.Files.writeString(outPath, fullJson + "\n")
    spark.stop()
    // opt-in CI gate: a quietly-added shuffle must be able to FAIL a
    // run, not just annotate an artifact a human may never read
    val strict = sys.env.get("SPARK_GRAFT_BUDGET_STRICT").contains("1")
    val rebaselining = sys.env.contains("SPARK_GRAFT_WRITE_BUDGET")
    if (strict && rebaselining && !budgetDiff.clean)
      System.err.println(
        s"[bench] strict gate SKIPPED: SPARK_GRAFT_WRITE_BUDGET set — " +
          s"baseline regenerated over ${budgetDiff.over.size} diff(s)")
    if (strictGateFails(strict, rebaselining, budgetDiff.clean)) {
      System.err.println(
        s"[bench] STRICT: exiting nonzero on ${budgetDiff.over.size} " +
          "over-budget entr(ies)")
      sys.exit(2)
    }
    if (failed.nonEmpty) sys.exit(1)
  }
}
