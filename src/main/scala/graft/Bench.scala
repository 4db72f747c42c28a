package graft

/** Storm-retry decision (VERDICT r12 #1, economics reworked per
  * VERDICT r13 #1), kept pure so BenchRetrySpec can pin it. The bench
  * host is a co-tenant VM whose contention windows (sys+steal storms,
  * measured via /proc/stat at up to 90% of a 5 s sample) inflate
  * RANDOM single-run samples 10-100× over the committed min-of-repeats
  * steady value while the plans — byte-pinned by ShuffleDriftSpec —
  * are unchanged. A single-pass bench therefore needs an in-run
  * defense: re-run any query whose sample is implausible against its
  * committed steady value or demonstrably overlapped a storm, and keep
  * the min (the noise is strictly additive).
  *
  * r13 spent the retry budget first-come-first-served in alphabetical
  * query order, so early cheap queries' retries drained it before the
  * expensive tail (dedup_minhash_lsh kept a 22 s storm sample with a
  * 1.5 s steady because the budget died 200 queries earlier). The r14
  * scheme is two-phase: the pass only RECORDS samples; the budget is
  * then spent in post-pass sweeps on suspects ranked worst-relative-
  * offender first (kept/steady descending), and it scales with the
  * pass's measured excess over steady rather than a flat fraction of
  * the steady total. */
object BenchRetry {
  /** sys+steal fraction above which a window counts as storm-hit. */
  val StormFrac = 0.20
  /** No-storm-evidence path: a sample this many × steady is far
    * outside the measured quiet-host run-to-run band (<1.3×). */
  val SlowFactor = 3.0
  /** With storm evidence the bar drops: the window is KNOWN dirty. */
  val StormSlowFactor = 1.5
  /** Per-query retry cap across sweeps: a genuinely regressed query
    * (or one whose committed steady went stale) must not eat the whole
    * budget re-proving the same slow plan. */
  val MaxRetries = 2
  /** Budget floor/ceiling around the measured excess (seconds). */
  val BudgetFloor = 60.0
  val BudgetCeil = 300.0

  def isSuspect(sec: Double, steady: Double, stormFrac: Double): Boolean =
    sec > math.max(2.0, SlowFactor * steady) ||
      (stormFrac > StormFrac && sec > math.max(1.0, StormSlowFactor * steady))

  /** Retry budget scaled with the pass's measured excess over steady
    * (VERDICT r13 #1): Σ max(0, sec − 1.5×steady). A quiet pass earns
    * only the floor; a storm-hit pass earns up to the ceiling — enough
    * to re-run everything the storms actually touched, never enough to
    * let a genuinely regressed fleet double the run. */
  def budget(excessSec: Double): Double =
    math.min(BudgetCeil, math.max(BudgetFloor, excessSec))

  /** Steady expectation for a query absent from the artifact (new this
    * round): the median of its name-family (prefix up to the first
    * '_': t-prefixed queries get the streaming state-store floor, not
    * the fleet-wide 0.76 s that made every legitimately-heavy new
    * query auto-retry — VERDICT r13 "what's wrong" #3), falling back
    * to the fleet median. None only when the artifact is empty (and
    * then retry is disabled entirely). */
  def familySteady(name: String, steadies: Map[String, Double]): Option[Double] = {
    // family = leading segment with trailing digits stripped, so t14/
    // t23/t7 share the "t" (streaming) family and x1/x18 share "x"
    def fam(n: String) = n.takeWhile(_ != '_').reverse.dropWhile(_.isDigit).reverse
    if (steadies.isEmpty) None
    else {
      val f = fam(name)
      val famVals = steadies.collect { case (k, v) if fam(k) == f => v }.toSeq
      Some(median(if (famVals.nonEmpty) famVals else steadies.values.toSeq))
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Results go through the `noop` sink, not count():
  * count() lets Catalyst prune every projection (a text-cleaning chain
  * "benchmarked" via count() never runs the cleaning expressions), while
  * noop fully evaluates and serializes each output row, measuring the
  * real operator cost.
  */
object Bench {

  /** One timed sample plus the host-state evidence recorded around it:
    * the sys+steal fraction of the window, the process fault deltas
    * (the mmap_lock page-fault storms show up as minflt bursts), and
    * our own process's cpu/wall ratio for the window — low ratio on a
    * slow sample = we were descheduled (co-tenant USER-cpu contention
    * that sys+steal cannot see); high ratio = a genuine compute/GC/JIT
    * cost inside the JVM. */
  final case class Sample(sec: Double, storm: Double,
      minflt: Long, majflt: Long, cpuRatio: Double, errored: Boolean)

  /** Reported seconds for a query: min over its non-errored samples
    * when at least one exists (a retry that throws quickly must not
    * replace a valid first measurement with its failure duration —
    * r13 ADVICE), falling back to the raw min when every sample
    * errored (the errors counter flags those). */
  def keptSec(samples: Vector[Sample]): Double = {
    val ok = samples.filterNot(_.errored)
    (if (ok.nonEmpty) ok else samples).map(_.sec).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the run to named
    // queries (an unknown name fails here, before the session starts);
    // SPARK_GRAFT_REPEAT=n times each query n times; the reported value
    // is the min over non-errored samples (first-run codegen compile
    // cost falls out of the min; the repeat tooling also mins over the
    // full stderr vectors)
    val selected = GraftSession.selected()
    val spark = GraftSession.build()
    GraftSession.warm(spark, sfDir)
    val repeat = math.max(1,
      sys.env.get("SPARK_GRAFT_REPEAT").flatMap(_.toIntOption).getOrElse(1))
    // a query that throws is LOGGED and COUNTED — the stdout JSON carries
    // "errors":N so a broken round can't masquerade as a fast one (a
    // swallowed crash times at near-zero and the total still parses)
    var errors = 0
    // per-query shuffle read/write bytes (VERDICT r10 #5): catches the
    // byte regressions the plan-shape lints can't see
    val shuffleBytes = scala.collection.mutable.Map[String, (Long, Long)]()
    // storm-retry state (VERDICT r12 #1, two-phase since r14): the
    // committed steady artifact is the per-query expectation. Retries
    // apply ONLY when this run is at the artifact's SF (an SF-mismatch
    // run would compare every sample against made-up expectations and
    // retry everything slow — r13 ADVICE); the driver's single-pass
    // mode only — SPARK_GRAFT_REPEAT runs want raw samples (the repeat
    // tooling takes its own min), as does SPARK_GRAFT_NO_RETRY=1.
    val steadyRef = SteadyRef.load()
    val steadySfOk = steadyRef.exists(_.sf == sfDir)
    val steadyMap: Map[String, Double] =
      if (steadySfOk) steadyRef.map(_.secs).getOrElse(Map.empty) else Map.empty
    def steadyOf(name: String): Double =
      steadyMap.getOrElse(name,
        BenchRetry.familySteady(name, steadyMap).getOrElse(Double.MaxValue))
    val byNameFn = selected.toMap
    val retryEnabled = repeat == 1 && steadyMap.nonEmpty &&
      !sys.env.contains("SPARK_GRAFT_NO_RETRY")
    var retries = 0
    // explicit root locale everywhere a number is machine-parsed: the
    // default f"" interpolator is locale-sensitive, and a comma-decimal
    // locale would break both the JSON metric line and the [bench-host]
    // tokens dev/bench_repeats.py greps (r13 ADVICE)
    def fmt(pat: String, vs: Any*): String =
      String.format(java.util.Locale.ROOT, pat, vs.map(_.asInstanceOf[AnyRef]): _*)
    val hostDetail = scala.collection.mutable.LinkedHashMap[String, Vector[Sample]]()
    def sampleOnce(name: String): Sample = {
      val fn = byNameFn(name)
      val c0 = HostStat.cpu(); val f0 = HostStat.faults()
      val p0 = HostStat.procCpuSec()
      val (r0, w0) = ShuffleTelemetry.snapshot(spark)
      val t0 = System.nanoTime()
      var errored = false
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case t: Throwable =>
        errors += 1; errored = true
        System.err.println(s"[bench-error] $name: ${t.getClass.getName}: ${t.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val c1 = HostStat.cpu(); val f1 = HostStat.faults()
      val p1 = HostStat.procCpuSec()
      val (r1, w1) = ShuffleTelemetry.snapshot(spark)
      shuffleBytes(name) = (r1 - r0, w1 - w0) // last sample wins (bytes are plan-deterministic)
      GraftSession.reset(spark)
      val s = Sample(dt, HostStat.stormFrac(c0, c1),
        f1.minor - f0.minor, f1.major - f0.major,
        if (dt > 0) (p1 - p0) / dt else 0.0, errored)
      // per-sample host evidence: sec@sysStealFrac/minflt/majflt/cpuRatio
      // — printed exactly ONCE per sample (pass and sweep samples alike;
      // dev/bench_repeats.py accumulates per name across lines), so the
      // committed stderr carries every sample's own storm-or-not
      // adjudication (VERDICT r12 #2)
      System.err.println(s"[bench-host] $name: " +
        fmt("%.3f@%.3f/%d/%d/%.2f", s.sec, s.storm, s.minflt, s.majflt, s.cpuRatio))
      hostDetail(name) = hostDetail.getOrElse(name, Vector.empty) :+ s
      s
    }
    // ---- phase 1: one pass, samples only (no retries spent here) ----
    selected.zipWithIndex.foreach { case ((name, _), qIdx) =>
      System.err.println(s"[bench-start] $name ${System.currentTimeMillis()}")
      (1 to repeat).foreach(_ => sampleOnce(name))
      // shuffle files on the RAM-backed scratch dir are only reclaimed
      // when the ContextCleaner sees their references die in a DRIVER
      // GC — across a 182-query session that backlog is the measured
      // 2-7x late-query inflation. A periodic explicit GC keeps the
      // scratch tmpfs (and the executor block manager) near-empty.
      if (qIdx % 8 == 7) System.gc()
    }
    // ---- phase 2: spend the retry budget on the worst RELATIVE
    // offenders fleet-wide (VERDICT r13 #1) — kept/steady descending,
    // so one 20 s storm sample on a 1.5 s-steady query outranks every
    // mildly-slow cheap query. Sweeps repeat while budget remains and
    // a kept value is still suspect (a retry can itself land in a
    // storm), bounded by MaxRetries per query. ----
    val retryBudget0: Double =
      if (!retryEnabled) 0.0
      else BenchRetry.budget(selected.map { case (name, _) =>
        math.max(0.0, keptSec(hostDetail(name)) -
          BenchRetry.StormSlowFactor * steadyOf(name))
      }.sum)
    var retryBudget = retryBudget0
    if (retryEnabled) {
      System.gc() // start the sweeps with a reclaimed scratch dir
      val retriesByQuery = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      var improved = true
      while (improved && retryBudget > 0) {
        improved = false
        val suspects = selected.map(_._1).filter { name =>
          val ss = hostDetail(name)
          val ok = ss.filterNot(_.errored)
          retriesByQuery(name) < BenchRetry.MaxRetries && ok.nonEmpty && {
            val best = ok.minBy(_.sec)
            BenchRetry.isSuspect(best.sec, steadyOf(name), best.storm)
          }
        }.sortBy(name => -(keptSec(hostDetail(name)) / steadyOf(name)))
        for (name <- suspects if retryBudget > 0) {
          System.err.println(fmt("[bench-retry] %s kept=%.2f steady=%.2f budget=%.1f",
            name, keptSec(hostDetail(name)), steadyOf(name), retryBudget))
          val again = sampleOnce(name) // may overdraw once; bounded by the slowest query
          retries += 1
          retriesByQuery(name) += 1
          retryBudget -= again.sec
          improved = true
        }
      }
    }
    val results = selected.map { case (name, _) => name -> keptSec(hostDetail(name)) }
    // The driver captures only a ~3 KB TAIL of stdout and parses the
    // metric line out of it (r01 recorded parsed:null because the full
    // 111-query map, printed twice, overflowed that window and the line
    // got clipped mid-JSON). Keep the line SMALL: full per-query detail
    // goes to stderr, the stdout JSON carries the total plus a fixed
    // headline subset, rounded to 3 dp.
    val headline = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
      "f1_project_filter", "j1_dim_join_distinct", "j2_semi_join",
      "x1_clean_chain", "s1_tsv_roundtrip", "e2e_finalize",
      "d1_classify_aggregate", "dedup_exact", "dedup_ngram_jaccard",
      "dedup_minhash_lsh", "dedup_simhash", "ann_brute_topk", "ann_ivf_topk",
      "ta_token_count", "ta_quality_score", "win_moving_avg",
      "win_sessionize", "t1_stream_tumbling",
      // round-3 flagships (stdout line stays well under the ~3 KB tail
      // window: ~120 B added, ~860 B per copy total)
      "t7_stream_lsh_dedup", "ta_contamination", "ann_quantized_topk",
      // curation-pack flagships (~80 B more; ~940 B per copy)
      "graph_pagerank", "ta_boilerplate_grams", "x_sample_quota",
      // round-3 session-2 flagships (~150 B more; ~1.1 KB per copy —
      // still < half the ~3 KB tail window for both copies together)
      "sem_dedup", "ta_bm25_topk", "lm_bigram_score", "fuzzy_join_jw",
      "q9_product_type_profit", "dedup_canonical",
      // round-5 additions (~70 B; both copies still fit the tail window)
      "t11_transform_with_state", "k2_excel_roundtrip", "d2_smiles_canonical",
      // round-6 flagship (~30 B)
      "t14_checkpoint_recovery",
      // round-9 flagships (~70 B; both stdout copies still fit the
      // ~3 KB tail window)
      "d11_aromatic_canonical", "dedup_exact_substring")
    def r3(v: Double): String = fmt("%.3f", v)
    val byName = results.toMap
    System.err.println(results.map { case (k, v) => s""""$k":${r3(v)}""" }
      .mkString("[bench-detail] {", ",", "}"))
    System.err.println(results.map { case (k, _) =>
        val (r, w) = shuffleBytes.getOrElse(k, (0L, 0L))
        s""""$k":[$r,$w]"""
      }.mkString("[bench-shuffle] {", ",", "}"))
    val qs = headline.flatMap(k => byName.get(k).map(v => s""""$k":${r3(v)}"""))
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // self-describing protocol (VERDICT r12 #1): the metric line says
    // HOW it was measured — which steady artifact gated retries, the
    // thresholds, and how much of the retry budget was spent — so the
    // number adjudicates itself without prose. Kept compact: both
    // stdout copies must fit the driver's ~3 KB tail window.
    val protocol =
      if (!retryEnabled) s"raw samples (repeat=$repeat, no storm-retry)"
      else {
        val ref = steadyRef.map(_.file).getOrElse("none")
        fmt("storm-retry(post-pass sweeps, min over samples): suspect if " +
          "t>max(2s,%.0fx steady) or sys+steal>%.2f and t>%.1fx; " +
          "steady=%s, family-median for new queries; " +
          "budget=clamp(sum max(0,t-1.5x steady),60,300)=%.0fs used %.1fs",
          BenchRetry.SlowFactor, BenchRetry.StormFrac, BenchRetry.StormSlowFactor,
          ref, retryBudget0, retryBudget0 - retryBudget)
      }
    val json = s"""{"metric":"total","value":${r3(total)},"unit":"sec","errors":$errors,"retries":$retries,"protocol":"$protocol","queries":$qs,"sf":"$sfDir"}"""
    // emit twice: a prefixed copy for parsers that strip an sbt-style
    // "[info] " tag, then the bare JSON as the LAST stdout line for
    // parsers that json.loads the final line directly (build.sbt sets
    // showSuccess := false so no "[success]" line follows; both copies
    // fit the ~3 KB tail window at ~800 B each)
    println(s"[info] $json")
    println(json)
    // SPARK_GRAFT_BENCH_OUT=path additionally writes the FULL artifact —
    // the headline metric line plus the complete per-query map with
    // seconds and shuffle read/write bytes — used to commit the
    // steady-state artifact (BENCH_steady_rN.json, SPARK_GRAFT_REPEAT=3
    // min-of-repeats values) alongside the driver's single-run BENCH_rN.json,
    // so first-run codegen/memo tails AND byte regressions are
    // adjudicable from committed artifacts, not stderr archaeology
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      val detail = results.map { case (k, v) =>
        val (r, w) = shuffleBytes.getOrElse(k, (0L, 0L))
        val ss = hostDetail.getOrElse(k, Vector.empty)
        // full per-sample evidence: seconds, the window's sys+steal
        // fraction, and (minflt, majflt) deltas — the committed record
        // that makes slow samples mechanically adjudicable
        val samplesJ = ss.map(s => r3(s.sec)).mkString("[", ",", "]")
        val stormJ = ss.map(s => r3(s.storm)).mkString("[", ",", "]")
        val faultsJ = ss.map(s => s"[${s.minflt},${s.majflt}]").mkString("[", ",", "]")
        val cpuJ = ss.map(s => fmt("%.2f", s.cpuRatio)).mkString("[", ",", "]")
        s""""$k":{"sec":${r3(v)},"shuffle_read":$r,"shuffle_write":$w,"samples":$samplesJ,"sys_steal":$stormJ,"faults":$faultsJ,"cpu_ratio":$cpuJ}"""
      }.mkString("{", ",", "}")
      val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","errors":$errors,"retries":$retries,"protocol":"$protocol","sf":"$sfDir","queries_all":$detail}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
