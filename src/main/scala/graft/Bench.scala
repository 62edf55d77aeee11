package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query, median of N=3 runs each
  * (VERDICT r1 item 10: single-shot sf0.1 timings are overhead-
  * dominated and too noisy to catch plan regressions; medians make the
  * 2×-of-baseline gate meaningful). Prints ONE JSON line; `value` is
  * the sum of per-query medians.
  */
object Bench {
  /** The benchmark's pinned driver heap. BENCH_r10 silently ran at
    * heap_gb 89 while every prior artifact ran at 24, making its
    * per-query movers formally unadjudicable under BENCH_NOTES'
    * same-config protocol (VERDICT r10 item 1/3). The heap must be
    * a property of the BENCH, not of whoever launches it.
    */
  val PinnedHeapGb = 24L

  /** Reference calibration for the normalized column (r18 VERDICT task
    * 3): the probe-introduction cluster median — r14–r16 clean quiet-
    * machine runs measured 0.41–0.45 s on the fixed 20M-row probe.
    * Arbitrary-but-fixed by design; documented in BASELINE.md
    * §"Calibration reference". Change it and every historical
    * `sec_norm` reading shifts — don't. */
  val CalibRef = 0.44

  /** If the launching JVM's heap differs from the pin, re-exec this
    * main in a child JVM at exactly -Xmx{pin}g (same classpath, same
    * env, stdout inherited so the driver's one-line-JSON parse still
    * works). This forces the heap from INSIDE the bench path — no
    * launcher configuration can silently move the goalposts again.
    * Escape hatches: SPARK_GRAFT_BENCH_HEAP_GB overrides the pin for
    * deliberate experiments (the artifact records whatever ran);
    * the recursion guard stops a child that still mismatches (e.g.
    * ulimit clamps) from forking forever — it then runs as-is and the
    * artifact's comparable_to field says so.
    */
  private def reexecAtPinnedHeap(pin: Long, heapGb: Long): Unit = {
    if (math.abs(heapGb - pin) <= 1) return
    if (sys.env.contains("SPARK_GRAFT_BENCH_NO_REEXEC")) {
      System.err.println(s"[bench] WARNING: heap ${heapGb}g != pinned ${pin}g " +
        "after re-exec; running anyway — artifact will be marked incomparable")
      return
    }
    val javaBin = sys.props("java.home") + "/bin/java"
    // same JDK17 add-opens Spark needs outside spark-submit (build.sbt)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin, s"-Xmx${pin}g") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), "graft.Bench")
    System.err.println(s"[bench] heap ${heapGb}g != pinned ${pin}g — " +
      s"re-executing at -Xmx${pin}g")
    val pb = new ProcessBuilder(cmd: _*).inheritIO()
    pb.environment().put("SPARK_GRAFT_BENCH_NO_REEXEC", "1")
    sys.exit(pb.start().waitFor())
  }

  def main(args: Array[String]): Unit = {
    val pin = sys.env.get("SPARK_GRAFT_BENCH_HEAP_GB").map(_.toLong)
      .getOrElse(PinnedHeapGb)
    reexecAtPinnedHeap(pin, Runtime.getRuntime.maxMemory / (1 << 30))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 5 iterations: sub-second queries swing ±2-3× under JIT/GC noise at
    // local[32]; median-of-5 with the per-iteration array printed makes
    // a >20% regression claim checkable from one artifact (VERDICT r6 #3)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    // ONE session recipe for every entry point (r17 review: Bench,
    // Verify, and tools each hand-assembled the same builder — config
    // drift across copies is how nanosAsLong once diverged)
    val spark = Graft.localSession(cpus.toInt, "graft-bench")
    // warmup: JIT/codegen/shuffle machinery, so the first timed query
    // isn't charged for JVM startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "lineitem").groupBy("l_returnflag").count().collect()
    // machine-speed calibration probe (VERDICT r13 task 1): a FIXED,
    // sf-independent workload — 20M-row codegen'd arithmetic scan into
    // an 8191-key hash aggregation (one shuffle) — timed as median of
    // 5 after its own warm pass. Two same-config artifacts that differ
    // by ambient machine load (r13: builder 46.0 s vs driver 60.6 s,
    // a ~1.3× near-uniform factor) can be normalized by the ratio of
    // their calibration medians; BENCH_NOTES' protocol states headline
    // ratios from the driver artifact, probe-normalized.
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, cpus.toInt)
        .selectExpr("id % 8191 AS k", "(id * 2654435761) % 1000003 AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("s"),
          org.apache.spark.sql.functions.max("v").as("m"))
        .selectExpr("sum(s + m)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    probeOnce() // probe's own warm pass (codegen compile)
    val calib = (1 to 5).map(_ => probeOnce()).toVector
    // optional subset filter for local iteration: comma-separated prefixes
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // one untimed warm iteration per query before the timed ones: the
    // heavy dedup queries were burning up to 3 TIMED iterations on
    // query-specific JIT + codegen compilation (q31's r9 arrays:
    // [5.18, 6.28, 4.69, 1.10, 1.01] — median 4.69 while steady state
    // is ~1.0), so the reported median absorbed ~5 s of warm-up noise
    // per round (VERDICT r9 item 3). Disable with
    // SPARK_GRAFT_BENCH_WARM=0 to reproduce the old cold-start shape.
    val warm = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    def medianOf(ts: Vector[Double]): Double = ts.sorted.apply(ts.size / 2)
    // a query whose min iteration is far below its median, or whose
    // median is far above its last-3 median, did NOT measure a converged
    // state — the warm-up stalled on a pre-JIT plateau (two warm passes
    // can agree at 4 s while the compiled steady state is 0.4 s: r11
    // run1's q53 timed [3.53, 4.01, 1.74, 0.44, 0.42])
    // the TWO adjudication detectors, defined once and shared by the
    // retry trigger AND the artifact's inflated/warmupSuspect flags —
    // two literal copies could silently desynchronize what gets
    // retried from what gets reported (r17 review)
    def inflatedP(median: Double, steady: Double): Boolean =
      steady > 0 && median > 1.5 * steady
    def warmupP(ts: Vector[Double]): Boolean =
      ts.min > 0 && ts.min < 0.67 * medianOf(ts)
    def unconverged(ts: Vector[Double]): Boolean =
      warmupP(ts) ||
        inflatedP(medianOf(ts), medianOf(ts.takeRight(math.min(3, ts.size))))
    // queries that threw during ANY iteration: their times are
    // until-throw durations, not measurements — the artifact must say
    // so (pre-r17 the catch silently recorded a broken query as a
    // ~0.02 s "speedup"; r17 review)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // each query's row count, as its timed count() returns it (the last
    // successful iteration's): a scale curve reads "output grows exactly
    // m×" from the full artifact without a second run
    val rows = scala.collection.mutable.Map[String, Long]()
    // Janino compiles (codegen cache misses) across a query's reported
    // timed iterations; the counter is read between iterations, outside
    // each timed count()
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val codegen = scala.collection.mutable.Map[String, Long]()
    val measured = selected.map { case (name, fn) =>
      // timed action is count(): a KNOWN, documented trade — Catalyst
      // prunes columns the count doesn't need, so work living ONLY in
      // a final projection is under-measured (most queries' cost is in
      // aggregations/joins/sorts that count() does execute, and
      // Verify/check_oracle execute + correctness-gate the full rows).
      // Changing the action (e.g. to a noop writer) would re-baseline
      // every cross-round comparison, so it stays count() under the
      // comparable_to contract (r17 review).
      def once(): Double = {
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch {
          case t: Throwable =>
            failed += name
            System.err.println(s"[bench] QUERY FAILED $name: " +
              s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
            -1L
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (n >= 0) rows(name) = n
        // queries are independent: drop their persisted intermediates so
        // cache pressure doesn't pollute the next measurement.
        // clearCache() clears the SQL cache ONLY — localCheckpoint
        // blocks (q128's per-append lineage cuts) are raw RDD persists
        // invisible to it, and in bench_r18_run1 they lingered for the
        // rest of the suite: every memory-hungry query sorting after
        // q128 inflated steadily (q57 0.19 s → 3.3 s, q99 1.0 → 3.0)
        // while queries before it stayed flat. After clearCache the
        // remaining persistent RDDs are exactly those orphans — drop
        // them too.
        spark.catalog.clearCache()
        graft.dsl.Rel.releaseTracked()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        dt
      }
      // warm until CONVERGENCE, not a fixed count: one untimed pass was
      // not enough for the heavy codegen queries — r10's q31 arrays
      // ([7.95, 3.95, 5.12, 4.38, 1.14]) put 4 of 5 TIMED iterations at
      // 3.5-7x the converged 1.14 s, defeating both the median and the
      // median-of-last-3 "steady" statistic (VERDICT r10 item 2). Keep
      // warming while the time is still falling fast (prev > 1.3x cur),
      // bounded at 6 extra passes so a genuinely noisy query can't spin.
      if (warm) {
        var prev = once()
        var cur = once()
        var extra = 0
        while (prev > 1.3 * cur && extra < 6) { prev = cur; cur = once(); extra += 1 }
      }
      def timedSet(): Vector[Double] = {
        val c0 = compiles()
        val ts = (1 to iters).map(_ => once()).toVector
        codegen(name) = compiles() - c0
        ts
      }
      val first = timedSet()
      // bounded post-hoc retry: convergence-checked warm-up still stalls
      // when a query has TWO plateaus (interpreted vs JIT-compiled) and
      // both warm passes land on the slow one. By the time the first
      // timed set finishes the query has run 7+ times, so one fresh set
      // of timed iterations measures the genuinely warm state. The
      // original array is preserved in the artifact's `retried` field —
      // the retry replaces the estimate, never hides the evidence. A
      // query still unconverged after its retry stays flagged.
      val retry = if (warm && unconverged(first)) Some(timedSet())
                  else None
      (name, retry.getOrElse(first), retry.map(_ => first))
    }
    val results = measured.map { case (name, ts, _) => name -> ts }
    val retriedOrig = measured.collect { case (name, _, Some(orig)) => name -> orig }
    def f(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val medians = results.map { case (k, ts) => k -> medianOf(ts) }
    // steady state = median of the LAST 3 iterations — the adjudication
    // statistic BENCH_NOTES' protocol reads by hand (a real regression
    // shows in the last iterations, not in one cold-inflated median);
    // emitting it makes each artifact self-adjudicating (VERDICT r9
    // item 8)
    val steadies = results.map { case (k, ts) =>
      k -> medianOf(ts.takeRight(math.min(3, ts.size))) }
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // per-iteration evidence (VERDICT r6 item 3: identical code swung 8×
    // across rounds and the median alone couldn't show whether the
    // environment or the plan moved) — raw times plus max/min spread per
    // query, so a regression claim needs agreeing iterations, not one
    // noisy median
    val itersJson = results.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val spread = results.map { case (k, ts) =>
      val mn = ts.min
      s"\"" + k + "\":" + f(if (mn > 0) ts.max / mn else -1.0)
    }.mkString("{", ",", "}")
    val steadyJson = steadies.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // self-adjudication, two independent detectors (VERDICT r10 item 2:
    // a 4-iteration warm-up defeats median-of-last-3, so the steady
    // comparison alone issued a false all-clear on q31):
    //  (a) median >1.5× steady — cold iterations inflated the median;
    //  (b) min <0.67× median — SOME iteration ran much faster than the
    //      median, so the median itself is not the converged state,
    //      even when the last-3 median agrees with it.
    val inflated = medians.zip(steadies).collect {
      case ((k, m), (_, s)) if inflatedP(m, s) => k
    }
    val warmupSuspect = results.collect {
      case (k, ts) if warmupP(ts) => k
    }
    val adjudication = (inflated, warmupSuspect) match {
      case (Nil, Nil) =>
        "all medians within 1.5x of steady state and within 1.5x of their min iteration"
      case _ =>
        (if (inflated.nonEmpty)
          s"medians inflated >1.5x over steady state (read steady instead): ${inflated.mkString(",")}; "
        else "") +
        (if (warmupSuspect.nonEmpty)
          s"min iteration <0.67x median — median is NOT converged, read the min/last iterations: ${warmupSuspect.mkString(",")}"
        else "")
    }
    val total = if (medians.nonEmpty) medians.map(_._2).sum else 0.0
    val steadyTotal = if (steadies.nonEmpty) steadies.map(_._2).sum else 0.0
    // mark subset runs so a partial sum can never pass for the full-suite
    // metric (ADVICE r3), and record the real heap so "ran with a small
    // JVM" is visible in the artifact rather than guessed from logs
    val onlyMark = only.map(o => s""","only":"${o.mkString(",")}"""").getOrElse("")
    // failed queries (r17 review): recorded in BOTH artifacts so a
    // throwing query can never read as a speedup; total stays the sum
    // (the failed list marks which addends are until-throw durations)
    val failedMark =
      if (failed.isEmpty) ""
      else failed.map(k => s"\"" + k + "\"").mkString(""","failed":[""", ",", "]")
    // original (pre-retry) iteration arrays for any query that was
    // re-measured — the evidence trail for the retry policy above
    val retriedMark =
      if (retriedOrig.isEmpty) ""
      else retriedOrig.map { case (k, ts) =>
        s"\"" + k + "\":" + ts.map(f).mkString("[", ",", "]")
      }.mkString(""","retried":{""", ",", "}")
    val heapGb = Runtime.getRuntime.maxMemory / (1 << 30)
    // the artifact names the config family it may be compared against
    // (BENCH_NOTES protocol: same heap, same cores, same sf) — a
    // cross-config diff is flagged as unadjudicable right in the file
    val comparableTo =
      if (math.abs(heapGb - pin) <= 1) s"heap${pin}g,local[$cpus],$sfDir"
      else s"NONE (heap ${heapGb}g != pinned ${pin}g - per-query deltas vs pinned-config artifacts are unadjudicable)"
    // host RAM next to the pin (full artifact only): a pin above physical
    // memory runs only while the heap never grows past RAM, so the
    // artifact says when that is the case; the pin itself does not move.
    // null where /proc/meminfo is unreadable (non-Linux hosts)
    val hostMemGb: Option[Double] = scala.util.Try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/meminfo")).asScala
        .collectFirst { case l if l.startsWith("MemTotal:") =>
          l.split("\\s+")(1).toDouble / (1 << 20) }
    }.toOption.flatten
    val hostMemJson = hostMemGb.map(g => f(g).toString).getOrElse("null")
    val pinExceedsRam = hostMemGb.map(g => (pin > g).toString).getOrElse("null")
    val metric = if (only.isDefined) "subset_total" else "total"
    val calibMed = medianOf(calib)
    val calibJson = calib.map(f).mkString("[", ",", "]")
    // END-of-run probe (r19): two r19 runs 30 min apart read start
    // probes 0.64 vs 0.48 while their raw query totals agreed within
    // 9% — a single start-of-run probe can be the noisiest instrument
    // in the artifact. Recording the probe AGAIN after the last query
    // makes within-run ambient drift visible right in the file; the
    // normalization column stays pinned to the START median (stable
    // definition beats a post-hoc blend).
    val calibEnd = medianOf((1 to 5).map(_ => probeOnce()).toVector)
    // calibration-normalized column (r18 VERDICT task 3): cross-round
    // per-query reads were hand-scaled by the probe ratio every round —
    // make it mechanical. CalibRef = 0.44 s, the probe-introduction
    // cluster median (r14–r16 clean runs measured 0.41–0.45 on a quiet
    // machine; documented in BASELINE.md §"Calibration reference").
    // sec_norm = sec × (CalibRef / calibration_sec) — a run on a 1.5×-
    // loaded machine reads 1.5× hot and normalizes back down. The
    // probe measures ambient CPU speed ONLY: block-manager pressure,
    // spill, and GC pathologies do NOT scale with it (the r18 q57
    // lesson), so sec_norm makes ratios comparable, not identical.
    val normFactor = if (calibMed > 0) CalibRef / calibMed else 1.0
    val normTotal = total * normFactor
    val normJson = medians.map { case (k, v) => s"\"" + k + "\":" + f(v * normFactor) }
      .mkString("""{""", ",", "}")
    // null for a query that threw in any iteration (its count is not
    // a result)
    val rowsJson = medians.map { case (k, _) =>
      val n = if (failed(k)) None else rows.get(k)
      s"\"" + k + "\":" + n.fold("null")(_.toString)
    }.mkString("{", ",", "}")
    val codegenJson = medians.map { case (k, _) => s"\"" + k + "\":" + codegen(k) }
      .mkString("{", ",", "}")
    // env-derived strings ride raw into the JSON: escape them (the
    // Verify escaper's rule — an sfDir with a quote or backslash would
    // otherwise corrupt both artifacts; r17 review)
    def jq(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    val json =
      s"""{"metric":"$metric","value":${f(total)},"unit":"sec","queries":$qs,"queries_steady":$steadyJson,"steady_total":${f(steadyTotal)},"warmed":$warm,"adjudication":"${jq(adjudication)}","iterations":$itersJson,"spread_max_over_min":$spread,"calibration_sec":${f(calibMed)},"calibration_iters":$calibJson,"calibration_end_sec":${f(calibEnd)},"calibration_ref":$CalibRef,"norm_factor":${f(normFactor)},"norm_total":${f(normTotal)},"queries_norm":$normJson,"rows":$rowsJson,"codegen_compiles":$codegenJson,"sf":"${jq(sfDir)}","heap_gb":$heapGb,"host_mem_gb":$hostMemJson,"pin_exceeds_ram":$pinExceedsRam,"comparable_to":"${jq(comparableTo)}"$onlyMark$failedMark$retriedMark}"""
    // The launcher that captures this main's stdout keeps only the LAST
    // ~2000 characters; BENCH_r10/r11 show the full line (per-query
    // iteration arrays push it past 10 KB) arriving head-truncated and
    // therefore unparseable ("parsed": null). So stdout gets a COMPACT
    // line guaranteed to fit that window — qNN-prefixed keys, 2-decimal
    // values, a boolean-style adjudication — while the full-evidence
    // JSON (full names, medians+steady+iterations+spread+retried) goes
    // to bench_out.json, which BENCH_NOTES' protocol reads anyway.
    // qNN prefixes must stay unique keys in the compact JSON: on a
    // collision (two queries sharing a prefix) fall back to full names
    // for the colliding entries rather than silently emitting duplicate
    // keys (ADVICE r12)
    val prefixCount = medians.groupBy { case (k, _) => k.takeWhile(_ != '_') }
      .map { case (p, g) => p -> g.size }
    def short(k: String) = {
      val p = k.takeWhile(_ != '_')
      if (prefixCount.getOrElse(p, 1) > 1) k else p
    }
    def f2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val qsShort = medians.map { case (k, v) => s"\"${short(k)}\":${f2(v)}" }
      .mkString("{", ",", "}")
    // cap the flagged list so a pathological all-flagged run can't push
    // the compact line past the launcher's ~2000-char stdout window
    // cap at 8, not 20: the 127-entry queries map already puts the
    // base line near ~1750 chars, and 20 flagged names plus two-digit
    // values could push past the launcher's ~2000-char tail window —
    // the exact head-truncation this line exists to prevent (r17
    // review)
    val flaggedAll = (inflated ++ warmupSuspect).distinct.map(short)
    val adjShort =
      if (flaggedAll.isEmpty) "converged"
      else if (flaggedAll.size > 8) s"flagged:${flaggedAll.size} queries (see bench_out.json)"
      else "flagged:" + flaggedAll.mkString(",")
    val failedShort =
      if (failed.isEmpty) "" else s""","failed":${failed.size}"""
    // compact line carries the normalization SCALARS only (the full
    // queries_norm map lives in bench_out.json — the ~2000-char stdout
    // window can't fit a second per-query map): per-query sec_norm =
    // sec × norm_factor, one multiplication for any reader.
    // calibration_ref itself is omitted here (it is the FIXED 0.44
    // documented in BASELINE.md and carried by the full artifact).
    // r20 trim: steady_total / calibration_end_sec / norm_total moved
    // to the full artifact ONLY — the r19 compact line measured 1976 of
    // the ~2000-char window, so q131's two new map entries would have
    // head-truncated the driver artifact (the exact failure this line
    // exists to prevent); those three scalars are derivable (norm_total
    // = value × norm_factor) or adjudication-covered (steady).
    def mkCompact(norm: String) =
      s"""{"metric":"$metric","value":${f(total)},"unit":"sec","queries":$qsShort,"adjudication":"$adjShort"$failedShort,"calibration_sec":${f2(calibMed)},"norm_factor":${f2(normFactor)}$norm,"sf":"${jq(sfDir)}","heap_gb":$heapGb,"comparable_to":"${jq(comparableTo)}","detail":"bench_out.json"$onlyMark}"""
    // calibration-normalized per-query map in the compact line too
    // (r21 VERDICT task 7: the round-over-round comparison reads the
    // stdout artifact, and r21's 94 phantom "regressions" were pure
    // ambient that queries_norm would have shown through) — but ONLY
    // when it fits: the launcher keeps the LAST ~2000 stdout chars, and
    // a full-suite line cannot carry two 132-entry maps. Subset runs
    // (the A/B workflow) get the map inline; full runs drop it — the
    // full map always lives in bench_out.json, and per-query
    // sec_norm = sec × norm_factor is one multiplication either way.
    val qsNormShort = medians.map { case (k, v) =>
      s"\"${short(k)}\":${f2(v * normFactor)}" }
      .mkString(""","queries_norm":{""", ",", "}")
    // a line past the window drops the queries_norm map (it lives in
    // full in bench_out.json) rather than arriving truncated — an
    // unparseable artifact zeroes the round's perf signal
    val compact = {
      val withNorm = mkCompact(qsNormShort)
      if (withNorm.length <= 1950) withNorm else mkCompact("")
    }
    if (compact.length > 1950)
      System.err.println(s"[bench] WARNING: compact line ${compact.length} chars — near the launcher's ~2000-char tail window")
    println(compact)
    // the full-evidence artifact, immune to any log-prefix wrapping or
    // tail truncation
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    spark.stop()
  }
}
