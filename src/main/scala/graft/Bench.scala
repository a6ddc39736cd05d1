package graft
object Bench {

  /** The cross-artifact 2× gate's per-key predicate, load-normalized by
    * `calibration` (absolute floors keep sub-100ms noise from tripping
    * it). Factored out so the stale-declaration audit and its spec run
    * the EXACT gate the sweep runs.
    */
  private[graft] def wouldFlag(med: Double, base: Double, calibration: Double): Boolean =
    base > 0.05 && med / calibration > 2.0 * base && med / calibration - base > 0.5

  /** Redefined declarations that are no longer load-bearing: the key would
    * PASS the gate without its declaration. A stale entry in the
    * CHECKED-IN file fails the bench run (r13 VERDICT item 7 — warnings
    * let the file accumulate disarmed entries across rounds); the env-var
    * escape hatch only warns (it dies with the run anyway).
    */
  private[graft] def staleRedefined(redefined: Set[String],
      medByKey: Map[String, Double], baseline: Map[String, Double],
      calibration: Double): Set[String] =
    redefined.filter(k => medByKey.get(k).forall(m =>
      !baseline.get(k).exists(b => wouldFlag(m, b, calibration))))

  /** The ambient-calibration panel: small, code-stable, map-only/trivial
    * keys (see the calibration in `main`).
    */
  private[graft] val CalibrationPanel = Seq("q_extract_details", "q5_region_revenue",
    "q_classify", "q_token_count", "q_pii_scan", "q_eth_transfers",
    "q_text_quality", "q_lang_id", "q_chunk", "q_string_funcs",
    "q_url_domains", "q_latest_event")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // n repeated sweeps: the JSON carries the per-query MEAN (and stdev), so
    // a single noisy run (JIT, page cache, compaction) can't masquerade as a
    // plan regression — or hide one.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = LocalSession(cpus)
    // Untimed warmup: JVM/codegen/FileIndex initialization otherwise lands
    // entirely on whichever query happens to run first.
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      li.limit(10).join(li.limit(10), "l_orderkey").count()
      // noop-sink write path init too — otherwise the alphabetically-first
      // query pays it (q1 measured 2.9s cold vs 1.4s warm)
      li.limit(100).write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => () }
    // Optional comma-separated key filter for ISOLATION runs (dev +
    // adjudication: "is q_correlation slow alone, or only under the full
    // sweep's cache/GC pressure?"). Filtered runs skip the cross-artifact
    // gate's file write unless SPARK_GRAFT_BENCH_OUT is set explicitly —
    // a partial artifact must never overwrite the committed full one.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Prewarm memoized per-sfDir stores (node2vec training, IVF index,
    // sketch/view stores): a store-backed key's run 1 otherwise pays the
    // one-time build, which either skews its mean or — when a resweep
    // replaces the samples after the memo is already warm elsewhere —
    // leaks a build into the published median. Steady-state serve cost is
    // what these keys exist to measure; build cost stays on record in the
    // BENCH_NOTES.md 10x probe tables ("Round-11 10x probe rows").
    val storeBacked = SparkEntry.all.filter(_.storeBacked).map(_.name).toSet
    names.collect { case (n, fn) if storeBacked(n) =>
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () } // the timed pass will record the failure
    }
    // A query that THROWS must never publish its time-to-throw as a runtime:
    // round 5's BENCH.json carried 58 analysis-exception "timings" (~60ms
    // each) that silently corrupted the total and every round-over-round
    // comparison. Failed keys go to a separate `failed` map and are excluded
    // from `queries`/`value`.
    var failed = Map.empty[String, String]
    val samples: Seq[Map[String, Double]] = (1 to runs).map { r =>
      names.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink evaluates EVERY column — count() would let Catalyst prune
        // expensive projections and under-measure (hid a 1000s winnow once)
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            failed += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
            System.err.println(s"[bench] run$r $name FAILED: ${e.getMessage}")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) {
          System.err.println(f"[bench] run$r $name%-28s $sec%8.2fs")
          Some(name -> sec)
        } else None
      }.toMap
    }
    // MEDIAN is the headline number: with runs=3 a single JIT/GC outlier run
    // made map-only queries show as fake 3-6× "regressions" (stdev ≈ mean);
    // the median of 3 discards exactly that one outlier. Mean and stdev are
    // kept alongside so the dispersion is still visible in BENCH.json.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def stdev(xs: Seq[Double]): Double = {
      if (xs.size < 2) 0.0
      else {
        val m = xs.sum / xs.size
        math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
      }
    }
    var samplesByKey: Map[String, Seq[Double]] =
      names.collect { case (name, _) if samples.forall(_.contains(name)) =>
        name -> samples.map(_(name))
      }.toMap
    // Sanity gate (round-7 lesson: a loaded MACHINE defeats medians too —
    // the final r7 sweep published 14.7s±22.3 for a 4.7s query): any key
    // whose stdev exceeds its median is re-swept with `runs` fresh timings
    // (replacing the noisy samples) up to 2 passes before publishing; the
    // rerun counts land in the JSON so the artifact is honest about which
    // keys needed it, and anything STILL violating is listed as unstable
    // rather than published as if it were a clean measurement.
    val fnByName = names.toMap
    var reruns = Map.empty[String, Int]
    for (pass <- 1 to 2) {
      val violators = samplesByKey.collect {
        case (k, xs) if stdev(xs) > median(xs) => k
      }.toSeq.sorted
      if (violators.nonEmpty) {
        System.err.println(s"[bench] resweep pass $pass: ${violators.size} keys " +
          s"with stdev > median: ${violators.mkString(", ")}")
        violators.foreach { name =>
          val xs = (1 to runs).flatMap { _ =>
            val t0 = System.nanoTime()
            try {
              fnByName(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case _: Throwable => None }
          }
          if (xs.size == runs) {
            samplesByKey += name -> xs
            reruns += name -> (reruns.getOrElse(name, 0) + runs)
          }
        }
      }
    }
    // Cross-artifact gate (round-8 lesson: the stdev>median resweep passed
    // a 35s±23 measurement for a 5s query — a loaded MACHINE slows all
    // `runs` samples together, so dispersion alone can't catch it). Diff
    // each key's median against the LAST COMMITTED artifact (default the
    // repo's BENCH.json from the previous round): any key >2× slower (with
    // absolute floors so sub-100ms noise can't trip it) is re-swept in
    // isolation; a key STILL violating publishes under `suspect` — an
    // explicit "machine load or genuine regression, adjudicate me" flag —
    // instead of silently polluting the total as a clean measurement.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH.json")
    val (baseline: Map[String, Double], baselineCanary: Option[Double]) = try {
      import org.json4s._
      def num(v: JValue): Option[Double] = v match {
        case JDouble(x) => Some(x)
        case JInt(x) => Some(x.toDouble)
        case JDecimal(x) => Some(x.toDouble)
        case JLong(x) => Some(x.toDouble)
        case _ => None
      }
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(baselinePath))
      org.json4s.jackson.JsonMethods.parse(txt) match {
        case JObject(top) =>
          val qs = top.collectFirst { case ("queries", JObject(q)) =>
            q.flatMap { case (k, v) => num(v).map(k -> _) }.toMap
          }.getOrElse(Map.empty[String, Double])
          val canary = top.collectFirst { case ("shuffle_canary", v) => num(v) }.flatten
          (qs, canary)
        case _ => (Map.empty[String, Double], None)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] no baseline artifact at $baselinePath ($e) — cross-artifact gate skipped")
      (Map.empty[String, Double], None)
    }
    // Ambient-throughput calibration (round-9 lesson): a loaded MACHINE
    // slows every key together, and the r9 sweep published a uniform
    // ~1.43× that the dispersion and cross-artifact gates could only
    // flag key-by-key as if code had changed. Calibrate on a fixed panel
    // of small, code-stable, map-only/trivial keys: the median ratio of
    // this sweep's medians to the committed baseline's is the MACHINE
    // factor, and the 2× gate compares load-NORMALIZED ratios. The factor
    // publishes in the artifact (`calibration`) so adjudication sees
    // exactly what was normalized away — a genuine regression in one key
    // can't hide (it moves one key, not the panel median), and a
    // regression across the whole panel shows as calibration >> 1,
    // visible rather than silently absorbed. Clamped at 1.0: a FASTER
    // machine must not make unimproved keys look like regressions.
    def calibrationOf(byKey: Map[String, Seq[Double]]): Double = {
      val ratios = CalibrationPanel.flatMap { k =>
        for { b <- baseline.get(k) if b > 0.1; xs <- byKey.get(k) }
          yield median(xs) / b
      }
      if (ratios.size >= 5) math.max(1.0, median(ratios)) else 1.0
    }
    // Parallel-SHUFFLE canary (r13 VERDICT item 2): the key panel is
    // map-only/trivial, so a machine generation whose parallel-shuffle
    // throughput degraded read calibration ≈ 1.0 while every
    // exchange-bearing key drifted 1.5-2x together — the adjudication
    // cost a manual isolation resweep. This is a FIXED synthetic
    // exchange (seeded range → hash keys → 32-partition groupBy; no
    // I/O, no code-path under development), timed after an untimed
    // warmup; the ratio to the committed artifact's canary joins the
    // calibration denominator via max(), so whichever resource is
    // degraded — scan/CPU (panel) or shuffle (canary) — normalizes out
    // mechanically. One-sided like the gate: a faster machine clamps
    // to 1.0.
    def shuffleCanaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("(id * 2654435761) % 1048576 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    shuffleCanaryOnce() // untimed warmup (codegen + noop init)
    val shuffleCanary = median((1 to math.max(3, runs)).map(_ => shuffleCanaryOnce()))
    val panelFactor = calibrationOf(samplesByKey)
    val canaryFactor = baselineCanary match {
      case Some(b) if b > 0.1 => math.max(1.0, shuffleCanary / b)
      case _ =>
        System.err.println(
          "[bench] baseline artifact carries no shuffle_canary yet — " +
            "calibration uses the key panel only this sweep")
        1.0
    }
    val calibration = math.max(panelFactor, canaryFactor)
    if (calibration > 1.05) System.err.println(
      f"[bench] ambient calibration: machine factor $calibration%.2fx vs committed baseline " +
        f"(key panel $panelFactor%.2fx over ${CalibrationPanel.size} stable keys, " +
        f"shuffle canary $canaryFactor%.2fx at $shuffleCanary%.2fs) — " +
        "2x gate compares normalized medians")
    // Keys whose DEFINITION changed since the committed baseline (e.g. an
    // oracle upgrade swapping a key onto the exact cross-engine edition):
    // their baseline medians price a different computation, so the 2x gate
    // would re-flag them every sweep. The declaration lives IN THE REPO
    // (BENCH_REDEFINED.txt, one key per line, '#' comments) so ANY sweep —
    // the driver's, the judge's, a dev's — reproduces the same adjudication
    // (r11 verdict: the env-only declaration silently vanished from the
    // driver's own sweep); the env var remains as a per-run ADDITIVE escape
    // hatch. PUBLISHED in the artifact (`redefined`) — auditable, not a
    // silent exclusion; the keys still bench and count in the total.
    val redefinedFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_REDEFINED_FILE",
      "BENCH_REDEFINED.txt")
    val fromFile: Set[String] = try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(redefinedFile))
        .toArray(Array.empty[String])
        .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSet
    } catch { case _: Throwable => Set.empty }
    val declared: Set[String] = fromFile ++ sys.env.get("SPARK_GRAFT_BENCH_REDEFINED")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // Validate the declaration (ADVICE r11: an unvalidated escape hatch
    // lets a stale/typo'd key silently disarm the gate): a declared key
    // must exist in BOTH the baseline artifact and this sweep — anything
    // else is dropped LOUDLY, never published as an adjudication.
    val redefined: Set[String] = declared.filter { k =>
      val inBase = baseline.isEmpty || baseline.contains(k)
      val inSweep = samplesByKey.contains(k)
      if (!inBase || !inSweep) System.err.println(
        s"[bench] redefined key '$k' DROPPED from the declaration — not in " +
          s"${if (!inBase) "the baseline artifact" else "this sweep"} (typo or stale?)")
      inBase && inSweep
    }
    if (redefined.nonEmpty) System.err.println(
      s"[bench] redefined keys excluded from the cross-artifact gate " +
        s"(definition changed since the baseline artifact): ${redefined.toSeq.sorted.mkString(", ")}")
    def slowVsBaseline(k: String, xs: Seq[Double]): Boolean =
      !redefined.contains(k) && baseline.get(k).exists(b =>
        wouldFlag(median(xs), b, calibration))
    var suspect = Seq.empty[String]
    if (baseline.nonEmpty) {
      val slow = samplesByKey.collect {
        case (k, xs) if slowVsBaseline(k, xs) => k
      }.toSeq.sorted
      if (slow.nonEmpty) {
        System.err.println(s"[bench] cross-artifact gate: ${slow.size} keys >2x " +
          s"their committed-baseline median, resweeping in isolation: ${slow.mkString(", ")}")
        slow.foreach { name =>
          val xs = (1 to runs).flatMap { _ =>
            val t0 = System.nanoTime()
            try {
              fnByName(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case _: Throwable => None }
          }
          if (xs.size == runs) {
            samplesByKey += name -> xs
            reruns += name -> (reruns.getOrElse(name, 0) + runs)
          }
        }
      }
      suspect = samplesByKey.collect {
        case (k, xs) if slowVsBaseline(k, xs) => k
      }.toSeq.sorted
      if (suspect.nonEmpty) System.err.println(
        s"[bench] SUSPECT (still >2x committed baseline after isolated resweep " +
          s"— machine load or a genuine regression): ${suspect.mkString(", ")}")
    }
    // Stale-declaration audit (ADVICE r11; hardened r14 — VERDICT item 7):
    // a redefined key that would have PASSED the gate anyway no longer
    // needs its declaration. A stale entry in the CHECKED-IN file FAILS
    // the run (exit 2, after the artifact is written) — loudly pruneable,
    // so the file cannot accumulate disarmed entries across rounds; a
    // stale env-var entry only warns (it dies with the run).
    val staleFromFile: Set[String] =
      if (baseline.isEmpty) Set.empty
      else {
        val medByKey = samplesByKey.map { case (k, xs) => k -> median(xs) }
        val stale = staleRedefined(redefined, medByKey, baseline, calibration)
        if (stale.nonEmpty) System.err.println(
          s"[bench] redefined declaration STALE (key would pass the 2x gate " +
            s"without it): ${stale.toSeq.sorted.mkString(", ")}")
        stale.intersect(fromFile)
      }
    // computed AFTER both gates so resweep-replaced samples are judged,
    // not the noisy originals they replaced
    val unstable = samplesByKey.collect {
      case (k, xs) if stdev(xs) > median(xs) => k
    }.toSeq.sorted
    if (unstable.nonEmpty) System.err.println(
      s"[bench] UNSTABLE after resweeps (stdev > median): ${unstable.mkString(", ")}")
    val stats = names.collect { case (name, _) if samplesByKey.contains(name) =>
      val xs = samplesByKey(name)
      System.err.println(
        f"[bench] med  $name%-28s ${median(xs)}%8.2fs (mean ${xs.sum / xs.size}%.2f ±${stdev(xs)}%.2f)")
      (name, median(xs), stdev(xs), xs.sum / xs.size)
    }
    def obj(f: ((String, Double, Double, Double)) => Double) =
      stats.map(t => s"\"" + t._1 + "\":" + f(t)).mkString("{", ",", "}")
    def r3(x: Double) = math.round(x * 1000.0) / 1000.0
    val total = stats.map(_._2).sum
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    val failedObj = failed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val rerunsObj = reruns.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val unstableArr = unstable.map(jstr).mkString("[", ",", "]")
    val suspectArr = suspect.map(jstr).mkString("[", ",", "]")
    val redefinedArr = redefined.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(_._2)},"stdev":${obj(_._3)},"mean":${obj(_._4)},"stat":"median","failed":$failedObj,"reruns":$rerunsObj,"unstable":$unstableArr,"suspect":$suspectArr,"redefined":$redefinedArr,"calibration":${r3(calibration)},"shuffle_canary":${r3(shuffleCanary)},"runs":$runs,"sf":"$sfDir"}"""
    // stdout gets the COMPACT line (total + 3-decimal means, no stdevs):
    // the driver captures only the stdout tail and rounds 3-4's full
    // mean+stdev line overflowed it ("parsed": null). Full precision +
    // stdevs live in BENCH.json below.
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(t => r3(t._2))},"failed_count":${failed.size},"suspect":$suspectArr,"calibration":${r3(calibration)},"shuffle_canary":${r3(shuffleCanary)},"runs":$runs,"sf":"$sfDir"}"""
    println(compact)
    // also write the JSON to a file: the driver captures only the TAIL of
    // stdout, and round 3's mean block was lost to that truncation — the
    // per-round artifact must be reconstructible without the console
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH.json") else None)
    out.foreach { o =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(o), json + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write $o failed: $e") }
    }
    // r15 (r14 VERDICT item 2): with 261 keys the compact line above is
    // ~15 KB, so a consumer that captures only a bounded stdout TAIL
    // starts mid-line and parses nothing (PERF_r12..r14 all arrived with
    // per_query: {}). This FINAL summary line — total + health fields,
    // no per-key map — fits any tail; the full per-key line above and
    // the committed artifact are unchanged, so nothing is lost.
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${stats.size},"failed_count":${failed.size},"suspect_count":${suspect.size},"calibration":${r3(calibration)},"shuffle_canary":${r3(shuffleCanary)},"runs":$runs,"sf":"$sfDir","artifact":${jstr(out.getOrElse(""))}}"""
    println(summary)
    spark.stop()
    // Only fail on a CLEAN machine: under heavy ambient load the
    // normalized gate is lenient for every key, which makes load-bearing
    // declarations read stale for that sweep only — a spurious failure
    // (BenchGateSpec pins the case). calibration ≤ 1.2 is the trustworthy
    // band; loaded sweeps still print the stale warning above.
    if (staleFromFile.nonEmpty && calibration <= 1.2) {
      System.err.println(
        s"[bench] FATAL: stale entries in $redefinedFile — the keys pass the " +
          s"2x gate without their declaration; PRUNE them and re-run: " +
          staleFromFile.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
  }
}
