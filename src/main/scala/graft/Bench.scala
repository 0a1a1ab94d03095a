package graft
import org.apache.spark.sql.SparkSession

/** Driver bench: times every SparkEntry query at the given SF, prints one
  * JSON line. A short warmup (scan + aggregate) runs first so the first
  * timed query doesn't absorb JVM/codegen/session initialization.
  *
  * Each query runs [[Runs]] times under the noop action (and
  * [[CountRuns]] times under count — see TIMED ACTIONS). The FINAL
  * stdout line is a minimal JSON object whose `queries` map carries the
  * MEDIAN (p50) per-query seconds — the round-comparable statistic —
  * kept small enough to fit whole inside the driver's fixed-size tail
  * capture; the FULL cold/p50/max/count maps are written to
  * `BENCH_DETAIL_r{N}.json` in the working directory (round inferred
  * from the BENCH_r*.json artifacts already present), so per-query
  * history survives the tail truncation that cost round 5 its
  * per-query comparison. A crashing query is NOT silently folded into
  * a timing: it lands in `errors` (name + exception) and is excluded
  * from every total.
  *
  * SELF-ATTRIBUTION (the round-5 AND round-6 lesson: artifacts
  * recorded under machine load — 57.3 s r5, 71.6 s r6 vs 48.3 s
  * committed — were indistinguishable from code regressions until a
  * judge re-ran the suite by hand): a fixed CALIBRATION query — the
  * warmup scan-aggregate, whose cost no operator change can move — is
  * timed not just at the endpoints but INTERLEAVED every
  * [[CalibEvery]] queries, with /proc/loadavg sampled at each
  * checkpoint and before every query. Each query's timing therefore
  * sits between two calibration readings: if either bounding reading
  * exceeds the idle envelope, the query's median was recorded under
  * external load and its name lands in the artifact's `suspect` list
  * (count on the final line, names + the full calibration series in
  * the detail file). Endpoint-only calibration could not see
  * mid-sweep interference — both prior artifacts passed it while
  * individual queries recorded 3–6× their idle cost.
  *
  * TIMED ACTIONS: the headline times each query to a `noop`-format
  * write, not a bare count() — count() lets column pruning drop
  * expensive output-only subtrees (tx16's collect_list reassembly,
  * j1's compiled region scalar) and EliminateSorts drops final ORDER
  * BYs, so a count-timed plan is not the plan a consumer pays for.
  * The noop sink forces every output column and the full sort, with
  * zero sink cost. The count action is ALSO timed (fewer runs, after
  * the noop sweep so queries_cold keeps its first-ever-run meaning)
  * in the same invocation so one artifact carries both:
  * `value`/`queries` = noop (headline, comparable to r6),
  * `count_total`/detail `queries_count_p50` = count (trend,
  * comparable to r1–r5; warm-dominated medians, as before). A query
  * that fails under EITHER action is excluded from BOTH actions'
  * totals (and named in `errors`, rc=1): totals always cover the
  * same query set under both actions, so a cross-action comparison
  * never mixes query sets.
  *
  * Isolation: every cached/checkpointed block is released between runs
  * ([[graft.ops.Materialize.releaseAll]]) — the LSH-family queries
  * materialize shingle/band tables that would otherwise accumulate
  * across 98 queries × [[Runs]] runs until storage eviction + GC churn
  * pollute *neighboring* queries' timings (the round-2 dd2 23.5 s /
  * tx4 7 s outliers).
  *
  * Positional arguments name the queries to sweep (default: all) —
  * the focused re-measurement of a few queries, e.g. an n=8 noop run:
  *   SPARK_GRAFT_RUNS=8 SPARK_GRAFT_BENCH_ACTION=noop \
  *     SPARK_GRAFT_DETAIL_OUT=focus.json sbt 'runMain graft.Bench j1_spatial_join' */
object Bench {
  /** 5, not 3: a 3-run median is one slow run away from being dragged
    * to the middle value under machine load — the round-4 j1/a10
    * false-regression mechanism (adjudicated with a focused n=8 run).
    * A 5-run median tolerates two outliers per query. Env-overridable
    * (SPARK_GRAFT_RUNS) for the sf1 throughput tier, where a 5-run
    * sweep over 10× data would run for hours — the sf1 artifact trades
    * median robustness for feasibility and says so in its run count. */
  val Runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(5)

  /** The count action is the round-trend statistic, not the headline;
    * 3 runs (one-outlier tolerance) keeps the dual-action sweep's wall
    * time inside the driver's budget. Env-overridable
    * (SPARK_GRAFT_COUNT_RUNS), same rationale as [[Runs]]. */
  val CountRuns = sys.env.get("SPARK_GRAFT_COUNT_RUNS").map(_.toInt).getOrElse(3)

  /** Calibration checkpoint cadence, in queries. 10 bounds the blind
    * window to ~10 query medians: interference shorter than a segment
    * can still hide between checkpoints, but both observed episodes
    * (r5, r6) spanned many minutes — whole segments — and the
    * per-query loadavg sample narrows attribution further. */
  val CalibEvery = 10

  /** Calibration envelope at 32 threads: the warmup scan-aggregate's
    * warm median on an idle 32-thread container is ~0.15 s (measured
    * r6); 2× headroom so ordinary scheduling jitter never cries wolf.
    * The query's parallelism scales with cores, so the effective
    * envelope scales by 32/cpus when the session is configured
    * smaller ([[envelopeFor]]) — without that, a default-4-CPU run
    * would spuriously flag an idle machine. The scaling is the
    * first-order core-count model only; the artifact records the
    * envelope it actually used.
    *
    * The constant is an sf0.1-tier floor model; at bigger tiers the
    * calib query's own warm floor rises (sf1: ~0.20 s for the 6M-row
    * scan-agg) and an absolute 0.30 leaves so little headroom that the
    * bench's own GC flaps a checkpoint over it (measured: one 0.303 s
    * reading flagged 20 queries on an idle machine). The effective
    * envelope is therefore ALSO floored at 2× the measured warm floor
    * of this run's warmup samples — the design intent ("sustained
    * external load inflates the floor itself") made relative to the
    * tier instead of absolute. At sf0.1 (floor ≈ 0.12) the static
    * 0.30 still dominates, preserving cross-round continuity. */
  val CalibEnvelopeSec = 0.30

  def envelopeFor(cpus: Int): Double =
    CalibEnvelopeSec * math.max(1.0, 32.0 / math.max(1, cpus))

  /** Effective envelope for a run whose measured warm calibration
    * floor is `warmFloorSec` (min of the untimed warmup samples).
    * Callers must gate this on an IDLE start (pre-warmup loadavg < 1;
    * a post-warmup re-sample is useless — it reads the bench's OWN
    * warmup burst): a loaded warmup inflates the floor and would
    * otherwise self-mask exactly the sustained-load case the suspect
    * gate exists to catch. Because the 1-minute average lags a load
    * that starts seconds before the bench, the relative floor is ALSO
    * CAPPED at 4× the static envelope — a floor measured under
    * undetected load can never widen the envelope past a bound that
    * still catches the 3–6× inflation of the observed interference
    * episodes. Tier bound: the cap assumes the tier's genuine idle
    * floor is under ~2× static (true at sf0.1/sf1, the full-Bench
    * tiers); a tier whose idle floor exceeds the cap (sf10-class)
    * would mass-flag — that tier is measured by focused runs whose
    * medians are read against queries_min, not the suspect list. */
  def envelopeFor(cpus: Int, warmFloorSec: Double): Double =
    math.min(math.max(envelopeFor(cpus), 2.0 * warmFloorSec),
      4.0 * envelopeFor(cpus))

  /** Pure suspect attribution (spec-tested): query qi sits between the
    * last checkpoint at index <= qi and the first at index > qi; its
    * median is suspect when EITHER bounding calibration reading
    * exceeds the envelope — external load near the window means the
    * reading is not idle. Missing bounds (no checkpoint on a side)
    * simply don't vote. */
  def suspectNames(names: Seq[String],
      series: Seq[(Int, Double)], envelope: Double): Seq[String] =
    names.zipWithIndex.collect { case (name, qi)
        if series.filter(_._1 <= qi).lastOption.exists(_._2 > envelope) ||
          series.find(_._1 > qi).exists(_._2 > envelope) =>
      name
    }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** LOAD-FLAG attribution for moderate co-tenancy (the r12 lesson:
    * the calibration suspect gate catches 3–6× sustained episodes but
    * a sweep STARTED on a loaded box recorded 5× per-query outliers —
    * g3 5.01 s vs 0.61 solo — with every checkpoint under the
    * envelope). Per-query loadavg cannot gate anything (the bench's
    * own 32-thread bursts push the 1-minute average to 3–12 on an
    * IDLE box — measured, BENCH_DETAIL_r12_opt_open queries_load), so
    * the flag instead reads the query's OWN run dispersion, and only
    * when the box was already loaded at bench start: a co-tenant burst
    * inflates some of the 5 runs and not others, so the median pulling
    * ≥ [[LoadFlagRatio]]× away from the run minimum (with
    * ≥ [[LoadFlagMinDeltaSec]] absolute slack so sub-100 ms queries
    * never cry wolf) marks the median as load-contaminated. On an idle
    * start (`load_start < 1`) the flag is structurally 0 — warm run
    * spreads sit well inside the ratio — so a nonzero `load_flag_n`
    * on the final line says "re-read these medians from the detail
    * file's queries_min / a solo re-run", exactly the adjudication the
    * r12 judge had to reconstruct from a cross-run diff. */
  val LoadFlagRatio = 2.0
  val LoadFlagMinDeltaSec = 0.5

  /** Pure flag rule (spec-tested): flagged iff the sweep started
    * loaded AND the median sits far above the run minimum. The rule
    * reads the millisecond values the artifact PRINTS, not the raw
    * doubles: a reader checking queries_p50 against queries_min must
    * reach the same verdict (tx28 printed 1.184 = 2 × 0.592 on a 1.43
    * start, yet its raw p50 sat a hair under 2×, so it went unflagged). */
  def loadFlagged(loadStart: Double, p50: Double, minRun: Double): Boolean = {
    def ms(x: Double): Long = math.round(fmt(x, 3).toDouble * 1000)
    val (p, m) = (ms(p50), ms(minRun))
    loadStart >= 1.0 && p >= LoadFlagRatio * m &&
      p - m >= LoadFlagMinDeltaSec * 1000
  }

  // Locale.ROOT: f"%.3f" under a comma-decimal default locale would
  // emit 26,123 and corrupt the machine-parsed JSON line
  def fmt(x: Double, dec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(x))

  /** The one timing/release step every measurement main shares: times
    * `body`, then drops every cached/checkpointed block OUTSIDE the
    * timed region — also when `body` throws — so no unit of work's
    * residency leaks into the next one's timing. */
  def timed[A](spark: SparkSession)(body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    try { val a = body; ((System.nanoTime() - t0) / 1e9, a) }
    finally graft.ops.Materialize.releaseAll(spark)
  }

  def main(args: Array[String]): Unit = {
    // validate up front: a typo must not cost a session and a warmup
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // "both" (default): one artifact carries the noop headline AND the
    // count trend. "noop"/"count" restrict to one action (debug use).
    val action = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "both")
    require(Set("both", "noop", "count")(action),
      s"SPARK_GRAFT_BENCH_ACTION must be both|noop|count, got $action")
    val doNoop = action != "count"
    val doCount = action != "noop"
    val spark = Harness.session(cpus)
    val loadStart = loadAvg()
    // warmup: exercise scan, shuffle, and codegen paths enough times to
    // settle JIT + page cache INDEPENDENT of SPARK_GRAFT_RUNS — a 2-run
    // sf1 sweep otherwise reads its first checkpoint ~2× the warm
    // calibration floor and mass-flags the head of the alphabet as
    // suspect (measured: checkpoint-0 0.31–0.35 s vs 0.15–0.25 warm).
    // The warmup samples also measure this tier's warm floor for the
    // relative envelope (see CalibEnvelopeSec) — but ONLY when the
    // machine was idle at warmup (loadavg < 1): a co-tenant load that
    // spans the warmup would inflate the floor and self-mask exactly
    // the sustained-load case the suspect gate exists to catch, so
    // under a loaded start the static envelope applies and every
    // checkpoint flags as before.
    def calibQuery(): Unit =
      Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    def timeOne(body: => Unit): Double = timed(spark)(body)._1
    val warmFloor = (1 to 5).map(_ => timeOne(calibQuery())).min
    // gate on the PRE-warmup loadavg only: a post-warmup re-sample
    // cannot distinguish a co-tenant from the bench's own just-finished
    // 32-thread warmup burst (the same reason checkpoint loadavg is
    // recorded for attribution, never gated on) — on an idle machine it
    // would intermittently disable the relative envelope and resurrect
    // the sf1 warm-floor flapping it exists to fix. The residual
    // hazard (a load starting seconds before the bench that the lagging
    // 1-minute average hasn't surfaced) is bounded by the 4× cap inside
    // envelopeFor instead.
    val envelope =
      if (loadStart >= 0 && loadStart < 1.0) envelopeFor(cpus.toInt, warmFloor)
      else envelopeFor(cpus.toInt)
    Tables.events(spark, sfDir).limit(10).collect()

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    def calibrate(runs: Int): Double =
      median((1 to runs).map(_ => timeOne(calibQuery())))

    def esc(s: String): String = graft.functions.Functions.jsonEscape(s)

    // calibration series: (queryIndex the checkpoint precedes, calib
    // MIN-of-3 sec, loadavg at the checkpoint). Min, not median: the
    // checkpoint must detect SUSTAINED external load (which inflates
    // every run, floor included) while staying blind to the bench's own
    // GC/JIT debt (one-off pauses that a min discards — a median-based
    // first cut flagged 60/98 queries on an idle machine). The forced
    // GC ahead of the runs pays down the preceding queries' heap debt
    // outside the timed region for the same reason. loadavg is
    // recorded for attribution only — it includes the bench's own
    // 32-thread bursts, so it can NOT gate anything.
    val calibSeries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    def checkpoint(idx: Int): Unit = {
      System.gc()
      calibSeries += ((idx, (1 to 3).map(_ => timeOne(calibQuery())).min,
        loadAvg()))
    }

    val sorted = SparkEntry.queries.toSeq
      .filter(q => args.isEmpty || args.contains(q._1)).sortBy(_._1)
    val calibPre = calibrate(Runs) // endpoint medians keep r5/r6 continuity
    checkpoint(0) // after calibPre: its 5 runs settle JIT first

    var errors = List.empty[String]
    // per query: (name, countP50, noopCold, noopP50, noopMax, loadavg)
    val timings = sorted.zipWithIndex.flatMap { case ((name, fn), qi) =>
      val qLoad = loadAvg()
      var err: Option[String] = None
      def sweep(runs: Int, run: () => Unit): Seq[Double] = {
        val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
        var i = 0
        while (i < runs && err.isEmpty) { // don't retry a failed query
          try ts += timeOne(run())
          catch { case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(200))
          }
          i += 1
        }
        ts.toSeq
      }
      // noop FIRST: queries_cold keeps its r1–r6 meaning (first-ever
      // run of the query this JVM) and the headline medians see the
      // same warmup state as r6's noop-only sweeps. The count sweep
      // runs warmed — count medians were warm-dominated under the old
      // 5-run count-only sweeps too, so the trend stays comparable.
      // noop write: forces EVERY output column and the final sort
      // (see class doc) — the timed plan is the consumer's plan
      val noopTs = if (doNoop) sweep(Runs, () =>
        fn(spark, sfDir).write.mode("overwrite").format("noop").save())
      else Seq.empty
      val countTs = if (doCount && err.isEmpty) sweep(CountRuns, () => {
        fn(spark, sfDir).count(); () }) else Seq.empty
      if ((qi + 1) % CalibEvery == 0 && qi + 1 < sorted.size)
        checkpoint(qi + 1)
      err match {
        case Some(msg) =>
          System.err.println(s"[bench] FAILED $name: $msg")
          errors ::= s"$name: $msg"
          None
        case None =>
          val cp50 = if (countTs.nonEmpty) Some(median(countTs)) else None
          val (cold, p50, mx, mn) =
            if (noopTs.nonEmpty)
              (noopTs.head, median(noopTs), noopTs.max, noopTs.min)
            else (countTs.head, median(countTs), countTs.max, countTs.min)
          Some((name, cp50, cold, p50, mx, qLoad, mn))
      }
    }
    // the run count the p50/cold/max statistics actually came from:
    // the noop sweep's Runs normally, CountRuns under action=count
    val headlineRuns = if (doNoop) Runs else CountRuns
    val calibPost = calibrate(Runs)
    checkpoint(sorted.size)
    val loadEnd = loadAvg()
    val calib = math.min(calibPre, calibPost)
    if (calib > envelope)
      System.err.println(f"[bench] WARNING: endpoint calibration median " +
        f"$calib%.3f s exceeds the idle envelope $envelope%.2f s — this " +
        "artifact was recorded on a loaded machine; do not read its " +
        "totals as a code regression")

    // SUSPECT attribution via the pure [[suspectNames]] (the pre-sweep
    // endpoint is structurally JIT-inflated — measured 0.33 pre vs
    // 0.15 post on an idle box — which the 2× headroom absorbs)
    val suspectSet = suspectNames(sorted.map(_._1),
      calibSeries.toSeq.map(c => (c._1, c._2)), envelope).toSet
    val suspects = timings.map(_._1).filter(suspectSet)
    if (suspects.nonEmpty)
      System.err.println(s"[bench] ${suspects.size} query medians recorded " +
        s"outside the idle envelope: ${suspects.mkString(", ")}")

    type T = (String, Option[Double], Double, Double, Double, Double, Double)
    def obj(pick: T => Double, dec: Int): String =
      timings.map(t => s""""${esc(t._1)}":${fmt(pick(t), dec)}""").mkString("{", ",", "}")

    // moderate-co-tenancy attribution (see loadFlagged): names to the
    // detail file, the count to the final line
    val loadFlags = timings.filter(t => loadFlagged(loadStart, t._4, t._7))
      .map(_._1)
    if (loadFlags.nonEmpty)
      System.err.println(s"[bench] ${loadFlags.size} query medians show " +
        s"load-start dispersion (p50 >= 2x run min on a loaded box): " +
        loadFlags.mkString(", "))

    val coldTotal = timings.map(_._3).sum
    val p50Total = timings.map(_._4).sum
    val maxTotal = timings.map(_._5).sum
    val countTotal =
      if (doCount) Some(timings.flatMap(_._2).sum) else None
    val errJson = errors.reverse.map(e => s""""${esc(e)}"""").mkString("[", ",", "]")
    val sfName = new java.io.File(sfDir).getName
    val calibSeriesJson = calibSeries
      .map { case (i, c, l) => s"[$i,${fmt(c, 3)},${fmt(l, 2)}]" }
      .mkString("[", ",", "]")
    val suspectJson = suspects.map(s => s""""${esc(s)}"""").mkString("[", ",", "]")
    val calibJson =
      s""""calib_pre":${fmt(calibPre, 3)},"calib_post":${fmt(calibPost, 3)},""" +
        s""""calib_envelope":${fmt(envelope, 2)},"calib_every":$CalibEvery,""" +
        s""""calib_series":$calibSeriesJson,"suspect":$suspectJson,""" +
        s""""load_start":${fmt(loadStart, 2)},"load_end":${fmt(loadEnd, 2)}"""

    // FULL per-query history to a round-stamped file the judge can read
    // (the driver's 2000-char tail keeps only the headline): round =
    // 1 + the latest BENCH_r{N}.json already in the working directory.
    val round = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .map(_.getName)
      .collect { case s if s.matches("BENCH_r\\d+\\.json") =>
        s.stripPrefix("BENCH_r").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max) + 1
    val detailOut = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT",
      f"BENCH_DETAIL_r$round%02d.json")
    val countDetail = countTotal.map(ct =>
      s""""count_runs":$CountRuns,"count_total":${fmt(ct, 3)},
         |"queries_count_p50":${obj(_._2.getOrElse(-1.0), 3)},""".stripMargin)
      .getOrElse("")
    val loadFlagJson = loadFlags.map(s => s""""${esc(s)}"""")
      .mkString("[", ",", "]")
    val detailJson =
      s"""{"runs":$headlineRuns,"sf":"$sfName","action":"$action",$calibJson,
         |"errors":$errJson,"load_flagged":$loadFlagJson,
         |$countDetail"cold_total":${fmt(coldTotal, 3)},"p50_total":${fmt(p50Total, 3)},"max_total":${fmt(maxTotal, 3)},
         |"queries_cold":${obj(_._3, 3)},
         |"queries_p50":${obj(_._4, 3)},
         |"queries_max":${obj(_._5, 3)},
         |"queries_min":${obj(_._7, 3)},
         |"queries_load":${obj(_._6, 2)}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(detailOut),
      (detailJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full per-query detail written to $detailOut")

    // full-precision p50 detail ALWAYS rides an earlier stdout line too
    // (belt and braces with the detail file)
    println(s"""{"detail":"p50","runs":$headlineRuns,"total":${fmt(p50Total, 3)},"queries":${obj(_._4, 3)}}""")
    // errors ride the final line only when present — the empty list is
    // implied by rc=0 and costs budget the growing query map needs
    val errField = if (errors.isEmpty) "" else s""""errors":$errJson,"""
    // self-attribution on the headline line: calibration endpoint
    // minimum, peak loadavg, the count-action trend total, and the
    // COUNT of suspect medians (their names + the calibration series
    // live in the detail file — the names don't fit a 2000-char line
    // precisely when a loaded machine makes the list long)
    val selfCheck =
      s""""action":"$action","calib":${fmt(calib, 3)},""" +
        s""""load":${fmt(math.max(loadStart, loadEnd), 2)},""" +
        countTotal.map(ct => s""""count_total":${fmt(ct, 3)},""").getOrElse("") +
        s""""suspect_n":${suspects.size},""" +
        s""""load_flag_n":${loadFlags.size},"""
    def finalLine(dec: Int): String =
      s"""{"metric":"p50_total","value":${fmt(p50Total, 3)},"unit":"sec",""" +
        errField + selfCheck + s""""sf":"$sfName","queries":${obj(_._4, dec)}}"""
    // the line MUST fit the driver's 2000-char tail capture whole — a
    // clipped line records parsed:null (the round-3 failure). Nothing
    // prints after this line (sbt's [success] trailer is suppressed),
    // so the true ceiling is 2000 minus the trailing newline = 1999;
    // budget 1995 keeps a 4-char safety margin. Degrade per-query
    // precision before ever letting a clip happen; when even the
    // 0-decimal map no longer fits (~90+ queries), keep the MOST
    // EXPENSIVE queries' p50s at 2 decimals up to the budget — those
    // are the entries regression tracking actually reads; the full map
    // lives in the detail file.
    def topLine(): String = {
      val byCost = timings.sortBy(-_._4)
      val keep = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      var len = (s"""{"metric":"p50_total","value":${fmt(p50Total, 3)},""" +
        s""""unit":"sec",""" + errField + selfCheck +
        s""""sf":"$sfName","queries":{}}""").length
      byCost.foreach { t =>
        val entry = s""""${esc(t._1)}":${fmt(t._4, 2)},""".length
        if (len + entry <= 1995) { keep += ((t._1, t._4)); len += entry }
      }
      val m = keep.sortBy(_._1)
        .map { case (n, v) => s""""${esc(n)}":${fmt(v, 2)}""" }
        .mkString("{", ",", "}")
      System.err.println(s"[bench] final line keeps top ${keep.size} of " +
        s"${timings.size} per-query p50s (full map in $detailOut)")
      s"""{"metric":"p50_total","value":${fmt(p50Total, 3)},"unit":"sec",""" +
        errField + selfCheck + s""""sf":"$sfName","queries":$m}"""
    }
    val line = (2 to 0 by -1).map(finalLine)
      .find(_.length <= 1995).getOrElse(topLine())
    if (finalLine(2).length > 1995)
      System.err.println(s"[bench] final line degraded to fit tail capture " +
        s"(${finalLine(2).length} chars at 2 decimals)")
    println(line)
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.length} queries FAILED")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
