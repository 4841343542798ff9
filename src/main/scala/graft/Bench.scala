package graft

import org.apache.spark.sql.SparkSession

/** The capture-validity gate, extracted pure so recorded captures can
  * be replayed against it in a unit test (BenchGateSpec pins the
  * committed contended captures INVALID and the committed clean
  * captures valid).
  *
  * Round-12 rules. Four rounds of evidence showed the q1-ratio
  * sentinel family failing in BOTH directions — the round-10 driver
  * capture (277 s, single-query inflation to 13.5×) passed because the
  * contention landed BETWEEN the q1 samples, while a genuinely clean
  * 193.8 s run failed on pure q1 run-to-run noise (the clean q1 band
  * 0.21–0.45 s has an internal ratio of ~2). The discriminating signal
  * every round actually used is the PER-QUERY comparison against
  * committed clean history, so that is now the gate:
  *
  *  - ANCHORS: ten fixed cheap queries (< 0.5 s clean, spread across
  *    families and across the run's alphabetical order) are compared
  *    against their committed clean-capture reference medians
  *    (BENCH_ANCHORS.json). ≥ 2 anchors over 2× ⇒ invalid. The two
  *    committed clean captures agree per-query within 1.28×/0.67× —
  *    2× is far outside clean noise.
  *  - SOLO RE-TIME: the 3 most-inflated non-anchor queries (vs the
  *    same references, and only those already over 2×) are re-timed
  *    SOLO after the run; an in-run time > 2× its own solo re-time
  *    (and > 1 s beyond it — first executions pay codegen/JIT a re-run
  *    doesn't) means the in-run number measured contention, not the
  *    query ⇒ invalid. This is the check that catches transient
  *    mid-run contention that misses every anchor.
  *
  * Round-17 additions — the SOFT-sustained-contention arms. Round-16
  * evidence: a 378.7 s capture (steal 3.3%) passed the round-12 gate
  * (anchors_over 1, solo_disagree 0) while its heavy tail ran 3–6.7×
  * inflated — every cheap anchor is sub-second and dodges a sustained
  * all-core phase, and the solo re-times ran INSIDE the same phase so
  * they "agreed". Two independent arms close that hole (both replayed
  * against the recorded r16 captures in BenchGateSpec):
  *
  *  - MID-WEIGHT ANCHORS: three multi-second queries from the heavy
  *    families that a sustained phase cannot dodge
  *    (store_delete_where 4.5 s, text_substring_index_build 1.5 s,
  *    text_nb_train 3.5 s clean), compared against the same reference
  *    file with a WIDER 3× band (their clean cross-capture wobble
  *    reaches 1.7×, vs 1.3× for the cheap anchors). ≥ 2 over 3× ⇒
  *    invalid. In the 378.7 s capture all three read 3.7–6.7×; across
  *    the six recorded gate-valid r16 captures their worst ratio is
  *    1.67×.
  *  - HEAVY-TAIL + STEAL CROSS-CHECK: measured cpu_steal_pct > 2% AND
  *    ≥ 5 non-anchor queries over 2.5× their references ⇒ invalid.
  *    Either signal alone is innocent — declared code changes move
  *    queries without moving steal (steal stays ~0), and brief steal
  *    blips leave the tail flat (the r16 gate-valid captures read
  *    steal ≤ 1.07% with ≤ 1 query over 2.5×) — but together they mean
  *    the hypervisor withheld CPU while a broad slice of the suite
  *    slowed: contention, not code. The 378.7 s capture reads steal
  *    3.33% with 16 queries over.
  *  - the ABSOLUTE q1 band (fastest sample < 0.5 s) stays: a uniformly
  *    degraded machine (hypervisor/frequency-level) slows everything
  *    equally and no ratio can see it. Overridable via
  *    SPARK_GRAFT_Q1_BAND for q1-cost-changing reconfigurations.
  *  - the whole-run jiffy counters stay: steal ≤ 10 %, other-process
  *    busy ≤ 10 % (unmeasurable −1 never vetoes; the loadavg ceiling
  *    applies only when other-busy is unmeasurable).
  *
  * Missing references don't veto (a brand-new query has no history);
  * they simply leave that anchor/candidate unchecked until
  * BENCH_ANCHORS.json is refreshed from the next gate-valid capture.
  */
object BenchGate {
  val DefaultQ1BandSec = 0.5
  val AnchorRatioBound = 2.0
  /** Invalid when at least this many anchors exceed the bound: ONE
    * anchor can move legitimately (a declared code change, a stats
    * flip); two independent cheap queries both doubling is machine
    * contention. */
  val AnchorOverLimit = 2
  val SoloRatioBound = 2.0
  val SoloCandidates = 3
  /** Mid-weight anchors use a wider band: their documented clean
    * cross-capture wobble reaches ~1.7× (vs ~1.3× for the sub-second
    * anchors), so 2× would false-reject clean runs while 3× still
    * sits far under the 3.7–6.7× a sustained contention phase
    * produces (the recorded r16 evidence, see the scaladoc). */
  val MidAnchorRatioBound = 3.0
  val MidAnchorOverLimit = 2
  /** Heavy-tail cross-check thresholds: both must trip together (see
    * the scaladoc — either alone is innocent). */
  val HeavyTailStealPct = 2.0
  val HeavyTailRatioBound = 2.5
  val HeavyTailCountLimit = 5

  /** The fixed anchor queries: cheap (0.1–0.4 s clean — contention
    * dominates their time, the query never does), stable across
    * rounds, and spread across query families AND across the run's
    * alphabetical execution order so a contention phase anywhere in
    * the run overlaps several of them. */
  val Anchors: Seq[String] = Seq(
    "events_hourly_counts", "events_props_agg", "multimodal_decode",
    "profile_categories", "q1_agg", "q2_filter_pushdown",
    "q9_distinct_agg", "sample_stratified", "text_lm_score", "text_stats")

  /** The mid-weight anchors: multi-second queries (1.5–4.5 s clean)
    * from three different heavy families (store maintenance, text
    * indexing, model training) and three different stretches of the
    * run's alphabetical order — a sustained all-core phase long enough
    * to matter overlaps at least two of them, and unlike the
    * sub-second anchors they cannot complete inside a calm gap. */
  val MidAnchors: Seq[String] = Seq(
    "store_delete_where", "text_nb_train", "text_substring_index_build")

  final case class AnchorCheck(name: String, sec: Double, ref: Double,
                               bound: Double = AnchorRatioBound) {
    def ratio: Double = if (ref > 0 && sec > 0) sec / ref else -1.0
    def over: Boolean = ratio > bound
  }
  final case class SoloCheck(name: String, inRunSec: Double, soloSec: Double) {
    def ratio: Double = if (soloSec > 0 && inRunSec > 0) inRunSec / soloSec else -1.0
    /** Disagreement needs the RATIO and an absolute gap: the in-run
      * number is the query's first execution (it pays codegen/JIT the
      * solo re-run doesn't), which alone reads 2-3x on sub-second
      * queries — but contention worth invalidating over inflates by
      * whole seconds (the round-10 evidence: Δ11-15 s per query). */
    def disagree: Boolean = ratio > SoloRatioBound &&
      inRunSec - soloSec > SoloMinGapSec
  }
  val SoloMinGapSec = 1.0
  final case class Result(valid: Boolean, anchors: Seq[AnchorCheck],
                          anchorsOver: Int, soloDisagree: Int,
                          minSample: Double,
                          midAnchors: Seq[AnchorCheck] = Nil,
                          midAnchorsOver: Int = 0,
                          heavyTailOver: Int = 0)

  def anchorChecks(inRun: Map[String, Double],
                   refs: Map[String, Double]): Seq[AnchorCheck] =
    Anchors.flatMap(a => inRun.get(a).map(sec =>
      AnchorCheck(a, sec, refs.getOrElse(a, -1.0))))

  def midAnchorChecks(inRun: Map[String, Double],
                      refs: Map[String, Double]): Seq[AnchorCheck] =
    MidAnchors.flatMap(a => inRun.get(a).map(sec =>
      AnchorCheck(a, sec, refs.getOrElse(a, -1.0), MidAnchorRatioBound)))

  /** Non-anchor queries over [[HeavyTailRatioBound]] vs their
    * references — the breadth half of the heavy-tail cross-check
    * (fires only alongside measured steal, see [[evaluate]]). Anchors
    * and mid-anchors are excluded so the three rules stay orthogonal
    * (each query is judged by exactly one band). */
  def heavyTailOverCount(inRun: Map[String, Double],
                         refs: Map[String, Double]): Int =
    inRun.count { case (n, s) =>
      s > 0 && !Anchors.contains(n) && !MidAnchors.contains(n) &&
        refs.get(n).exists(r => r > 0 && s / r > HeavyTailRatioBound)
    }

  /** The non-anchor queries to re-time solo: the [[SoloCandidates]]
    * most inflated vs their references, among those ALREADY over the
    * 2x bound — a clean run (everything within ~1.3x of its reference)
    * re-times nothing, so the first-execution codegen/JIT asymmetry of
    * a solo re-run can never false-reject it. No references → nothing
    * to pick (a suspicion-driven check needs a baseline to suspect
    * against). */
  def soloCandidates(inRun: Map[String, Double],
                     refs: Map[String, Double]): Seq[String] =
    inRun.toSeq
      .filter { case (n, s) =>
        s > 0 && !Anchors.contains(n) && !MidAnchors.contains(n) }
      .flatMap { case (n, s) => refs.get(n).filter(_ > 0).map(r => (n, s / r)) }
      .filter(_._2 > AnchorRatioBound)
      .sortBy(-_._2).map(_._1)
      .take(SoloCandidates)

  def evaluate(inRun: Map[String, Double], refs: Map[String, Double],
               soloChecks: Seq[SoloCheck], q1Samples: Seq[Double],
               stealPct: Double, otherBusyPct: Double,
               loadMax: Double, nCpus: Int,
               q1BandSec: Double = DefaultQ1BandSec): Result = {
    val anchors = anchorChecks(inRun, refs)
    val anchorsOver = anchors.count(_.over)
    val midAnchors = midAnchorChecks(inRun, refs)
    val midAnchorsOver = midAnchors.count(_.over)
    val heavyTailOver = heavyTailOverCount(inRun, refs)
    val soloDisagree = soloChecks.count(_.disagree)
    val positives = q1Samples.filter(_ > 0)
    val minSample = if (positives.nonEmpty && positives.size == q1Samples.size)
      positives.min else -1.0
    // The heavy-tail cross-check needs BOTH halves (see the scaladoc);
    // unmeasurable steal (-1) never trips it.
    val heavyTailVeto = stealPct > HeavyTailStealPct &&
      heavyTailOver >= HeavyTailCountLimit
    // Unmeasurable signals (-1) don't veto — absent, not bad. The
    // loadavg ceiling remains the fallback proxy ONLY when other_busy
    // is unmeasurable (self-load from legitimate all-core phases reads
    // high on loadavg).
    val valid = minSample > 0 && minSample < q1BandSec &&
      anchorsOver < AnchorOverLimit && midAnchorsOver < MidAnchorOverLimit &&
      !heavyTailVeto && soloDisagree == 0 &&
      stealPct <= 10.0 && otherBusyPct <= 10.0 &&
      (otherBusyPct >= 0 || loadMax <= nCpus / 2.0)
    Result(valid, anchors, anchorsOver, soloDisagree, minSample,
      midAnchors, midAnchorsOver, heavyTailOver)
  }
}

object Bench {
  /** Elapsed seconds of `body` and the error it threw, if any: a
    * throwing query keeps its time for the gate but is reported. */
  def timed(body: => Unit): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** The capture's additive `"errors"` block: query name → message. */
  def errorsJson(errors: Seq[(String, String)]): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.JObject(errors.map { case (n, m) => n -> org.json4s.JString(m) }.toList))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM (codegen compiler, parquet reader, shuffle paths)
    // so per-query timings measure the queries, not first-job startup.
    spark.range(2000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    // every query error, in run order; one stderr line each
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeQuery(name: String): Double = {
      val (sec, err) = timed(SparkEntry.queries(name)(spark, sfDir).count())
      err.foreach { e =>
        System.err.println(s"[bench] $name failed: $e")
        errors.getOrElseUpdate(name, e)
      }
      sec
    }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // Hypervisor CPU steal — the contention mode the q1 sentinel CANNOT
    // see: a cheap single-shuffle query barely moves under steal while
    // sustained all-core phases inflate 2-5x. /proc/stat's 8th cpu
    // field counts jiffies the hypervisor withheld; the start→end delta
    // as a fraction of total elapsed jiffies is the run's steal share.
    // (total, steal, busy) jiffies: busy = total - idle - iowait — what
    // SOMETHING on the machine was computing. Compared against THIS
    // JVM's own CPU time it yields the other-process share, the signal
    // that sees mid-run contention CONTINUOUSLY (a q1 sentinel can land
    // in calm gaps; the round-8 249.8 s capture passed max_drift ≤ 2
    // with 8x single-query inflation exactly that way).
    def cpuJiffies(): Option[(Long, Long, Long)] =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        val idle = (if (f.length > 3) f(3) else 0L) + (if (f.length > 4) f(4) else 0L)
        Some((f.sum, if (f.length > 7) f(7) else 0L, f.sum - idle))
      } catch { case _: Exception => None }
    // This JVM's own CPU in the SAME unit as /proc/stat (jiffies):
    // /proc/self/stat utime+stime (fields 14/15, 1-indexed; parsed
    // after the last ')' since comm may embed spaces). Keeping both
    // sides of the other-busy subtraction in kernel jiffies removes
    // the round-9 unit bridge — the hardcoded 10 ms jiffy length and
    // the availableProcessors() capacity denominator, which is
    // cgroup-aware while /proc/stat is whole-machine and so undercounts
    // capacity in a CPU-quota container.
    def selfJiffies(): Option[Long] =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/self/stat")),
          java.nio.charset.StandardCharsets.UTF_8)
        val f = s.substring(s.lastIndexOf(')') + 1).trim.split("\\s+")
        Some(f(11).toLong + f(12).toLong) // utime + stime
      } catch { case _: Exception => None }

    // Machine-contention sentinel: a fixed cheap query timed at start,
    // at the end, AND every `SentinelEvery` queries mid-run, plus the
    // OS 1-min load average sampled alongside. The round-6 driver
    // capture passed a start/end-only sentinel while a sustained
    // mid-run contention phase inflated the all-core queries ~50% — the
    // mid-run samples see exactly that window. A capture is valid only
    // if EVERY sentinel sample stays within 2x of the first.
    val SentinelEvery = 25
    val loadStart = loadAvg()
    val jiffiesStart = cpuJiffies()
    val selfStart = selfJiffies()
    val sentinelStart = timeQuery("q1_agg")
    val midSentinels = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    var loadMax = math.max(loadStart, 0.0)

    // SPARK_GRAFT_BENCH_ONLY: comma-separated query names (exact match)
    // restricting the run — used for the sf1.0 headline-family tier so
    // the scaled capture times the stats-adaptive paths, not all 113.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = names.zipWithIndex.map { case ((name, _), i) =>
      val sec = timeQuery(name)
      loadMax = math.max(loadMax, loadAvg())
      if ((i + 1) % SentinelEvery == 0 && i + 1 < names.size) {
        midSentinels += ((i + 1, timeQuery("q1_agg"), loadAvg()))
        loadMax = math.max(loadMax, midSentinels.last._3)
      }
      name -> sec
    }

    val sentinelEnd = timeQuery("q1_agg")
    val loadEnd = loadAvg()
    loadMax = math.max(loadMax, loadEnd)

    // Reference medians from the committed clean captures — drives the
    // anchor comparison and the solo-candidate pick (see BenchGate).
    // Missing/unreadable file → empty refs → those rules stay
    // unmeasurable and don't veto.
    val refsFile = sys.env.getOrElse("SPARK_GRAFT_ANCHORS", "BENCH_ANCHORS.json")
    val refs: Map[String, Double] =
      try org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refsFile)),
        java.nio.charset.StandardCharsets.UTF_8)) match {
        case org.json4s.JObject(fields) => fields.toMap.get("refs") match {
          case Some(org.json4s.JObject(rs)) => rs.collect {
            case (k, org.json4s.JDouble(v)) => k -> v
            case (k, org.json4s.JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
        case _ => Map.empty
      } catch { case _: Exception => Map.empty }

    val inRun = results.toMap
    // Solo re-time: the most-inflated non-anchor queries run once more
    // with nothing else on the machine's timeline of THIS process — an
    // in-run time >2x its own solo re-time measured contention, not
    // the query. Runs after the full suite, so it also lands after any
    // transient co-tenant phase that inflated the in-run number.
    val soloChecks = BenchGate.soloCandidates(inRun, refs).map { n =>
      BenchGate.SoloCheck(n, inRun(n), timeQuery(n))
    }

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val drift = if (sentinelStart > 0) sentinelEnd / sentinelStart else -1.0
    val midJson = midSentinels
      .map { case (at, sec, load) => s"""{"after":$at,"sec":$sec,"load_avg":$load}""" }
      .mkString("[", ",", "]")
    // steal share of the whole capture window; -1 when /proc/stat is
    // unavailable (non-Linux). >10% means the hypervisor withheld a
    // material slice of the machine mid-run — all-core query times are
    // inflated even if every q1 sentinel stayed in band.
    val jiffiesEnd = cpuJiffies()
    val stealPct = (jiffiesStart, jiffiesEnd) match {
      case (Some((t0, s0, _)), Some((t1, s1, _))) if t1 > t0 =>
        (s1 - s0).toDouble / (t1 - t0).toDouble * 100.0
      case _ => -1.0
    }
    // Other-process CPU share of the machine over the WHOLE capture:
    // machine busy jiffies minus this JVM's own utime+stime jiffies, as
    // a fraction of total elapsed jiffies across all cpus (the aggregate
    // /proc/stat line's field sum — same source, same unit, so no jiffy
    // length or cpu count enters the formula). Clean runs read <1%
    // (kernel overhead); a co-tenant burning cores mid-run shows here
    // even when every q1 sample landed in a calm gap.
    val selfEnd = selfJiffies()
    val otherBusyPct = (jiffiesStart, jiffiesEnd, selfStart, selfEnd) match {
      case (Some((t0, _, b0)), Some((t1, _, b1)), Some(s0), Some(s1))
          if t1 > t0 =>
        math.max(0.0, ((b1 - b0) - (s1 - s0)).toDouble) / (t1 - t0).toDouble * 100.0
      case _ => -1.0
    }
    // Validity gate (round 12, see BenchGate's scaladoc for why each
    // rule exists). The recorded contended captures of rounds 8–11 all
    // stamp invalid under it; every recorded clean capture stays valid.
    val nCpus = Runtime.getRuntime.availableProcessors()
    val q1Band = sys.env.get("SPARK_GRAFT_Q1_BAND").flatMap(_.toDoubleOption)
      .getOrElse(BenchGate.DefaultQ1BandSec)
    val q1Samples = sentinelStart +: midSentinels.map(_._2).toSeq :+ sentinelEnd
    val gateRes = BenchGate.evaluate(inRun, refs, soloChecks, q1Samples,
      stealPct, otherBusyPct, loadMax, nCpus, q1Band)
    val isValid = gateRes.valid
    // q1 max_drift stays as a DIAGNOSTIC only (validity no longer uses
    // it — clean-run q1 noise alone reaches ~2x, see BenchGate scaladoc)
    val steady = midSentinels.map(_._2).toSeq :+ sentinelEnd
    val maxDrift = if (gateRes.minSample > 0) steady.max / gateRes.minSample else -1.0
    def checksJson(cs: Seq[BenchGate.AnchorCheck]): String = cs
      .map(a => s"""{"name":"${a.name}","sec":${a.sec},"ref":${a.ref},"ratio":${a.ratio},"over":${a.over}}""")
      .mkString("[", ",", "]")
    val anchorsJson = checksJson(gateRes.anchors)
    val midAnchorsJson = checksJson(gateRes.midAnchors)
    val soloJson = soloChecks
      .map(s => s"""{"name":"${s.name}","in_run":${s.inRunSec},"solo":${s.soloSec},"ratio":${s.ratio},"disagree":${s.disagree}}""")
      .mkString("[", ",", "]")
    val gate =
      s""""gate":{"anchors":$anchorsJson,"anchors_over":${gateRes.anchorsOver},""" +
      s""""mid_anchors":$midAnchorsJson,"mid_anchors_over":${gateRes.midAnchorsOver},""" +
      s""""heavy_tail_over":${gateRes.heavyTailOver},""" +
      s""""solo_checks":$soloJson,"solo_disagree":${gateRes.soloDisagree},""" +
      s""""refs_file":"$refsFile","refs_loaded":${refs.size}}"""
    val sentinel =
      s""""sentinel":{"query":"q1_agg","start_sec":$sentinelStart,"end_sec":$sentinelEnd,""" +
      s""""drift":$drift,"mid_samples":$midJson,"max_drift":$maxDrift,""" +
      s""""min_sample_sec":${gateRes.minSample},"q1_band_sec":$q1Band,""" +
      s""""load_avg_start":$loadStart,"load_avg_end":$loadEnd,"proc_loadavg_max":$loadMax,""" +
      s""""cpu_steal_pct":$stealPct,"other_busy_pct":$otherBusyPct,""" +
      s""""valid":$isValid}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",$gate,$sentinel,""" +
      s""""errors":${errorsJson(errors.toSeq)}}"""
    println(line)
    // also persist the full line: the driver captures stdout TAIL only,
    // which truncated 42 of 96 per-query timings in the round-5 capture.
    // Best-effort (overridable dir; never discard a finished capture
    // over an unwritable cwd — stdout already carried the line). The
    // default name is TIER-KEYED: a restricted run (the sf1 tier's
    // SPARK_GRAFT_BENCH_ONLY) writes BENCH_LAST_only.json so it can
    // never silently overwrite the full-suite BENCH_LAST.json between
    // its capture and its commit (it did once, round 13).
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "BENCH_LAST_only.json"
        else "BENCH_LAST.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write the capture file: ${e.getMessage}")
    }
    spark.stop()
  }
}
