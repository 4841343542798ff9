package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.store.{GraftStore, NioFs, SPath, StoreFs}

/** Entry point of the store benchmark: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <ingest|query|curate> --seed <n> --seconds <s>
  *                --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per named metric, the
  * host-noise record, and as its last line the result object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Writes the full run record (and, traced, the spans) under `--out`.
  */
object Main {
  val Builds = 3
  /** Untimed steps before the loop: the first pays cold costs (codegen,
    * class loading), the others let the JIT finish what it queued. With
    * two, the first timed step still ran 10-25% slower than the rest. */
  val WarmupSteps = 3
  val AllOps: Seq[String] = Seq("append", "period_append", "readback", "range_read",
    "period_read", "point_read", "sql_read", "minhash_probe", "ann_search")
  val ReadOps: Seq[String] = Seq("readback", "range_read", "period_read", "point_read", "sql_read")
  val CommitOps: Seq[String] = Seq("append", "period_append")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = get("workload")
    require(Workload.Names.contains(wl), s"unknown workload '$wl'")
    Args(wl, get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val noise0 = HostNoise.sample()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(a, spark, jvmStartMs, noise0, cores)
    finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, jvmStartMs: Long,
                  noise0: Option[HostNoise.Sample], cores: Int): Unit = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val counting = if (a.trace) Some(new CountingFs) else None
    val fs: StoreFs = counting.getOrElse(NioFs)
    val wl = Workload(a.workload, spark, a.work, a.seed)
    val runner = new Runner(spark, counting)

    val genS = timeS(wl.prepare())
    // set-up: the store build runs `Builds` times on fresh roots; the
    // first is cold. Only the last store is kept for the loop.
    val buildS = (1 to Builds).map { k =>
      val root = a.work.resolve(s"store$k")
      val s = timeS(wl.build(new GraftStore(spark, SPath(fs, root.toString))))
      if (k > 1) Runner.deleteTree(a.work.resolve(s"store${k - 1}"))
      s
    }
    val storeRoot = a.work.resolve(s"store$Builds")
    val warmS = timeS((-WarmupSteps to -1).foreach { i => runner.step = i; wl.step(i, runner) })
    val setupS = sessionS + Stats.median(buildS) + warmS

    // closed loop, one client, for --seconds (and at least two steps); a
    // traced run traces every other step so the same run measures its
    // own tracing overhead
    val recorder = if (a.trace) Some(new JobRecorder(spark)) else None
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    val noiseLoop0 = HostNoise.sample()
    runner.inLoop = true
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var step = 0
    while (step < 2 || System.nanoTime() < deadline) {
      runner.step = step
      runner.tracing = recorder.isDefined && step % 2 == 1
      if (runner.tracing) recorder.foreach(_.attach())
      wl.step(step, runner)
      if (runner.tracing) recorder.foreach { r => r.drain(); r.detach() }
      step += 1
    }
    runner.tracing = false
    val noiseLoop1 = HostNoise.sample()
    val persistedLeft = spark.sparkContext.getPersistentRDDs.size - persisted0
    val codegenMs = Trace.codegenCompileMs() // whole run: set-up pays most of it

    // full collections with pauses between them, so Spark's context
    // cleaner can drop what the first one found unreachable
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val storeBytes = Runner.treeBytes(storeRoot)
    val files = wl.itemDirs.map(d => Runner.dataFiles(d).size)
    val filesPerItem = if (files.isEmpty) 0.0 else files.sum.toDouble / files.size

    val loop = runner.loopOps
    val stepTimes = loop.groupBy(_.step).values.filter(_.forall(_.ok)).map(ops =>
      ops.head.step -> ops.map(_.wallMs).sum).toSeq
    def stepP50(traced: Boolean) = Stats.median(stepTimes.filter(s => (s._1 % 2 == 1) == traced).map(_._2))
    def opsPerS(sel: OpRecord => Boolean) = {
      val xs = loop.filter(sel)
      xs.count(_.ok) / (xs.map(_.wallMs).sum / 1000.0)
    }

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("step_p50_ms", Stats.median(stepTimes.map(_._2)), "ms"),
      ("ops_per_s", opsPerS(_ => true), "1/s"),
      ("retained_heap_mb", heapMb, "MB"),
      ("bytes_per_user_byte", storeBytes / wl.userBytes, "ratio"),
      ("result_quality", wl.resultQuality, "ratio"))
    val named = wl.metrics(runner)

    // warm-up ops count too: a failure there makes the run incorrect
    val attempted = runner.records.size
    val failed = runner.records.count(!_.ok)
    val noise = HostNoise.between(noise0, HostNoise.sample())
    val noiseLoop = HostNoise.between(noiseLoop0, noiseLoop1)

    val out = mutable.ArrayBuffer.empty[String]
    out += s"perfbench: workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=$cores steps=$step"
    out += f"perfbench: session ${sessionS}%.3f s, inputs generated in ${genS}%.3f s, " +
      s"store builds ${buildS.map(b => f"$b%.3f").mkString("/")} s, warm-up ${"%.3f".format(warmS)} s"
    (endToEnd ++ named).foreach { case (n, v, u) => out += s"metric $n ${Report.num(v)} $u" }
    val tails = a.workload match {
      case "ingest" => Seq("append_tail_ms" -> loop.filter(o => o.ok && o.name == "append"))
      case "query"  => Seq("read_tail_ms" -> loop.filter(o => o.ok && ReadOps.contains(o.name)))
      case _        => Nil
    }
    tails.foreach { case (n, xs) =>
      val t = Stats.tail(xs.map(_.wallMs))
      out += s"tail $n: ${if (t.value.isNaN) "n/a" else f"p${t.percentile}%.1f"} over ${t.samples} samples"
    }
    wl.ops.foreach { op =>
      val xs = loop.filter(o => o.ok && o.name == op).map(_.wallMs)
      out += f"op $op: n=${xs.size} p50=${Stats.median(xs)}%.2f ms " +
        s"cold=${runner.setupOps.find(_.name == op).map(o => "%.1f".format(o.wallMs)).getOrElse("-")} ms"
    }
    out += s"ops attempted=$attempted failed=$failed"
    def pct(x: Option[(Double, Double)]) =
      x.map { case (s, o) => f"steal=$s%.2f%% other_busy=$o%.2f%%" }.getOrElse("unavailable")
    out += s"host_noise run: ${pct(noise)}; loop: ${pct(noiseLoop)}"

    val perLayer: Seq[(String, Double, String)] = recorder.map { rec =>
      rec.drain()
      val jobs = Trace.jobsByOp(loop, rec)
      Files.createDirectories(a.out)
      val spansPath = a.out.resolve(s"spans-${a.workload}-seed${a.seed}.json")
      Files.write(spansPath, Trace.spansJson(Trace.spans(loop, jobs)).getBytes(StandardCharsets.UTF_8))
      out += s"spans: $spansPath"
      layerMetrics(wl, runner, jobs, codegenMs, filesPerItem, persistedLeft) ++ Seq(
        ("trace.overhead.step_p50_ms", stepP50(traced = true) - stepP50(traced = false), "ms"),
        ("trace.overhead.ops_per_s",
          opsPerS(_.traced) - opsPerS(!_.traced), "1/s"))
    }.getOrElse(Nil)
    if (a.trace) perLayer.foreach { case (n, v, u) => out += s"layer $n ${Report.num(v)} $u" }
    runner.failures.foreach(f => out += s"failed: $f")

    val shown = if (a.trace) perLayer else endToEnd
    val metricsJson = shown.map { case (n, v, u) =>
      s""""$n":{"value":${Report.num(v)},"unit":"$u"}""" }.mkString(",")
    val correct = failed == 0 && attempted > 0
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$metricsJson}}"""

    Files.createDirectories(a.out)
    val recordJson = (endToEnd ++ named ++ perLayer).map { case (n, v, u) =>
      s""""$n":{"value":${Report.num(v)},"unit":"$u"}""" }.mkString(",")
    def noiseJson(x: Option[(Double, Double)]) =
      x.map { case (s, o) => s"""{"steal_pct":${Report.num(s)},"other_busy_pct":${Report.num(o)}}""" }
        .getOrElse("null")
    val opsJson = runner.records.map(o =>
      s"""["${o.name}",${o.step},${Report.num(o.wallMs)},${o.ok}]""").mkString(",")
    Files.write(a.out.resolve(s"record-${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      (s"""{"workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},""" +
        s""""trace":${a.trace},"steps":$step,"attempted":$attempted,"failed":$failed,""" +
        s""""host_noise":{"run":${noiseJson(noise)},"loop":${noiseJson(noiseLoop)}},""" +
        s""""metrics":{$recordJson},"ops":[$opsJson]}""" + "\n").getBytes(StandardCharsets.UTF_8))

    out.foreach(println)
    println(result)
  }

  private def layerMetrics(wl: Workload, r: Runner, jobs: Map[Long, Seq[JobRecorder#Job]],
                           codegenMs: Double, filesPerItem: Double,
                           persistedLeft: Int): Seq[(String, Double, String)] = {
    val traced = r.loopOps.filter(o => o.traced && o.ok)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    AllOps.flatMap { op =>
      val calls = traced.filter(_.name == op)
      def per(f: OpRecord => Double) = mean(calls.map(f))
      def jobSum(f: JobRecorder#Job => Double)(o: OpRecord) = jobs.getOrElse(o.id, Nil).map(f).sum
      val cold = if (wl.ops.contains(op)) r.setupOps.find(_.name == op).map(_.wallMs).getOrElse(0.0) else 0.0
      val spark = Seq(
        (s"spark.jobs.$op", per(jobSum(_ => 1.0)), "count"),
        (s"spark.job_ms.$op", per(jobSum(j => (j.end - j.start).toDouble)), "ms"),
        (s"spark.tasks.$op", per(jobSum(_.tasks.get.toDouble)), "count"),
        (s"spark.driver_gap_ms.$op", per(o => o.wallMs -
          Trace.coveredMs(jobs.getOrElse(o.id, Nil).map(j => (j.start, j.end)), o.startMs, o.endMs)), "ms"),
        (s"spark.shuffle_bytes.$op", per(jobSum(_.shuffleBytes.get.toDouble)), "bytes"),
        (s"spark.input_bytes.$op", per(jobSum(_.inputBytes.get.toDouble)), "bytes"),
        (s"spark.cpu_ms.$op", per(jobSum(_.cpuNs.get / 1e6)), "ms"),
        (s"spark.cold_ms.$op", cold, "ms"),
        (s"jvm.gc_ms.$op", per(_.gcMs.toDouble), "ms"),
        (s"store.fs_ops.$op", per(_.fs.values.sum.toDouble), "count"))
      val scanned =
        if (!ReadOps.contains(op)) Nil
        else {
          val rows = calls.map(_.extra.getOrElse("rows_out", 0.0)).sum
          val read = calls.map(jobSum(_.recordsRead.get.toDouble)).sum
          Seq((s"spark.rows_scanned_per_row.$op", if (rows > 0) read / rows else 0.0, "ratio"))
        }
      val store =
        if (!CommitOps.contains(op)) Nil
        else Seq("list" -> "list", "write" -> "write", "rename" -> "rename", "delete" -> "delete")
          .map { case (n, k) => (s"store.fs_$n.$op", per(_.fs.getOrElse(k, 0L).toDouble), "count") } :+
          ((s"store.rewrite_bytes.$op", per(_.extra.getOrElse("rewrite_bytes", 0.0)), "bytes"))
      spark ++ scanned ++ store
    } ++ Seq(
      ("spark.codegen_compile_ms", codegenMs, "ms"),
      ("store.files_per_item", filesPerItem, "count"),
      ("sources.plan_ms.sql_read", mean(traced.filter(_.name == "sql_read").map(_.extra.getOrElse("plan_ms", 0.0))), "ms"),
      ("sources.files_read.sql_read", mean(traced.filter(_.name == "sql_read").map(_.extra.getOrElse("files_read", 0.0))), "count"),
      ("operators.persisted_rdds_left", persistedLeft.toDouble, "count"))
  }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
