package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Thrown by an output check; the op counts as failed. */
final class Mismatch(msg: String) extends Exception(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, expected $want")
  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new Mismatch(what)
}

/** Times op calls through the library's public API, one at a time (a
  * closed loop with one client), and runs each op's output check after
  * the clock stops. In a traced step it also sets the job group that
  * ties Spark jobs to the op, and records GC time, store fs calls and,
  * for commits, the data-file bytes the commit wrote. */
final class Runner(spark: SparkSession, countingFs: Option[CountingFs]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** Set-up ops (the first, cold call of each op) vs timed-loop ops. */
  var inLoop = false
  var step: Int = -1
  var tracing = false
  private var nextId = 0L
  private val extra = mutable.Map.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Attach a per-layer value to the op being run (traced steps only). */
  def note(key: String, value: => Double): Unit = if (tracing) extra(key) = value

  /** Run one op. `check` runs untimed on the result, throws [[Mismatch]]
    * on a wrong result and returns the number of result rows. An op that
    * throws or fails its check is recorded as failed. */
  def op[A](name: String, commitDir: Option[Path] = None)(body: => A)(check: A => Long): Option[A] = {
    val id = nextId; nextId += 1
    val traced = tracing
    extra.clear()
    val files0 = if (traced) commitDir.map(Runner.dataFiles) else None
    val gc0 = if (traced) Trace.gcMs() else 0L
    val fs0 = if (traced) countingFs.map(_.snapshot()) else None
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    if (traced) sc.clearJobGroup()
    val gc = if (traced) Trace.gcMs() - gc0 else 0L
    val fsDelta = (for (a <- fs0; b <- countingFs.map(_.snapshot()))
      yield b.map { case (k, v) => k -> (v - a(k)) }).getOrElse(Map.empty[String, Long])
    for (before <- files0; dir <- commitDir) {
      val after = Runner.dataFiles(dir)
      note("rewrite_bytes", (after -- before.keySet).values.sum.toDouble)
    }
    val outcome: Either[Throwable, (A, Long)] = res.flatMap { a =>
      try Right((a, check(a))) catch { case NonFatal(e) => Left(e) }
    }
    outcome.left.foreach { e =>
      failures += s"$name (step $step): ${e.getClass.getSimpleName}: ${e.getMessage}"
      System.err.println(s"perfbench: op failed: ${failures.last}")
    }
    outcome.foreach { case (_, rows) => note("rows_out", rows.toDouble) }
    records += OpRecord(id, name, step, traced, startMs, endMs, wallMs, outcome.isRight,
      gc, fsDelta, extra.toMap)
    outcome.toOption.map(_._1)
  }

  def loopOps: Seq[OpRecord] = records.toSeq.filter(_.step >= 0)
  def setupOps: Seq[OpRecord] = records.toSeq.filter(_.step < 0)
}

object Runner {
  /** Parquet data files under `dir` (relative path → bytes). */
  def dataFiles(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** All bytes under `dir`. */
  def treeBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
