package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.store.{NioFs, StoreFs}

/** `StoreFs` decorator that counts control-plane calls by kind and
  * delegates every call to `NioFs`. The store is opened over it with
  * `new GraftStore(spark, SPath(fs, root))`, so every fs call the
  * store, collection and item layers make is seen here. (The
  * `USING graft` V2 read builds its own `NioFs` from the path option,
  * so its control-plane calls bypass this counter.) */
final class CountingFs extends StoreFs {
  val Kinds: Seq[String] = Seq("exists", "stat", "mkdir", "list", "read",
    "write", "copy", "rename", "delete", "lock")
  private val counts: Map[String, AtomicLong] = Kinds.map(_ -> new AtomicLong).toMap
  private def c[A](kind: String)(a: => A): A = { counts(kind).incrementAndGet(); a }

  def snapshot(): Map[String, Long] = counts.map { case (k, v) => k -> v.get }

  def join(base: String, child: String): String = NioFs.join(base, child)
  def nameOf(p: String): String = NioFs.nameOf(p)
  def parentOf(p: String): String = NioFs.parentOf(p)
  def exists(p: String): Boolean = c("exists")(NioFs.exists(p))
  def isDir(p: String): Boolean = c("stat")(NioFs.isDir(p))
  def mkdirs(p: String): Unit = c("mkdir")(NioFs.mkdirs(p))
  def listDirs(p: String): Seq[String] = c("list")(NioFs.listDirs(p))
  def listFiles(p: String): Seq[String] = c("list")(NioFs.listFiles(p))
  def listFilesRecursively(p: String): Seq[String] = c("list")(NioFs.listFilesRecursively(p))
  def deleteRecursively(p: String): Unit = c("delete")(NioFs.deleteRecursively(p))
  def rename(src: String, dst: String): Unit = c("rename")(NioFs.rename(src, dst))
  def readBytes(p: String): Array[Byte] = c("read")(NioFs.readBytes(p))
  def writeBytesAtomic(p: String, bytes: Array[Byte]): Unit = c("write")(NioFs.writeBytesAtomic(p, bytes))
  def copyFile(src: String, dst: String): Unit = c("copy")(NioFs.copyFile(src, dst))
  def linkOrCopyFile(src: String, dst: String): Unit = c("copy")(NioFs.linkOrCopyFile(src, dst))
  def tryLock(lockPath: String, owner: String): Boolean = c("lock")(NioFs.tryLock(lockPath, owner))
  def modifiedAt(p: String): Option[java.time.Instant] = c("stat")(NioFs.modifiedAt(p))
}

/** Spark-side recorder for the traced run: a `SparkListener` that keeps
  * every job (its job group, interval, and the summed task metrics of
  * its stages). The benchmark sets the job group `pb-<op id>` around
  * each op call, which is how jobs are tied to ops; a job started from
  * a library thread that did not inherit the group is tied to the op
  * whose interval contains its start. */
final class JobRecorder(spark: SparkSession) {
  final class Job(val id: Int, val group: String, val start: Long) {
    @volatile var end: Long = -1L
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val inputBytes = new AtomicLong
    val recordsRead = new AtomicLong
    val shuffleBytes = new AtomicLong
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val j = new Job(e.jobId, g, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        j.tasks.incrementAndGet()
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        j.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(listener)
  def detach(): Unit = spark.sparkContext.removeSparkListener(listener)
  /** Block until every event posted so far reached the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
}

/** One timed op call and what the benchmark saw around it. Times are
  * epoch milliseconds (the clock Spark stamps job events with); `wallMs`
  * is the nanosecond-timer duration. */
final case class OpRecord(id: Long, name: String, step: Int, traced: Boolean,
                          startMs: Long, endMs: Long, wallMs: Double,
                          ok: Boolean, gcMs: Long, fs: Map[String, Long],
                          extra: Map[String, Double])

/** A span: an op call, or a Spark job that op caused (parent = op id). */
final case class Span(id: String, parent: String, name: String, start: Long, end: Long,
                      attrs: Map[String, Double])

object Trace {

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (curE < 0 || s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  /** Jobs of each traced op: by job group first, then ungrouped jobs by
    * interval containment. */
  def jobsByOp(ops: Seq[OpRecord], rec: JobRecorder): Map[Long, Seq[JobRecorder#Job]] = {
    val all = rec.jobs.values.asScala.toSeq
    val byGroup = all.filter(_.group.startsWith("pb-")).groupBy(_.group.stripPrefix("pb-").toLong)
    val loose = all.filterNot(_.group.startsWith("pb-"))
    ops.filter(_.traced).map { o =>
      val contained = loose.filter(j => j.start >= o.startMs && j.start <= o.endMs)
      o.id -> (byGroup.getOrElse(o.id, Nil) ++ contained)
    }.toMap
  }

  def spans(ops: Seq[OpRecord], jobs: Map[Long, Seq[JobRecorder#Job]]): Seq[Span] =
    ops.filter(_.traced).flatMap { o =>
      val opSpan = Span(s"op-${o.id}", "", o.name, o.startMs, o.endMs,
        Map("wall_ms" -> o.wallMs, "step" -> o.step.toDouble, "ok" -> (if (o.ok) 1.0 else 0.0),
          "gc_ms" -> o.gcMs.toDouble) ++ o.fs.map { case (k, v) => s"fs.$k" -> v.toDouble } ++ o.extra)
      opSpan +: jobs.getOrElse(o.id, Nil).map { j =>
        Span(s"job-${j.id}", s"op-${o.id}", "spark.job", j.start, j.end,
          Map("tasks" -> j.tasks.get.toDouble, "cpu_ms" -> j.cpuNs.get / 1e6,
            "input_bytes" -> j.inputBytes.get.toDouble,
            "records_read" -> j.recordsRead.get.toDouble,
            "shuffle_bytes" -> j.shuffleBytes.get.toDouble))
      }
    }

  def spansJson(spans: Seq[Span]): String =
    spans.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Report.num(v)}""" }
        .mkString(",")
      s"""{"id":"${s.id}","parent":"${s.parent}","name":"${s.name}","start_ms":${s.start},""" +
        s""""end_ms":${s.end},"attrs":{$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")

  /** Spark's codegen compile time so far (ms), estimated from
    * `CodegenMetrics`' compilation-time histogram as count × mean (the
    * histogram keeps a decaying sample, not a running sum). */
  def codegenCompileMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
}
