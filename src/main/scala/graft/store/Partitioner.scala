package graft.store

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, DateType, LongType}

/** Physical-layout policy: how many output files / how rows are
  * distributed across them.
  *
  * Mirrors the reference's two strategies (pystore/partition.py):
  *  - size-based: `ceil(bytes / 128MB)` clamped to [1, maxPartitions]
  *    (partition.py:38-81; 128 MB target, min 32 / max 512 MB,
  *    config.py:25-26) — the same 128 MB that Spark's
  *    `spark.sql.files.maxPartitionBytes` defaults to, so write-side
  *    and read-side split sizes agree.
  *  - time-based: monthly (<1y span), quarterly (<3y), yearly
  *    (partition.py:84-172), picked automatically for datetime-indexed
  *    data with >10k rows (collection.py:272-301), falling back to
  *    size-based when it would exceed maxPartitions.
  *
  * Spark realization: `repartitionByRange(n, col(index))` +
  * `sortWithinPartitions(index)` — one shuffle that yields globally
  * range-ordered output like Dask divisions (SURVEY §2.7 D3), so every
  * part-file covers a disjoint index range and Parquet row-group
  * min/max stats give O(files-touched) time-range scans.
  *
  * Scale note (100 TB): range partitioning keeps time-locality so a
  * day/month query prunes to a few files; `repartitionByRange` samples
  * the index to compute balanced boundaries, which also absorbs skew.
  * At cluster scale the same policy applies per item with n in the
  * thousands; nothing here is driver-bound except the tiny size
  * estimate.
  */
object Partitioner {

  val TargetPartitionBytes: Long = 128L * 1024 * 1024
  val MinPartitionBytes: Long = 32L * 1024 * 1024
  val MaxPartitionBytes: Long = 512L * 1024 * 1024
  val MaxPartitions: Int = 100
  val TimePartitionMinRows: Long = 10000L

  sealed trait Strategy { def name: String }
  case object SizeBased extends Strategy { val name = "size" }
  case object TimeBased extends Strategy { val name = "time" }

  /** Estimated in-memory/serialized size of the frame WITHOUT
    * materializing it (the reference computes `memory_usage(deep)` which
    * forces a full compute — collection.py:438-445; we use Catalyst plan
    * statistics instead, which derive from file sizes + filter
    * selectivity).
    */
  def estimatedBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong

  def sizeBasedCount(bytes: Long): Int = {
    val n = math.ceil(bytes.toDouble / TargetPartitionBytes).toInt
    math.min(math.max(n, 1), MaxPartitions)
  }

  /** Index statistics driving the layout decision. Tracked in the item
    * metadata sidecar so APPEND can decide its layout from
    * driver-side arithmetic (old stats ⊕ new-batch stats) instead of
    * executing the combined dedup plan twice — at 100 TB the combined
    * plan is a full anti-join of the item, so a pre-pass over it doubles
    * the append cost. */
  final case class IndexStats(rows: Long, minMs: Option[Long], maxMs: Option[Long]) {
    def merge(other: IndexStats): IndexStats = IndexStats(
      rows + other.rows,
      (minMs ++ other.minMs).reduceOption(_ min _),
      (maxMs ++ other.maxMs).reduceOption(_ max _))
  }

  def isTemporal(df: DataFrame, indexCol: String): Boolean =
    df.schema.find(_.name == indexCol).exists { f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType ||
        f.dataType == DateType
    }

  /** Epoch millis from any temporal JVM value Spark hands back
    * (TIMESTAMP → java.sql.Timestamp, TIMESTAMP_NTZ → LocalDateTime,
    * DATE → java.sql.Date / LocalDate); NTZ wall time read as UTC. */
  def toEpochMs(v: Any): Long = v match {
    case t: java.sql.Timestamp          => t.getTime
    case ldt: java.time.LocalDateTime   => ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case d: java.sql.Date               => d.getTime
    case ld: java.time.LocalDate        => ld.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    case i: java.time.Instant           => i.toEpochMilli
    case other => throw new IllegalArgumentException(s"not a temporal value: $other")
  }

  /** One aggregate job: count + index min/max (input-only scan). */
  def computeStats(df: DataFrame, indexCol: String): IndexStats = {
    if (!isTemporal(df, indexCol)) IndexStats(df.count(), None, None)
    else {
      val row = df.agg(F.count(F.lit(1)), F.min(F.col(indexCol)), F.max(F.col(indexCol))).head()
      val lo = if (row.isNullAt(1)) None else Some(toEpochMs(row.get(1)))
      val hi = if (row.isNullAt(2)) None else Some(toEpochMs(row.get(2)))
      IndexStats(row.getLong(0), lo, hi)
    }
  }

  /** Partition count for the time strategy from the index span:
    * monthly if < 1 year, quarterly if < 3 years, else yearly
    * (reference partition.py:117-141). None if the index span is
    * unknown or the count would exceed MaxPartitions (fallback to
    * size-based, as the reference does at partition.py:143-151).
    */
  def timeBasedCount(stats: IndexStats): Option[Int] =
    if (stats.rows <= TimePartitionMinRows) None
    else (stats.minMs, stats.maxMs) match {
      case (Some(lo), Some(hi)) =>
        val spanDays = (hi - lo).toDouble / 86400000.0
        val n =
          if (spanDays < 365) math.ceil(spanDays / 30.0).toInt          // monthly
          else if (spanDays < 3 * 365) math.ceil(spanDays / 91.0).toInt // quarterly
          else math.ceil(spanDays / 365.0).toInt                        // yearly
        val clamped = math.max(n, 1)
        if (clamped > MaxPartitions) None else Some(clamped)
      case _ => None
    }

  /** Auto strategy (reference collection.py:272-301): time-series data
    * above the row threshold → time-based; otherwise size-based.
    * `bytes` comes from Catalyst plan statistics — no execution. */
  def decide(bytes: Long, stats: IndexStats): (Int, Strategy) =
    timeBasedCount(stats) match {
      case Some(n) => (n, TimeBased)
      case None    => (sizeBasedCount(bytes), SizeBased)
    }

  /** Apply a chosen layout: range-partition on the index and sort
    * within partitions so the on-disk files are globally index-ordered.
    */
  def apply(df: DataFrame, indexCols: Seq[String], n: Int): DataFrame = {
    val sortable = indexCols.filter(c => df.columns.contains(c))
    if (sortable.isEmpty) df.repartition(n)
    else df.repartitionByRange(n, sortable.map(F.col): _*)
      .sortWithinPartitions(sortable.map(F.col): _*)
  }

  // ------------------------------------------------ bounds-path layout
  // `repartitionByRange` learns its boundaries by SAMPLING: an extra
  // execution of the whole child plan (every column decoded; for an
  // append, the dedup subtree's reduce side re-run) before the real
  // exchange reads it again. When the boundaries can be computed on
  // the driver from a quantile sketch riding the SAME narrow
  // aggregation that already computes the layout stats (guide §1.4),
  // the exchange becomes a plain hash repartition on a carrier value
  // chosen so every bucket owns exactly one shuffle partition — same
  // file count, same per-file disjoint index ranges, same low-to-high
  // file order, no sampling pass.

  /** Resolution of the quantile cuts collected by [[planFlat]]; any
    * n ≤ [[MaxBoundsPartitions]] derives its n−1 boundaries from them. */
  val BoundsCuts: Int = 256
  val MaxBoundsPartitions: Int = 128
  /** Sketch accuracy for the cut quantiles: bounds only steer file
    * BALANCE (never correctness), so a 0.1%-of-mass error is plenty —
    * the default 10000 costs ~6× the aggregation time for nothing. */
  val BoundsAccuracy: Int = 1000

  /** LONG lift of the index column whose ordering equals the column's
    * Spark sort ordering — the domain the driver-held range bounds live
    * in. None = unsupported dtype (float/string/decimal — NaN ordering
    * and collation make a lifted comparison unsafe) or a TIMESTAMP_NTZ
    * session outside UTC (the NTZ→TZ cast is order-preserving only in
    * a DST-free zone): those writes keep the sampled range exchange. */
  def sortKeyExpr(df: DataFrame, indexCol: String): Option[org.apache.spark.sql.Column] =
    df.schema.find(_.name == indexCol).map(_.dataType).flatMap {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | LongType =>
        Some(F.col(indexCol).cast(LongType))
      case TimestampType => Some(F.unix_micros(F.col(indexCol)))
      case TimestampNTZType
          if df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC") == "UTC" =>
        Some(F.unix_micros(F.col(indexCol).cast(TimestampType)))
      case DateType => Some(F.unix_date(F.col(indexCol)).cast(LongType))
      case _ => None
    }

  final case class FlatPlan(stats: IndexStats, cuts: Option[Seq[Long]])

  /** ONE narrow aggregation job (guide §1.4) carrying BOTH the layout
    * stats (count, plus index min/max when temporal — value-identical
    * to [[computeStats]]) and the fine-grained quantile cuts of the
    * sort key. The scan reads only the index column.
    *
    * Determinism assumption: this is a SEPARATE execution of `df`, so
    * the stats it puts in the sidecar (`_rows`, index min/max) match
    * the written rows only for a deterministic `df`. The write path
    * guarantees that for what it adds itself — `Collection.ensureIndex`
    * persists a synthesized index before any scan, `appendStream`
    * persists each chunk, an append's item side reads pinned files —
    * but a caller frame with non-deterministic expressions (rand, an
    * unseeded sample) must be persisted by the caller first. */
  def planFlat(df: DataFrame, indexCol: String,
               key: Option[org.apache.spark.sql.Column]): FlatPlan = key match {
    case None => FlatPlan(computeStats(df, indexCol), None)
    case Some(k) =>
      val pa = F.percentile_approx(k, cutPercentages, F.lit(BoundsAccuracy))
      if (!isTemporal(df, indexCol)) {
        val row = df.agg(F.count(F.lit(1)), pa).head()
        FlatPlan(IndexStats(row.getLong(0), None, None), cutsOf(row, 1))
      } else {
        val row = df.agg(F.count(F.lit(1)),
          F.min(F.col(indexCol)), F.max(F.col(indexCol)), pa).head()
        val lo = if (row.isNullAt(1)) None else Some(toEpochMs(row.get(1)))
        val hi = if (row.isNullAt(2)) None else Some(toEpochMs(row.get(2)))
        FlatPlan(IndexStats(row.getLong(0), lo, hi), cutsOf(row, 3))
      }
  }

  /** Append planning in ONE narrow job over (item ∪ batch) index
    * values: the BATCH-only stats (count, min/max — value-identical to
    * the old separate computeStats(batch) scan) via conditional
    * aggregates, plus quantile cuts over the UNION — an upper-bound
    * distribution of the combined dedup plan's output (dedup only
    * removes rows), balanced enough for bounds and far cheaper than
    * the sampling pass, which re-executes the dedup plan itself. */
  def planAppend(old: DataFrame, batch: DataFrame, indexCol: String): FlatPlan = {
    val u = old.select(F.col(indexCol).as("__k"), F.lit(false).as("__b"))
      .unionByName(batch.select(F.col(indexCol).as("__k"), F.lit(true).as("__b")))
    sortKeyExpr(u, "__k") match {
      case None => FlatPlan(computeStats(batch, indexCol), None)
      case Some(k) =>
        val pa = F.percentile_approx(k, cutPercentages, F.lit(BoundsAccuracy))
        val nBatch = F.coalesce(
          F.sum(F.when(F.col("__b"), 1L).otherwise(0L)), F.lit(0L))
        val batchK = F.when(F.col("__b"), F.col("__k"))
        if (!isTemporal(batch, indexCol)) {
          val row = u.agg(nBatch, pa).head()
          FlatPlan(IndexStats(row.getLong(0), None, None), cutsOf(row, 1))
        } else {
          val row = u.agg(nBatch, F.min(batchK), F.max(batchK), pa).head()
          val lo = if (row.isNullAt(1)) None else Some(toEpochMs(row.get(1)))
          val hi = if (row.isNullAt(2)) None else Some(toEpochMs(row.get(2)))
          FlatPlan(IndexStats(row.getLong(0), lo, hi), cutsOf(row, 3))
        }
    }
  }

  private def cutPercentages =
    F.typedLit((1 until BoundsCuts).map(_.toDouble / BoundsCuts))

  private def cutsOf(row: org.apache.spark.sql.Row, i: Int): Option[Seq[Long]] =
    if (row.isNullAt(i)) None else Some(row.getSeq[Long](i))

  /** Bucket boundaries for n partitions from the fine cuts: the i/n
    * quantile for i in 1..n−1, deduplicated (a single value owning more
    * than a 1/BoundsCuts mass span collapses adjacent boundaries — the
    * sampled RangePartitioner collapses duplicate candidates the same
    * way, emitting fewer, larger partitions). */
  def boundsFromCuts(cuts: Seq[Long], n: Int): Seq[Long] =
    (1 until n).map { i =>
      val k = math.max(1L, math.min(cuts.size.toLong,
        math.round(i.toDouble * (cuts.size + 1) / n)))
      cuts(k.toInt - 1)
    }.distinct

  /** Carrier values for the collision-free bucket exchange: value
    * carrier(i) Murmur3-hashes (seed 42, pmod b — HashPartitioning's
    * exact partitionIdExpression for an int key) to shuffle partition
    * i, so `repartition(b, carrier(bucket))` gives every bucket its
    * OWN output partition, preserving the one-sorted-range-per-file
    * layout the sampled range exchange produced. */
  private[graft] def carrierValues(b: Int): IndexedSeq[Int] = {
    val out = new Array[Int](b); val seen = new Array[Boolean](b)
    var found = 0; var v = 0
    while (found < b) {
      val h = java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42), b)
      if (!seen(h)) { seen(h) = true; out(h) = v; found += 1 }
      v += 1
    }
    out.toIndexedSeq
  }

  /** Flat layout via driver-held bounds when available (from
    * [[planFlat]]/[[planAppend]]); the sampled [[apply]] otherwise.
    * Bucket assignment `count(bounds < key)` is RangePartitioner's
    * exact rule (nulls → bucket 0, boundary ties go left), so files
    * stay sorted with disjoint index ranges — the D3 invariant. */
  def layout(df: DataFrame, indexCols: Seq[String], n: Int,
             cuts: Option[Seq[Long]]): DataFrame = {
    val sortable = indexCols.filter(c => df.columns.contains(c))
    val keyOpt =
      if (sortable.size == 1 && n > 1 && n <= MaxBoundsPartitions)
        cuts.filter(_.nonEmpty).flatMap(_ => sortKeyExpr(df, sortable.head))
      else None
    keyOpt match {
      case None => apply(df, indexCols, n)
      case Some(k) =>
        val bounds = boundsFromCuts(cuts.get, n)
        val b = bounds.size + 1
        val carriers = carrierValues(b)
        // Chained CASE WHEN, not array filter/aggregate: higher-order
        // functions fall out of whole-stage codegen and run interpreted
        // per row — a 3× map-stage hit measured at sf0.1. Nulls take
        // the FIRST branch (bucket 0), RangePartitioner's null-first
        // rule; boundary ties go left via <=.
        val carrier = bounds.zipWithIndex
          .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
            case (acc, (bd, i)) =>
              val cond =
                if (i == 0) k.isNull || (k <= F.lit(bd)) else k <= F.lit(bd)
              val branch = F.lit(carriers(i))
              Some(acc.fold(F.when(cond, branch))(_.when(cond, branch)))
          }.get.otherwise(F.lit(carriers(b - 1)))
        df.repartition(b, carrier)
          .sortWithinPartitions(sortable.map(F.col): _*)
    }
  }
}
