package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.{DedupIndex, Similarity}
import graft.store.{Collection, Filters, GraftStore}

/** One benchmark workload. `prepare` generates the inputs once per run
  * (not library work, not in set-up time); `build` is the store set-up
  * the run repeats and takes the median of; `step` is one closed-loop
  * step (negative steps are the untimed warm-up, whose first calls are
  * the cold ones). */
trait Workload {
  /** The ops whose per-layer numbers this workload produces. */
  def ops: Seq[String]
  def prepare(): Unit
  def build(store: GraftStore): Unit
  def step(i: Int, r: Runner): Unit
  /** Directories of the items the workload writes (files-per-item). */
  def itemDirs: Seq[Path]
  /** Bytes of the input rows the store holds, written once as snappy
    * Parquet by the generator. */
  def userBytes: Double
  /** Workload-specific end-to-end metrics: name → (value, unit). */
  def metrics(r: Runner): Seq[(String, Double, String)]
  /** Share of expected results returned (1 for exact reads). */
  def resultQuality: Double
}

object Workload {
  val Names: Seq[String] = Seq("ingest", "query", "curate")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload = name match {
    case "ingest" => new Ingest(spark, work, seed)
    case "query"  => new Query(spark, work, seed)
    case "curate" => new Curate(spark, work, seed)
    case other    => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def p50(r: Runner, op: String): Double =
    Stats.median(r.loopOps.filter(o => o.ok && o.name == op).map(_.wallMs))

  /** Rows of a collected result with the frame's schema. */
  final case class Result(rows: Array[Row], schema: StructType)
  def collect(df: DataFrame): Result = Result(df.collect(), df.schema)
}

/** Writes the generated base rows once as snappy Parquet (the input
  * the store is loaded from) and builds the flat and monthly items the
  * `ingest` and `query` workloads share. */
abstract class LineitemWorkload(spark: SparkSession, work: Path, seed: Long, baseDays: Int)
    extends Workload {
  protected val li = new Data.Lineitem(spark, seed, baseDays)
  protected val source: Path = work.resolve("source").resolve("lineitem")
  protected var sourceBytes = 0L
  protected var coll: Collection = _

  def itemDirs: Seq[Path] = Seq("flat", "monthly").map(i => Paths.get(coll.path.resolve(i).raw))

  protected def writeSource(): Unit = {
    li.rows(0L, li.baseDays.toLong * li.RowsPerDay).write.mode("overwrite")
      .option("compression", "snappy").parquet(source.toString)
    sourceBytes = Runner.dataFiles(source).values.sum
  }

  protected def buildItems(store: GraftStore, collection: String): Unit = {
    coll = store.collection(collection)
    val base = spark.read.parquet(source.toString)
    coll.write("flat", base, indexCols = Seq("l_shipdate"))
    coll.write("monthly", base, indexCols = Seq("l_shipdate"), monthlyLayout = true)
  }

  protected def window(day: Long, days: Int): Seq[Filters.Pred] = Seq(
    Filters.Pred("l_shipdate", ">=", li.instantOfDay(day)),
    Filters.Pred("l_shipdate", "<", li.instantOfDay(day + days)))

  protected def sumWindow(byDay: collection.Map[Long, Data.Sum], day: Long, days: Int): Data.Sum =
    (day until day + days).map(d => byDay.getOrElse(d, Data.Sum.Zero)).foldLeft(Data.Sum.Zero)(_ + _)
}

/** `ingest`: deduplicating appends onto a 100k-row flat item (4 batches
  * in 5 are fresh tail days, 1 in 5 re-delivers a stored window with
  * changed values under KeepLast), a read-back of each batch's window,
  * a tail append onto the monthly-layout item, and a manifest snapshot
  * every 10th step. */
final class Ingest(spark: SparkSession, work: Path, seed: Long)
    extends LineitemWorkload(spark, work, seed, baseDays = 400) {
  val ops: Seq[String] = Seq("append", "period_append", "readback")
  val BatchDays = 2 // 500 rows, 0.5% of the item
  val SnapshotEvery = 10

  private var baseByDay: Map[Long, Data.Sum] = Map.empty
  // expectation state, reset by every build
  private val flatByDay = mutable.Map.empty[Long, Data.Sum]
  private var flatNextDay = 0L
  private var monthlySum = Data.Sum.Zero
  private var monthlyNextDay = 0L
  private var rowsCommitted = 0L

  def prepare(): Unit = {
    writeSource()
    baseByDay = li.byDay(spark.read.parquet(source.toString), li.AllCols)
  }

  def build(store: GraftStore): Unit = {
    buildItems(store, "ingest")
    flatByDay.clear(); flatByDay ++= baseByDay
    flatNextDay = li.baseDays.toLong
    monthlySum = baseByDay.values.foldLeft(Data.Sum.Zero)(_ + _)
    monthlyNextDay = li.baseDays.toLong
  }

  private def checkItem(item: String, want: Data.Sum): Long = {
    val got = Data.sumOf(coll.item(item).data, li.AllCols)
    Check.equal(s"$item item (rows, checksum)", got, want)
    got.count
  }

  def step(i: Int, r: Runner): Unit = {
    val rnd = new Random(seed * 1000003L + i)
    val redeliver = rnd.nextInt(5) == 0
    val (day, version) =
      if (redeliver) (rnd.nextLong(flatNextDay - BatchDays), i + 10) // a fresh version > 0
      else (flatNextDay, 0)
    val batch = li.localBatch(day, BatchDays, version)
    val batchByDay = li.byDay(batch, li.AllCols)
    val flatDir = Paths.get(coll.path.resolve("flat").raw)
    r.op("append", Some(flatDir))(coll.append("flat", batch)) { _ =>
      flatByDay ++= batchByDay // KeepLast: the batch replaces its days
      flatNextDay = math.max(flatNextDay, day + BatchDays)
      if (r.inLoop) rowsCommitted += batchByDay.values.map(_.count).sum
      checkItem("flat", flatByDay.values.foldLeft(Data.Sum.Zero)(_ + _))
    }
    r.op("readback")(Workload.collect(coll.item("flat", filters = window(day, BatchDays)).data)) { res =>
      val got = Data.sumOfRows(spark, res.rows, res.schema, li.AllCols)
      Check.equal("readback window (rows, checksum)", got, sumWindow(flatByDay, day, BatchDays))
      got.count
    }
    val mBatch = li.localBatch(monthlyNextDay, BatchDays, 0)
    val mSum = Data.sumOf(mBatch, li.AllCols)
    val monthlyDir = Paths.get(coll.path.resolve("monthly").raw)
    r.op("period_append", Some(monthlyDir))(coll.append("monthly", mBatch)) { _ =>
      monthlySum = monthlySum + mSum
      monthlyNextDay += BatchDays
      if (r.inLoop) rowsCommitted += mSum.count
      checkItem("monthly", monthlySum)
    }
    if (i < 0 || i % SnapshotEvery == 0) {
      val name = if (i < 0) s"warmup${-i}" else s"step$i"
      r.op("snapshot")(coll.createSnapshot(Some(name), manifest = Some(true))) { snap =>
        Check.that(s"snapshot $snap listed", coll.listSnapshots().contains(snap)); 1L
      }
    }
  }

  private def heldRows: Long = flatByDay.values.map(_.count).sum + monthlySum.count

  def userBytes: Double = sourceBytes.toDouble / (li.baseDays.toLong * li.RowsPerDay) * heldRows

  def metrics(r: Runner): Seq[(String, Double, String)] = {
    val appends = r.loopOps.filter(o => o.ok && o.name == "append").map(_.wallMs)
    val loopS = r.loopOps.map(_.wallMs).sum / 1000.0
    Seq(
      ("append_p50_ms", Workload.p50(r, "append"), "ms"),
      ("append_tail_ms", Stats.tail(appends).value, "ms"),
      ("period_append_p50_ms", Workload.p50(r, "period_append"), "ms"),
      ("readback_p50_ms", Workload.p50(r, "readback"), "ms"),
      ("snapshot_p50_ms", Workload.p50(r, "snapshot"), "ms"),
      ("ingest_rows_per_s", rowsCommitted / loopS, "1/s"))
  }

  def resultQuality: Double = 1.0
}

/** `query`: a seeded interleave of four reads with no commits — a 7-day
  * range read of the flat item, the same window on the monthly item via
  * `Item.data` and via SQL on a `USING graft` view, and an `l_orderkey`
  * point lookup served by a bloom index. Windows favour recent days;
  * point keys are uniform. */
final class Query(spark: SparkSession, work: Path, seed: Long)
    extends LineitemWorkload(spark, work, seed, baseDays = 1200) {
  val ops: Seq[String] = Seq("range_read", "period_read", "sql_read", "point_read")
  val WindowDays = 7
  val View = "pb_monthly"

  private val order: Seq[String] = new Random(seed).shuffle(ops)
  // expected (rows, checksum) of every window and point read: plain
  // Spark aggregates over the generator's source Parquet, per ship day
  // and per order key (a read's expectation is the sum over its filter)
  private var byDay: Map[Long, Data.Sum] = Map.empty
  private var byKey: Map[Long, Data.Sum] = Map.empty

  def prepare(): Unit = {
    writeSource()
    val src = spark.read.parquet(source.toString)
    byDay = li.byDay(src, li.ReadHashCols)
    byKey = Data.groupSums(src, org.apache.spark.sql.functions.col("l_orderkey"), li.ReadHashCols)
  }

  def build(store: GraftStore): Unit = {
    buildItems(store, "query")
    coll.buildBloomIndex("flat", Seq("l_orderkey"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $View USING graft " +
      s"OPTIONS (path '${coll.path.resolve("monthly").raw}')")
  }

  private def checked(what: String, want: Data.Sum)(res: Workload.Result): Long = {
    val got = Data.sumOfRows(spark, res.rows, res.schema, li.ReadHashCols)
    Check.equal(s"$what (rows, checksum)", got, want)
    got.count
  }

  private def ts(day: Long): String =
    li.instantOfDay(day).toString.replace("T", " ").stripSuffix("Z")

  def step(i: Int, r: Runner): Unit = {
    val rnd = new Random(seed * 1000003L + i)
    val u = rnd.nextDouble()
    val last = li.baseDays.toLong - WindowDays
    val day = last - (last * u * u).toLong // skewed towards recent days
    val key = li.orderKey((rnd.nextDouble() * li.Orders).toLong)
    val want = sumWindow(byDay, day, WindowDays)
    order.foreach {
      case "range_read" =>
        r.op("range_read")(Workload.collect(coll.item("flat", filters = window(day, WindowDays),
          columns = li.ReadCols).data))(checked("flat window", want))
      case "period_read" =>
        r.op("period_read")(Workload.collect(coll.item("monthly", filters = window(day, WindowDays),
          columns = li.ReadCols).data))(checked("monthly window", want))
      case "sql_read" =>
        r.op("sql_read") {
          val df = spark.sql(s"SELECT l_shipdate, l_orderkey, l_extendedprice FROM $View " +
            s"WHERE l_shipdate >= TIMESTAMP '${ts(day)}' " +
            s"AND l_shipdate < TIMESTAMP '${ts(day + WindowDays)}'")
          val t0 = System.nanoTime()
          val plan = df.queryExecution.executedPlan
          r.note("plan_ms", (System.nanoTime() - t0) / 1e6)
          val res = Workload.collect(df)
          r.note("files_read", Query.filesRead(plan).toDouble)
          res
        }(checked("sql window", want))
      case "point_read" =>
        r.op("point_read")(Workload.collect(coll.item("flat",
          filters = Seq(Filters.Pred("l_orderkey", "==", key)), columns = li.ReadCols).data))(
          checked(s"orderkey $key", byKey(key)))
    }
  }

  def userBytes: Double = 2.0 * sourceBytes // the base rows, held by two items

  def metrics(r: Runner): Seq[(String, Double, String)] = {
    val reads = r.loopOps.filter(o => o.ok && ops.contains(o.name)).map(_.wallMs)
    Seq(
      ("range_read_p50_ms", Workload.p50(r, "range_read"), "ms"),
      ("period_read_p50_ms", Workload.p50(r, "period_read"), "ms"),
      ("point_read_p50_ms", Workload.p50(r, "point_read"), "ms"),
      ("sql_read_p50_ms", Workload.p50(r, "sql_read"), "ms"),
      ("read_tail_ms", Stats.tail(reads).value, "ms"))
  }

  def resultQuality: Double = 1.0
}

object Query {
  /** Distinct files the V2 scans of an executed plan read. */
  def filesRead(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.flatMap {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.map(_.filePath.toString).toSeq
          case _ => Nil
        }
    }.flatten.distinct.size
}

/** `curate`: near-duplicate probes of 50-doc batches against a persisted
  * minhash index (half the batch near-copies of indexed docs, half
  * fresh), and IVF top-10 searches for 10 perturbed query vectors. */
final class Curate(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val ops: Seq[String] = Seq("minhash_probe", "ann_search")
  val CorpusDocs = 5000
  val CorpusVectors = 2000
  val BatchDocs = 50
  val Queries = 10
  val K = 10
  val Threshold = 0.8
  val BatchIdBase = 10000000L
  val QueryIdBase = 1000000000L

  private val docsGen = new Data.Docs(seed)
  private val embGen = new Data.Embeddings(seed)
  private val source = work.resolve("source")
  private var docs: IndexedSeq[Array[String]] = IndexedSeq.empty
  private var shingles: IndexedSeq[Set[String]] = IndexedSeq.empty
  private var postings: Map[String, Array[Int]] = Map.empty
  private var vectors: Array[Array[Double]] = Array.empty
  private var sourceBytes = 0L
  private var coll: Collection = _
  private var mh: DedupIndex.MinhashIndex = _
  private var ivf: Similarity.IvfIndex = _
  private var recallHits = 0L
  private var recallWanted = 0L

  def itemDirs: Seq[Path] =
    coll.listItems().toSeq.sorted.map(i => Paths.get(coll.path.resolve(i).raw))

  def prepare(): Unit = {
    docs = docsGen.corpus(CorpusDocs)
    shingles = docs.map(docsGen.shingles)
    postings = shingles.zipWithIndex.flatMap { case (s, i) => s.toSeq.map(_ -> i) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray }
    vectors = embGen.corpus(CorpusVectors)
    Data.docsFrame(spark, docs.indices.map(_.toLong), docs).write.mode("overwrite")
      .option("compression", "snappy").parquet(source.resolve("documents").toString)
    Data.vectorsFrame(spark, vectors.indices.map(_.toLong), vectors.toSeq).write.mode("overwrite")
      .option("compression", "snappy").parquet(source.resolve("embeddings").toString)
    sourceBytes = Runner.dataFiles(source).values.sum
  }

  def build(store: GraftStore): Unit = {
    coll = store.collection("curate")
    mh = DedupIndex.buildAndSaveMinhashIndex(
      spark.read.parquet(source.resolve("documents").toString), coll, "mh")
    Similarity.buildIvfIndex(spark.read.parquet(source.resolve("embeddings").toString),
      nlist = 16, kmeansIters = 3).save(coll, "emb")
    ivf = Similarity.IvfIndex.load(coll, "emb")
    recallHits = 0L; recallWanted = 0L
  }

  /** Pairs (id_a < id_b) with exact Jaccard ≥ threshold between a batch
    * and the corpus, and within the batch. */
  private def exactPairs(ids: Seq[Long], batch: Seq[Set[String]]): Map[(Long, Long), Double] = {
    val cross = for {
      (b, bid) <- batch.zip(ids)
      ci <- b.toSeq.flatMap(s => postings.getOrElse(s, Array.empty[Int])).distinct
      j = Data.jaccard(shingles(ci), b) if j >= Threshold
    } yield (ci.toLong, bid) -> j
    val within = for {
      x <- batch.indices; y <- batch.indices if x < y
      j = Data.jaccard(batch(x), batch(y)) if j >= Threshold
    } yield (ids(x), ids(y)) -> j
    (cross ++ within).toMap
  }

  def step(i: Int, r: Runner): Unit = {
    val rnd = new Random(seed * 1000003L + i)
    val stepNo = i + 100 // warm-up steps are negative; ids stay distinct
    val ids = (0 until BatchDocs).map(j => BatchIdBase + stepNo.toLong * BatchDocs + j)
    val sources = rnd.shuffle((0 until CorpusDocs).toVector).take(BatchDocs / 2)
    val batch = sources.map(s => docsGen.nearCopy(docs(s), rnd)) ++
      Seq.fill(BatchDocs - BatchDocs / 2)(docsGen.randomDoc(rnd))
    val want = exactPairs(ids, batch.map(docsGen.shingles))
    val batchDf = Data.docsFrame(spark, ids, batch)
    r.op("minhash_probe")(DedupIndex.probeMinhashIndex(mh, batchDf, threshold = Threshold).collect()) { rows =>
      val got = rows.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b")) -> x.getAs[Double]("jaccard")).toMap
      Check.equal("minhash pairs", got.keySet, want.keySet)
      got.foreach { case (p, j) => Check.that(s"jaccard of $p: got $j, exact ${want(p)}",
        math.abs(j - want(p)) < 1e-6) } // the library rounds to 6 places
      rows.length.toLong
    }

    val qIds = (0 until Queries).map(j => QueryIdBase + stepNo.toLong * Queries + j)
    val qs = Seq.fill(Queries)(embGen.perturb(vectors(rnd.nextInt(CorpusVectors)), rnd))
    val qDf = Data.vectorsFrame(spark, qIds, qs)
    r.op("ann_search")(Similarity.ivfSearch(ivf, qDf, k = K, nprobe = 4).collect()) { rows =>
      var hits = 0
      qIds.zip(qs).foreach { case (qid, q) =>
        val res = rows.filter(_.getAs[Long]("query_id") == qid).sortBy(_.getAs[Int]("rank"))
        Check.that(s"query $qid: ranks 1..${res.length}",
          res.map(_.getAs[Int]("rank")).toSeq == (1 to res.length) && res.length <= K)
        res.foreach { x =>
          val exact = Data.cosine(q, vectors(x.getAs[Long]("nbr_id").toInt))
          Check.that(s"query $qid: cosine of ${x.getAs[Long]("nbr_id")}",
            math.abs(x.getAs[Double]("cos") - exact) < 1e-6)
        }
        val truth = vectors.indices.sortBy(v => -Data.cosine(q, vectors(v))).take(K).map(_.toLong).toSet
        hits += res.count(x => truth.contains(x.getAs[Long]("nbr_id")))
      }
      Check.that(s"ann recall@$K ${hits.toDouble / (K * Queries)} below 0.5", hits * 2 >= K * Queries)
      if (r.inLoop) { recallHits += hits; recallWanted += K * Queries }
      rows.length.toLong
    }
  }

  def userBytes: Double = sourceBytes.toDouble

  def metrics(r: Runner): Seq[(String, Double, String)] = Seq(
    ("minhash_probe_p50_ms", Workload.p50(r, "minhash_probe"), "ms"),
    ("ann_search_p50_ms", Workload.p50(r, "ann_search"), "ms"),
    ("ann_recall_at_10", resultQuality, "ratio"))

  def resultQuality: Double = if (recallWanted == 0) 0.0 else recallHits.toDouble / recallWanted
}
