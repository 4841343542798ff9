package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators and the expectations the output checks use.
  *
  * Everything here is plain Spark or plain Scala: the library under test
  * only ever receives the frames these functions return, and the
  * expected results are computed without it.
  */
object Data {

  /** Order-independent checksum of a set of rows: (row count, sum of a
    * 40-bit slice of each row's xxhash64). 40 bits keep the sum of a few
    * million rows inside a Long, so ANSI overflow checks never fire. */
  final case class Sum(count: Long, hash: Long) {
    def +(o: Sum): Sum = Sum(count + o.count, hash + o.hash)
  }
  object Sum { val Zero: Sum = Sum(0L, 0L) }

  def rowHash(cols: Seq[String]): Column =
    shiftrightunsigned(xxhash64(cols.map(col): _*), 24)

  def sumOf(df: DataFrame, cols: Seq[String]): Sum = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(cols)), lit(0L))).head()
    Sum(r.getLong(0), r.getLong(1))
  }

  /** Checksums of `df` over `cols` per value of the long `key`. */
  def groupSums(df: DataFrame, key: Column, cols: Seq[String]): Map[Long, Sum] =
    df.groupBy(key.as("k")).agg(count(lit(1)), sum(rowHash(cols)))
      .collect().map(r => r.getLong(0) -> Sum(r.getLong(1), r.getLong(2))).toMap

  /** Checksum of rows already collected (an op's result),
    * evaluated by Spark over a local relation so the hash function is
    * the same one the expectation used. */
  def sumOfRows(spark: SparkSession, rows: Array[Row], schema: StructType,
                cols: Seq[String]): Sum =
    if (rows.isEmpty) Sum.Zero
    else sumOf(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), cols)

  // ------------------------------------------------------------ lineitem

  /** A TPC-H-shaped lineitem stream: `RowsPerDay` rows for every ship
    * day, four lines per order, order keys a seeded bijection of the
    * order number (unique, and scattered uniformly, so a point lookup
    * gets no help from the ship-date sort order). Row `id` ships on day
    * `id / RowsPerDay`; a row's values are a pure function of (seed, id,
    * version), so any day's rows can be regenerated, and a re-delivery
    * (version > 0) changes values but keeps the keys. */
  final class Lineitem(spark: SparkSession, seed: Long, val baseDays: Int) {
    val RowsPerDay = 250
    val Day0: Long = java.time.LocalDate.of(1992, 1, 1).toEpochDay
    val Orders: Long = baseDays.toLong * RowsPerDay / 4
    private val KeyMod = 1000000007L // prime: o -> (o*a + b) mod p is a bijection
    private val KeyMul = 1L + math.floorMod(seed * 2654435761L, KeyMod - 1)
    private val KeyAdd = math.floorMod(seed * 40503L, KeyMod)

    /** The order key of order number `o` (rows 4o..4o+3). */
    def orderKey(o: Long): Long = math.floorMod(o * KeyMul + KeyAdd, KeyMod)

    val AllCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
      "l_shipmode", "l_shipdate", "l_comment")
    /** The projection every read asks for (the index column comes back
      * with it, as the store always returns the index). */
    val ReadCols: Seq[String] = Seq("l_orderkey", "l_extendedprice")
    val ReadHashCols: Seq[String] = Seq("l_shipdate", "l_orderkey", "l_extendedprice")

    private def h(id: Column, salt: Int): Column = xxhash64(lit(seed), id, lit(salt))

    /** Rows with ids in [lo, hi) at the given version, lazily. */
    def rows(lo: Long, hi: Long, version: Int = 0): DataFrame = {
      val id = col("id")
      spark.range(lo, hi).select(
        pmod(floor(id / 4) * KeyMul + KeyAdd, lit(KeyMod)).as("l_orderkey"),
        pmod(h(id, 2), lit(200000L)).as("l_partkey"),
        (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
        (pmod(h(id, 3), lit(50L)) + 1 + version).cast("double").as("l_quantity"),
        (pmod(h(id, 4), lit(10000000L)) / 100.0).as("l_extendedprice"),
        (pmod(h(id, 5), lit(11L)) / 100.0).as("l_discount"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(h(id, 6), lit(3L)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK").map(lit): _*),
          (pmod(h(id, 7), lit(7L)) + 1).cast("int")).as("l_shipmode"),
        timestamp_seconds((lit(Day0) + (id / RowsPerDay).cast("long")) * 86400L).as("l_shipdate"),
        concat(lit(s"v$version "), substring(sha2(concat_ws("/", lit(seed), id, lit(version)), 256), 1, 24))
          .as("l_comment"))
    }

    def daysRows(day: Long, days: Int, version: Int = 0): DataFrame =
      rows(day * RowsPerDay, (day + days) * RowsPerDay, version)

    /** A batch as a local relation: what a caller holding freshly
      * received rows hands to `append`. */
    def localBatch(day: Long, days: Int, version: Int): DataFrame = {
      val df = daysRows(day, days, version)
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }

    def dayOf(ts: Column): Column = (unix_seconds(ts) / 86400L).cast("long") - lit(Day0)

    /** Per-day checksums of `df` over `cols`. */
    def byDay(df: DataFrame, cols: Seq[String]): Map[Long, Sum] =
      groupSums(df, dayOf(col("l_shipdate")), cols)

    def instantOfDay(day: Long): java.time.Instant =
      java.time.Instant.ofEpochSecond((Day0 + day) * 86400L)
  }

  // ----------------------------------------------------------- documents

  /** Synthetic documents: `TokensPerDoc` words drawn uniformly from a
    * `Vocab`-word vocabulary. Random documents share almost no word
    * 3-grams, so the only near-duplicates are the ones a probe batch
    * plants on purpose. Text is already normalized (lowercase, single
    * spaces), so word 3-gram sets computed here equal the library's. */
  final class Docs(seed: Long) {
    val Vocab = 5000
    val TokensPerDoc = 40
    val ShingleK = 3

    def word(i: Int): String = "w" + Integer.toString(i, 36)

    def randomDoc(rnd: Random): Array[String] =
      Array.fill(TokensPerDoc)(word(rnd.nextInt(Vocab)))

    def corpus(n: Int): IndexedSeq[Array[String]] = {
      val rnd = new Random(seed * 31 + 7)
      IndexedSeq.fill(n)(randomDoc(rnd))
    }

    /** Near-copy: the source doc with its last word replaced by a word
      * outside the vocabulary, so exactly one 3-gram changes. */
    def nearCopy(doc: Array[String], rnd: Random): Array[String] =
      doc.updated(doc.length - 1, "x" + Integer.toString(rnd.nextInt(1 << 30), 36))

    def shingles(doc: Array[String]): Set[String] =
      doc.sliding(ShingleK).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val uni = a.size + b.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  def docsFrame(spark: SparkSession, ids: Seq[Long], docs: Seq[Array[String]]): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val rows = ids.zip(docs).map { case (i, d) => Row(i, d.mkString(" ")) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  // ---------------------------------------------------------- embeddings

  /** Clustered unit-free vectors: `Clusters` Gaussian centres, each
    * corpus vector a centre plus noise. Query vectors perturb a corpus
    * vector, so their true neighbours concentrate in a few IVF lists. */
  final class Embeddings(seed: Long) {
    val Dim = 32
    val Clusters = 20

    private val centres: Array[Array[Double]] = {
      val rnd = new Random(seed * 17 + 3)
      Array.fill(Clusters)(Array.fill(Dim)(rnd.nextGaussian()))
    }

    def corpus(n: Int): Array[Array[Double]] = {
      val rnd = new Random(seed * 13 + 5)
      Array.fill(n) {
        val c = centres(rnd.nextInt(Clusters))
        c.map(_ + 0.8 * rnd.nextGaussian())
      }
    }

    def perturb(v: Array[Double], rnd: Random): Array[Double] =
      v.map(_ + 0.3 * rnd.nextGaussian())
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def vectorsFrame(spark: SparkSession, ids: Seq[Long], vs: Seq[Array[Double]]): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val rows = ids.zip(vs).map { case (i, v) => Row(i, v.toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
