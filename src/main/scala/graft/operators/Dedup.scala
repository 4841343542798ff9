package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
  * (BASELINE.json north star).
  *
  * Scale architecture: every variant avoids the O(n²) all-pairs join.
  * Candidate generation goes through an equi-join on a bucket key
  * (band hash / simhash chunk / hyperplane bucket) that Spark executes
  * as a shuffle hash join on that key, then only candidate pairs pay
  * the exact similarity verification. At 100 TB the bucket join's key
  * cardinality grows with the data, so partitions stay balanced; the
  * only skew risk is a degenerate bucket (e.g. empty docs), which the
  * shingle guard filters out up front.
  */
object Dedup {

  /** Fan a skinny input out to full parallelism before a CPU-heavy
    * per-row kernel. A small parquet file arrives as ONE input split,
    * which would run hash/shingle kernels on a single core. Decided
    * from plan statistics (`df.rdd` would force an extra physical
    * planning of the subtree just to read a partition count): inputs
    * under the spread cap repartition round-robin — ~free at that size
    * — and big inputs, which already carry ≥ cores splits, pass
    * through untouched. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (graft.store.Partitioner.estimatedBytes(df) < (256L << 20)) df.repartition(target)
    else df
  }

  // ------------------------------------------------------------- exact

  /** Exact dedup: keep the smallest id per identical text. One hash
    * aggregate, shuffling only (key-hash, id) after map-side partial
    * min — never the full payload. Group on a 128-bit fingerprint of
    * the text rather than the text itself so shuffle rows stay tiny
    * even for MB-sized documents. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__fp")

  // ------------------------------------------------------ line-level dedup

  /** Line/paragraph-level corpus dedup (the RefinedWeb/C4 recipe): a
    * line that appears in `minDocFreq`-or-more DISTINCT documents is
    * boilerplate (cookie banners, nav text, license footers) and is
    * removed from EVERY document; each document is then reassembled
    * from its surviving lines in original order. This is the
    * between-document transform — in-document repetition is
    * [[graft.operators.TextAnalysis.repetition]]'s job, so a line
    * repeated only inside one document is kept.
    *
    * Scale shape: documents split per-row (posexplode keeps the
    * original position); the cross-corpus work shuffles only
    * (md5(line), doc_id) — a 128-bit key, never the line text — for
    * the distinct-doc count, and the verdict joins back on the same
    * skinny key. Reassembly is one groupBy(doc) with an array_sort on
    * the (pos, line) structs, so collect order cannot perturb the
    * output. No corpus-sized collect anywhere; the line-frequency
    * table is line-vocabulary-sized.
    *
    * Returns (idCol, n_lines, n_kept, textCol) with the cleaned text
    * joined by `joinSep`. Documents whose every line was boilerplate
    * come back with empty text and n_kept = 0 — dropping them is a
    * length filter's decision, not this operator's. */
  /** Corpus-size threshold (plan-stats bytes) above which [[lineDedup]]
    * switches to the payload-light plan: below it, documents are small
    * enough that the classic two-exchange plan's fixed cost wins
    * (measured at sf0.1: 0.6 s vs 0.8 s); above it, shuffling the text
    * twice is the dominant cost and only the 128-bit keys move
    * (guide §2.3/§8). Both plans produce identical rows. */
  val LineDedupSkinnyBytes: Long = 1L << 30

  def lineDedup(df: DataFrame,
                sepRegex: String = "\\.\\s+",
                joinSep: String = ". ",
                minDocFreq: Int = 2,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    if (graft.store.Partitioner.estimatedBytes(df) <= LineDedupSkinnyBytes) {
      // small corpus: the two text-bearing exchanges are cheaper than
      // the skinny plan's extra join at this size
      val lines = df
        .select(col(idCol), posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "line")))
        .withColumn("key", md5(col("line")))
      val lineDf = lines.groupBy(col("key"))
        .agg(countDistinct(col(idCol)).as("df"))
        .filter(col("df") >= minDocFreq)
      val verdicts = lines.join(lineDf.select(col("key"), lit(true).as("__dup")),
        Seq("key"), "left")
      return verdicts
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_lines"),
          count(when(col("__dup").isNull, 1)).as("n_kept"),
          array_join(
            transform(
              array_sort(collect_list(when(col("__dup").isNull,
                struct(col("pos"), col("line"))))),
              s => s.getField("line")),
            joinSep).as(textCol))
    }
    // Large corpus — shuffle keys, not payloads (guide §2.3/§8): the
    // duplicate decision needs only (id, pos, md5); the line TEXT never
    // enters an exchange. The per-doc dropped POSITIONS come back as a
    // skinny table and each document rebuilds its kept text locally
    // from one re-split of its own row.
    val skinny = df
      .select(col(idCol), posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"), md5(col("line")).as("key"))
    val dupKeys = skinny.groupBy(col("key"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDocFreq)
      .select(col("key"), lit(true).as("__dup"))
    val dropPos = skinny.join(dupKeys, Seq("key"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("__dup").isNull, 1)).as("n_kept"),
        sort_array(collect_list(when(col("__dup").isNotNull, col("pos"))))
          .as("__drop"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol))
      .join(dropPos, Seq(idCol))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        array_join(
          filter(split(col(textCol), sepRegex),
            (l, i) => !array_contains(col("__drop"), i)),
          joinSep).as(textCol))
  }

  // ---------------------------------------------------------- shingles

  /** Word k-gram shingles of the normalized text (native expression —
    * evaluates the tokenization exactly once per row). */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.expressions.shingle_set(
      TextAnalysis.tokens(TextAnalysis.normalize(text)), k)

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(a) + size(b) - size(array_intersect(a, b))
    when(uni === 0, 0.0).otherwise(inter / uni.cast("double"))
  }

  /** Exact-Jaccard verification of a candidate pair set (guide §8:
    * decide with skinny id pairs, move heavy shingle payloads once).
    * The candidate pairs are cached (ids only), the corpus is
    * tokenized ONCE and semi-join-pruned to candidate docs, and that
    * candidates-sized shingle frame is cached and joined to both pair
    * ends. The straightforward plan re-tokenized the corpus for EACH
    * side of the verify join and carried full-corpus shingle payloads
    * into both joins; here only candidate docs' shingles exist past
    * the one tokenize pass. Caches are plan-lifetime — the one-shot
    * operator contract [[graft.operators.DedupIndex.probeMinhashIndex]]
    * documents. */
  /** Corpus-size threshold (plan-stats bytes) above which the verify
    * stage localizes: below it, the classic direct-join plan's lower
    * stage count wins (the lineDedup lesson — extra semi-join + cache
    * stages cost more than two extra tokenize passes over a small
    * corpus); above it, re-tokenizing the corpus per join side is the
    * dominant cost and only candidate docs' shingles survive the one
    * tokenize pass. Both plans produce identical rows. */
  val VerifyLocalizeBytes: Long = 1L << 30

  private def verifiedJaccard(candidates: DataFrame, df: DataFrame,
                              threshold: Double, shingleK: Int,
                              textCol: String, idCol: String,
                              localize: Option[Boolean] = None): DataFrame = {
    val withShOf = () => spread(df)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh"))
    val big = localize.getOrElse(
      graft.store.Partitioner.estimatedBytes(df) > VerifyLocalizeBytes)
    val (pairs, candSh) =
      if (!big) (candidates, withShOf())
      else {
        val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val cached = candidates.persist(mem)
        val ids = cached.select(col("id_a").as("id"))
          .unionByName(cached.select(col("id_b").as("id"))).distinct()
        (cached, withShOf().join(ids, Seq("id"), "left_semi").persist(mem))
      }
    pairs
      .join(candSh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(candSh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------- n-gram Jaccard join

  /** Exact n-gram Jaccard similarity join: all pairs with jaccard ≥
    * threshold, via PPJoin-style PREFIX FILTERING.
    *
    * Prefix principle: order every shingle set by one global order
    * (frequency ascending — rarest first); if J(A,B) ≥ τ then A and B
    * share a shingle within their first |X| − ⌈τ·|X|⌉ + 1 elements
    * (valid because the required overlap ⌈τ/(1+τ)·(|A|+|B|)⌉ ≥ ⌈τ·|X|⌉
    * for both sides of any qualifying pair). So the candidate join
    * indexes ONLY those prefixes — and because the order is
    * rarest-first, the hot shingles that would dominate a plain
    * inverted-index self-join sit outside most prefixes. Candidates
    * then pay one exact jaccard verification.
    *
    * Shuffles: shingle-frequency count, per-doc prefix ranking (by id),
    * prefix self-join (by shingle), verification joins — all on
    * high-cardinality keys. At 100 TB this is the standard similarity-
    * join shape; a positional filter (PPJoin+) would cut candidates
    * further without changing the plan. */
  def ngramJaccardPairs(df: DataFrame,
                        threshold: Double,
                        k: Int = 3,
                        textCol: String = "text",
                        idCol: String = "doc_id",
                        usePrefixFilter: Option[Boolean] = None): DataFrame = {
    // The prefix filter pays 3 extra stages (frequency count, per-doc
    // ranking, prefix projection) to shrink the candidate join — a win
    // once the inverted index is big enough that hot-shingle pairs
    // dominate; below ~1 GB of input the plain intersection-count join
    // is faster. Auto-pick from plan-size statistics.
    val big = usePrefixFilter.getOrElse(
      graft.store.Partitioner.estimatedBytes(df) > (1L << 30))
    if (big) ngramJaccardPrefix(df, threshold, k, textCol, idCol)
    else ngramJaccardPlain(df, threshold, k, textCol, idCol)
  }

  /** Plain inverted-index form: |A∩B| falls out of the index directly —
    * joining it with itself on the shingle yields one row per SHARED
    * shingle, so a count per (id_a, id_b) IS the intersection size; no
    * per-pair array materialization. */
  private def ngramJaccardPlain(df: DataFrame, threshold: Double, k: Int,
                                textCol: String, idCol: String): DataFrame = {
    val withSh = spread(df).select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
    val sizes = withSh.select(col("id"), size(col("sh")).as("n"))
    val inv = withSh.select(col("id"), explode(col("sh")).as("shingle"))
    val interCounts = inv.as("a").join(inv.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    interCounts
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("n_a") + col("n_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  private def ngramJaccardPrefix(df: DataFrame, threshold: Double, k: Int,
                                 textCol: String, idCol: String): DataFrame = {
    val withSh = spread(df).select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
    val inv = withSh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("shingle"))

    val freq = inv.groupBy("shingle").agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("freq"), col("shingle"))
    val prefix = inv.join(freq, "shingle")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("id"), col("n"), col("pos"), col("shingle"))

    // PPJoin+ positional filter: per candidate pair, the true overlap
    // is bounded by (shared prefix tokens) + min(tokens after the last
    // shared prefix position on either side); pairs whose bound can't
    // reach the required overlap o ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉ never reach
    // verification. Pure aggregation over the prefix join — no extra
    // shuffle beyond the groupBy the dedup needed anyway.
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"),
        first(col("a.n")).as("n_a"), first(col("b.n")).as("n_b"),
        max(col("a.pos")).as("maxp_a"), max(col("b.pos")).as("maxp_b"))
      .withColumn("ubound", col("shared") +
        least(col("n_a") - col("maxp_a"), col("n_b") - col("maxp_b")))
      // ε guard: when τ/(1+τ)·(|A|+|B|) is exactly integral, float
      // round-up error could push ceil one too high and silently drop a
      // pair whose Jaccard equals the threshold exactly.
      .withColumn("min_overlap",
        ceil(lit(threshold) / (1.0 + threshold) * (col("n_a") + col("n_b")) - lit(1e-9)))
      .filter(col("ubound") >= col("min_overlap"))
      .select(col("id_a"), col("id_b"))

    verifiedJaccard(candidates, df, threshold, k, textCol, idCol)
  }

  // ------------------------------------------------------- MinHash LSH

  /** MinHash signatures: k independent permutations approximated by a
    * seeded 64-bit hash per shingle; signature entry i is the min hash
    * under seed i. Computed per-row by a native expression (one loop
    * over shingles × seeds) — zero shuffle, unlike the explode +
    * k-column-aggregate formulation it replaced. */
  def minhashSignature(df: DataFrame,
                       numHashes: Int,
                       shingleK: Int = 3,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.expressions.minhash_signature(
        shingles(col(textCol), shingleK), numHashes).as("sig"))

  /** MinHash+LSH near-dup pairs: band the signature (bands × rowsPerBand
    * = numHashes), bucket-join on (band index, band hash), verify exact
    * Jaccard on the candidates. With b=16, r=4 the probability of
    * missing a pair at jaccard 0.8 is (1-0.8⁴)¹⁶ ≈ 2·10⁻⁴.
    *
    * The band join is the scale path: shuffle keys are (band, hash) —
    * uniformly distributed by construction — and only same-bucket pairs
    * are ever materialized. */
  def minhashLshPairs(df: DataFrame,
                      threshold: Double,
                      numHashes: Int = 64,
                      bands: Int = 16,
                      shingleK: Int = 3,
                      textCol: String = "text",
                      idCol: String = "doc_id",
                      localizeVerify: Option[Boolean] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = spread(df).select(col(idCol).as("id"),
        posexplode(graft.functions.expressions.minhash_bands(
          shingles(col(textCol), shingleK), numHashes, bands)).as(Seq("band", "bh")))

    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    verifiedJaccard(candidates, df, threshold, shingleK, textCol, idCol,
      localizeVerify)
  }

  // ----------------------------------------------------------- SimHash

  /** 64-bit SimHash: per token-hash bit, sum +1/-1 across the document,
    * take signs. Native per-row expression: one pass over the tokens
    * (the 64-aggregate column formulation traversed the token array 64
    * times per document). */
  def simhash(text: Column): Column =
    graft.functions.expressions.simhash64(
      TextAnalysis.tokens(TextAnalysis.normalize(text)))

  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a Hamming radius.
    *
    * Candidate generation adapts to the radius:
    *  - radius < 4: plain pigeonhole — split the 64-bit hash into
    *    (radius+1) chunks; a pair within `radius` flips agrees exactly
    *    on ≥1 chunk, so an equi-join per chunk finds all candidates.
    *  - radius ≥ 4: HmSearch-style MULTI-INDEX (Zhang et al., public
    *    literature). Plain pigeonhole at radius 6 leaves 9-bit chunks
    *    (512-value keyspace — collisions grow with n²/512, a scale
    *    hazard), and widening the signature doesn't help because the
    *    Hamming distance of a pair scales WITH the signature width.
    *    Instead: m = radius/2 + 1 chunks (any ≤ radius pair has a
    *    chunk with ≤ 1 flipped bit, since all chunks ≥ 2 would need
    *    ≥ 2m > radius flips), and the lower-id side probes with every
    *    1-bit variant of each chunk key. radius 6 → 4 chunks × 16-bit
    *    keys: keyspace 2¹⁶ (128× plain pigeonhole), candidate volume
    *    n·m exact keys joined against n·m·(width+1) probe keys — both
    *    uniform, no hot buckets.
    *
    * `verifyJaccard = Some(τ)` makes SimHash the CANDIDATE stage of a
    * verified pipeline (the production shape): Hamming-close pairs pay
    * an exact shingle-Jaccard check and only ≥ τ pairs are emitted —
    * output becomes (id_a, id_b, jaccard), hash-independent, and
    * therefore oracle-checkable against exhaustive Jaccard SQL when the
    * radius surfaces every qualifying pair of the dataset. */
  def simhashPairs(df: DataFrame,
                   radius: Int = 3,
                   textCol: String = "text",
                   idCol: String = "doc_id",
                   verifyJaccard: Option[Double] = None,
                   shingleK: Int = 3,
                   useMultiIndex: Option[Boolean] = None,
                   localizeVerify: Option[Boolean] = None): DataFrame = {
    val multiIndex = useMultiIndex.getOrElse(radius >= 4)
    val chunks = if (multiIndex) radius / 2 + 1 else radius + 1
    val width = 64 / chunks
    // skinny (id, 1 long) signature cache above the localize threshold:
    // the exact and probe key subtrees would otherwise each re-tokenize
    // the corpus (§5 reuse — 16 bytes/doc, not a payload cache); below
    // it the cache stage costs more than the second tokenize
    val sh0 = spread(df).select(col(idCol).as("id"), simhash(col(textCol)).as("sim"))
    val sh =
      if (localizeVerify.getOrElse(
          graft.store.Partitioner.estimatedBytes(df) > VerifyLocalizeBytes))
        sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sh0
    val exact = sh.select(col("id"), col("sim"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("sim"), c * width)
            .bitwiseAND(lit((1L << width) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sim"), col("bk.chunk").as("chunk"), col("bk.key").as("key"))
    // probe side: the chunk key itself plus (multi-index only) its
    // 1-bit variants — covers the ≤1-flip chunk the pigeonhole
    // argument guarantees, in either flip direction
    val probe =
      if (!multiIndex) exact
      else exact.select(col("id"), col("sim"), col("chunk"),
        explode(array((0 to width).map { i =>
          if (i == 0) col("key")
          else col("key").bitwiseXOR(lit(1L << (i - 1)))
        }: _*)).as("key"))
    // Hamming predicate INSIDE the join: candidates that fail the
    // radius never reach the distinct, shrinking the distinct's
    // shuffle from O(collisions) to O(true pairs).
    val within = probe.as("a").join(exact.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id") &&
          hamming64(col("a.sim"), col("b.sim")) <= radius)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
    verifyJaccard match {
      case None => within
      case Some(tau) =>
        verifiedJaccard(within.select(col("id_a"), col("id_b")), df, tau,
          shingleK, textCol, idCol, localizeVerify)
    }
  }

  /** 128-bit SimHash signature (array of two longs — see
    * Kernels.simhash128). */
  def simhash128(text: Column): Column =
    graft.functions.expressions.simhash128(
      TextAnalysis.tokens(TextAnalysis.normalize(text)))

  /** Hamming distance between two 128-bit signatures (array<long> of 2). */
  def hamming128(a: Column, b: Column): Column =
    bit_count(element_at(a, 1).bitwiseXOR(element_at(b, 1))) +
      bit_count(element_at(a, 2).bitwiseXOR(element_at(b, 2)))

  /** SimHash near-dup pairs over 128-bit signatures — the scale-honest
    * variant of [[simhashPairs]]. Doubling the signature width doubles
    * the expected Hamming distance of UNRELATED pairs (≈64, σ≈5.7)
    * while a near-dup pair's distance stays proportional to its
    * changed-token share, so the dup/background margin in σ units
    * widens (radius 15 of 128 sits 8.6σ below background; radius 6 of
    * 64 sat 6.5σ) and a larger radius is affordable before collision
    * buckets blow up. Measured against the recall-guaranteed PPJoin
    * pair set at sf0.1 (tools/SimhashRadiusProbe): radius 15 covers
    * 309/311 qualifying Jaccard ≥ 0.5 pairs vs 299/311 for 64-bit
    * radius 6; the tail is boundary pairs whose SimHash distance (16,
    * 24) no scale-safe radius reaches — the recall contract stays
    * explicit and `minhashLshPairs` remains the guaranteed operator.
    *
    * Candidate generation is the same HmSearch multi-index as the
    * 64-bit path, with the chunk layout generalized to the two-long
    * signature: m = radius/2 + 1 chunks laid out so NO chunk straddles
    * the long boundary (key extraction stays one shift+mask per chunk);
    * widths split 64/⌈m/2⌉ ≈ 128/m — at the default radius 15, 8
    * chunks of exactly 16 bits: keyspace 2¹⁶ per chunk, uniform keys,
    * no hot buckets. The probe side expands each chunk key to its
    * 1-bit variants (pigeonhole: ≤ radius total flips across m chunks
    * leaves some chunk with ≤ 1 flip). Probe volume is n·Σ(wᵢ+1) =
    * n·136 rows of (id, chunk, key) — skinny, uniform, linear in n. */
  def simhashPairs128(df: DataFrame,
                      radius: Int = 15,
                      textCol: String = "text",
                      idCol: String = "doc_id",
                      verifyJaccard: Option[Double] = None,
                      shingleK: Int = 3,
                      useMultiIndex: Option[Boolean] = None,
                      localizeVerify: Option[Boolean] = None): DataFrame = {
    val multiIndex = useMultiIndex.getOrElse(radius >= 4)
    val m = if (multiIndex) radius / 2 + 1 else radius + 1
    require(m >= 2, "need at least two chunks")
    // chunk layout over [s0, s1]: no chunk straddles the long boundary
    final case class Chunk(id: Int, elem: Int, off: Int, w: Int)
    def widths(cnt: Int): Seq[Int] =
      if (cnt == 0) Seq.empty
      else {
        val base = 64 / cnt; val rem = 64 % cnt
        (0 until cnt).map(i => base + (if (i < rem) 1 else 0))
      }
    val in0 = (m + 1) / 2
    val layout: Seq[Chunk] = {
      val w0 = widths(in0); val w1 = widths(m - in0)
      val c0 = w0.scanLeft(0)(_ + _).zip(w0).zipWithIndex.map {
        case ((off, w), i) => Chunk(i, 1, off, w)
      }
      val c1 = w1.scanLeft(0)(_ + _).zip(w1).zipWithIndex.map {
        case ((off, w), i) => Chunk(in0 + i, 2, off, w)
      }
      c0 ++ c1
    }
    def key(c: Chunk): Column =
      shiftrightunsigned(element_at(col("sim"), c.elem), c.off)
        .bitwiseAND(lit(if (c.w >= 64) -1L else (1L << c.w) - 1))
    // skinny (id, 2 longs) signature cache above the localize threshold
    // — same §5 reuse rule as the 64-bit operator
    val sh0 = spread(df).select(col(idCol).as("id"), simhash128(col(textCol)).as("sim"))
    val sh =
      if (localizeVerify.getOrElse(
          graft.store.Partitioner.estimatedBytes(df) > VerifyLocalizeBytes))
        sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sh0
    val exact = sh.select(col("id"), col("sim"),
      explode(array(layout.map(c =>
        struct(lit(c.id).as("chunk"), key(c).as("key"))): _*)).as("bk"))
      .select(col("id"), col("sim"), col("bk.chunk").as("chunk"), col("bk.key").as("key"))
    val probe =
      if (!multiIndex) exact
      else sh.select(col("id"), col("sim"),
        explode(array(layout.flatMap(c =>
          (0 to c.w).map { i =>
            val k = if (i == 0) key(c) else key(c).bitwiseXOR(lit(1L << (i - 1)))
            struct(lit(c.id).as("chunk"), k.as("key"))
          }): _*)).as("bk"))
        .select(col("id"), col("sim"), col("bk.chunk").as("chunk"), col("bk.key").as("key"))
    val within = probe.as("a").join(exact.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id") &&
          hamming128(col("a.sim"), col("b.sim")) <= radius)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming128(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
    verifyJaccard match {
      case None => within
      case Some(tau) =>
        verifiedJaccard(within.select(col("id_a"), col("id_b")), df, tau,
          shingleK, textCol, idCol, localizeVerify)
    }
  }

  // --------------------------------------------- cross-corpus overlap

  /** Benchmark decontamination: documents of corpus `a` (training
    * candidates) sharing ≥ `minShared` distinct word n-grams with any
    * document of corpus `b` (the eval/benchmark set). Inverted-index
    * join on the gram — the shuffle key is the gram itself
    * (high-cardinality), each side ships (id, gram) rows only, and the
    * count per (id_a, id_b) IS the intersection size (shingles are
    * per-doc distinct). At 100 TB the benchmark side is small: the
    * gram join broadcasts it and the training corpus streams once. */
  /** `broadcastB = true` (default) declares the b side dimension-sized
    * (decontamination's benchmark corpus is, by definition) and pins a
    * broadcast-hash join on the exploded grams: the TRAIN side streams
    * map-side with NO shuffle — at 100 TB the difference between a
    * full-corpus gram shuffle and a scan. Statistics after an explode
    * over-estimate enough that the planner cannot be trusted to pick
    * this on its own. Pass false when b is genuinely large (the join
    * reverts to a shuffled equi-join on uniform gram keys). */
  def crossCorpusOverlap(a: DataFrame, b: DataFrame,
                         n: Int = 8,
                         minShared: Int = 1,
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         broadcastB: Boolean = true): DataFrame = {
    val ga = spread(a).select(col(idCol).as("id_a"),
      explode(shingles(col(textCol), n)).as("gram"))
    val gb = spread(b).select(col(idCol).as("id_b"),
      explode(shingles(col(textCol), n)).as("gram"))
    ga.join(if (broadcastB) broadcast(gb) else gb, "gram")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Benchmark decontamination as a TRANSFORM: the training corpus
    * minus every document sharing ≥ `minShared` n-gram shingles with
    * the benchmark side — [[crossCorpusOverlap]]'s detection turned
    * into the removal a pipeline actually ships. One anti-join on the
    * detected ids; the benchmark side stays broadcastable. */
  def decontaminate(corpus: DataFrame,
                    benchmark: DataFrame,
                    n: Int = 8,
                    minShared: Int = 1,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val hits = crossCorpusOverlap(corpus, benchmark, n, minShared, textCol, idCol)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------- cluster assembly

  /** Connected components over an undirected near-dup pair list —
    * the step that turns pairwise similarity output into DEDUP
    * CLUSTERS (keep one representative per component, not per pair:
    * A~B, B~C must collapse A,B,C together even when A~C was never
    * emitted). Returns (id, cluster) with cluster = min member id.
    *
    * Adaptive execution, decided by ONE pass over the pair pipeline:
    *  - ≤ `maxLocalEdges` pairs (the common case — near-dup pairs are
    *    a tiny fraction of the corpus): `take` hands the driver the
    *    full edge list in the same job that produced it, and a local
    *    union-find labels it in microseconds — no per-iteration Spark
    *    jobs whose fixed overhead dwarfs the data at this size.
    *  - bigger: Pregel-style min-label propagation as DataFrame
    *    iterations — each round every node takes the min label among
    *    itself and its neighbors (one join + one aggregate shuffled on
    *    node id), converging in ≤ component-diameter rounds; label
    *    tables persist per round with O(1) lineage (the k-means
    *    lesson) and a single isEmpty convergence probe. */
  def connectedComponents(pairs: DataFrame,
                          maxIter: Int = 25,
                          idACol: String = "id_a",
                          idBCol: String = "id_b",
                          maxLocalEdges: Int = 1000000): DataFrame = {
    val spark0 = pairs.sparkSession
    if (maxLocalEdges > 0) {
      // persist + count + collect: ONE full materialization of the
      // (possibly expensive) candidate pipeline. The obvious
      // alternatives both measured worse at sf0.1: take(limit+1)
      // triggers AQE's incremental-limit ramp (pipeline re-executes
      // over growing partition subsets — 4.1 s vs 1.6 s), and
      // limit(limit+1).persist forces a global single-partition limit
      // that degrades the whole candidate plan (18 s). The cost when
      // the edge list EXCEEDS maxLocalEdges is one skinny (two-long)
      // materialization before the distributed loop — callers that
      // know their pair set is huge should pass maxLocalEdges = 0 to
      // skip the probe entirely.
      val skinny = pairs.select(col(idACol).cast("long"), col(idBCol).cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = skinny.count()
      val local = if (n <= maxLocalEdges) skinny.collect() else Array.empty[Row]
      skinny.unpersist(blocking = false)
      if (n <= maxLocalEdges) {
        import spark0.implicits._
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        local.foreach { e =>
          val (a, b) = (e.getLong(0), e.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val rows = parent.keys.toSeq.map(id => (id, find(id))).sorted
        return rows.toDF("id", "cluster")
      }
      // fell through: too many edges for the driver — distributed loop
      // (the bounded probe above cost one truncated pass; the loop
      // below re-derives edges from the full pair plan)
    }
    // both orientations from ONE pass over the pair subplan — a union
    // of two selects would execute the (possibly expensive) candidate
    // pipeline once per branch
    val edges = pairs.select(explode(array(
        struct(col(idACol).as("src"), col(idBCol).as("dst")),
        struct(col(idBCol).as("src"), col(idACol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).persist()
    var it = 0
    var converged = edges.isEmpty
    while (!converged && it < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      // localCheckpoint, not persist: each round's LOGICAL plan embeds
      // the previous round's twice (the join + the convergence check),
      // so without truncation the plan tree doubles per round — at
      // real chain diameter (~20 rounds) the driver OOMs just
      // STRINGIFYING the plan, long before any data problem. The
      // eager checkpoint materializes the round (the convergence check
      // needed that anyway) and resets lineage to O(1). Deliberate
      // trades: truncated lineage is unrecoverable on executor loss
      // (persist would recompute — into the plan blowup, a
      // deterministic failure; prefer the probabilistic one), and old
      // label blocks are freed by ContextCleaner when the superseded
      // round's RDD is GC'd, not eagerly (labels are two longs per
      // node — small relative to the edge set).
      val updated = labels.as("l")
        .join(nbrMin, col("l.id") === nbrMin("src"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("nlabel"), col("l.label"))).as("label"))
        .localCheckpoint(true)
      converged = updated.as("u").join(labels.as("o"), Seq("id"))
        .filter(col("u.label") < col("o.label")).isEmpty
      labels.unpersist(blocking = false)
      labels = updated
      it += 1
    }
    edges.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
        "a component's diameter exceeds the bound; raise maxIter " +
        "(returning partial labels would silently split real clusters)")
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Canonical-representative selection per near-dup cluster: given
    * verified near-dup pairs, keep exactly ONE document per connected
    * component — the highest-`score` member, ties to the smallest id.
    * This is the production curation choice (keep the BEST copy, not
    * the first-crawled one — the min-id keep that `pipeline_curation`
    * ships biases toward whatever was ingested first). Documents with
    * no near-dup pair are their own cluster and always survive.
    *
    * Scale shape: component labels come from [[connectedComponents]]
    * (bounded driver union-find with a distributed fallback); the
    * selection itself is one shuffle on the cluster key (window rank),
    * with the score computed per row before the shuffle. Returns
    * (cluster, idCol, n_members, score) — one row per kept doc. */
  def selectCanonical(df: DataFrame,
                      pairs: DataFrame,
                      score: Column,
                      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val labeled = df
      .join(comp, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .withColumn("__score", score)
    val byCluster = Window.partitionBy(col("cluster"))
    labeled
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("__rn", row_number().over(
        byCluster.orderBy(col("__score").desc, col(idCol))))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col(idCol), col("n_members"),
        col("__score").as("score"))
  }

  /** Generic pigeonhole Hamming-pair join over any 64-bit signature
    * column (id, h) — the candidate machinery behind SimHash, reusable
    * for other per-row signatures (image aHash, audio fingerprints).
    * The hash splits into radius+1 chunks; a pair within `radius`
    * flips agrees exactly on ≥ 1 chunk (pigeonhole), so per-chunk
    * equi-joins surface EVERY qualifying pair — recall is certain, and
    * the shuffle keys are uniform hash chunks. Candidates pay one
    * bit_count verify. For radius ≥ 4 prefer the HmSearch multi-index
    * ([[simhashPairs]]) — chunk keyspaces below ~10 bits collide as
    * n²/2^bits at corpus scale. */
  /** (id, h, chunk, key) rows for an even `chunks`-way split of a
    * 64-bit signature — the candidate keys behind [[hammingPairs]] and
    * the persisted [[DedupIndex.HammingIndex]]. */
  private[operators] def hammingChunked(hashes: DataFrame, chunks: Int,
                                        idCol: String, hashCol: String): DataFrame = {
    val base = spread(hashes).select(col(idCol).cast("long").as("id"),
      col(hashCol).cast("long").as("h"))
    val width = 64 / chunks
    base.select(col("id"), col("h"),
      posexplode(array((0 until chunks).map { c =>
        val w = if (c == chunks - 1) 64 - width * c else width
        shiftrightunsigned(col("h"), width * c)
          .bitwiseAND(lit(if (w == 64) -1L else (1L << w) - 1))
      }: _*)).as(Seq("chunk", "key")))
  }

  def hammingPairs(hashes: DataFrame,
                   radius: Int,
                   idCol: String = "id",
                   hashCol: String = "h"): DataFrame = {
    require(radius >= 0 && radius < 4,
      s"hammingPairs: radius $radius outside [0,3] — use the HmSearch multi-index beyond")
    val keyed = hammingChunked(hashes, radius + 1, idCol, hashCol)
    val candidates = keyed.as("a").join(keyed.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.h").as("h_a"), col("b.h").as("h_b"))
      .distinct()
    candidates
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= radius)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Typo-level fuzzy dedup: all pairs within Levenshtein distance
    * `maxDist` — the edit-distance member of the near-dup family
    * (PassJoin-style, public literature: Li, Deng, Feng 2011). Each
    * string splits into maxDist+1 even segments; if ed(a,b) ≤ d then
    * some segment of the SHORTER string is untouched by every edit and
    * appears verbatim in the longer one within ±d of its home position
    * (pigeonhole over edits + position drift bound). So: index side
    * emits its d+1 segments keyed by (segment#, length, content); probe
    * side emits the substrings of a at the segment geometry of every
    * candidate shorter length l' ∈ [l−d, l] shifted by ±d — equi-join
    * on content keys, then one native `levenshtein` verify per
    * candidate. No length bucket scans, no cartesian: the join keys
    * are content-uniform and the probe fan-out is the constant
    * (d+1)²·(2d+1). Join keys are 64-bit xxhash64 of the segment (a
    * collision only adds a verified-away candidate), so the candidate
    * shuffle carries 3 longs/row regardless of string length. Strings
    * shorter than maxDist+1 chars are excluded (their segments would
    * be empty; they'd match everything anyway). Returns (id_a, id_b,
    * dist) with id_a < id_b. Skew honesty: a segment shared verbatim
    * by k strings (boilerplate) produces a k² candidate bucket — run
    * exact dedup first (the curation-pipeline order) so identical
    * texts never reach the segment join. */
  def editDistancePairs(docs: DataFrame,
                        maxDist: Int,
                        idCol: String = "id",
                        textCol: String = "text"): DataFrame = {
    require(maxDist >= 1 && maxDist <= 4,
      s"editDistancePairs: maxDist $maxDist outside [1,4] — beyond that the " +
        "probe fan-out and verify cost outgrow a segment-filter design")
    val d = maxDist
    val nSeg = d + 1
    val base = spread(docs)
      .select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t"))
      .withColumn("l", length(col("t")))
      .filter(col("l") > d)
    // index side: the d+1 segments of each string's own geometry
    val segs = base
      .select(col("id"), col("t"), col("l"), explode(sequence(lit(0), lit(d))).as("j"))
      .withColumn("start", expr(s"(j * l) div $nSeg"))
      .withColumn("seglen", expr(s"((j + 1) * l) div $nSeg - start"))
      .select(col("id").as("id_b"), col("l").as("lb"), col("j"),
        // join on a 64-bit hash of the segment, not the segment text:
        // segments grow with string length (len/(d+1) chars) and would
        // dominate the candidate shuffle at corpus scale; a hash
        // collision only adds a candidate the levenshtein verify drops
        xxhash64(expr("substring(t, start + 1, seglen)")).as("seg"))
    // probe side: substrings of a at segment geometry of every candidate
    // shorter-or-equal length, shifted by [-d, d]; invalid positions drop
    val probes = base
      .select(col("id"), col("t"), col("l"),
        explode(sequence(lit(0), lit(d))).as("j"))
      .withColumn("dl", explode(sequence(lit(0), lit(d))))
      .withColumn("lp", col("l") - col("dl"))
      .filter(col("lp") > d)
      .withColumn("start", expr(s"(j * lp) div $nSeg"))
      .withColumn("seglen", expr(s"((j + 1) * lp) div $nSeg - start"))
      .withColumn("shift", explode(sequence(lit(-d), lit(d))))
      .withColumn("p", col("start") + col("shift"))
      .filter(col("p") >= 0 && col("p") + col("seglen") <= col("l"))
      .select(col("id").as("id_a"), col("lp"), col("j"),
        xxhash64(expr("substring(t, p + 1, seglen)")).as("seg"))
      .distinct()
    val candidates = probes.join(segs,
        probes("lp") === segs("lb") && probes("j") === segs("j") &&
          probes("seg") === segs("seg") && probes("id_a") =!= segs("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    val t = base.select(col("id"), col("t"))
    candidates
      .join(t.as("ta"), col("id_a") === col("ta.id"))
      .join(t.as("tb"), col("id_b") === col("tb.id"))
      .withColumn("dist", levenshtein(col("ta.t"), col("tb.t")).cast("long"))
      .filter(col("dist") <= d)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Substring-duplication detection (public literature: winnowing,
    * Schleimer et al.; dedup motivation per Lee et al. "Deduplicating
    * Training Data"): pairs of documents sharing ≥ `minShared`
    * winnowed k-gram fingerprints — catches copy-paste overlap between
    * otherwise-different documents, which whole-document Jaccard and
    * MinHash dilute away. One fingerprint pass per row (native
    * kernel), then a fingerprint-keyed equi-join. Fingerprints
    * appearing in more than `maxDocFreq` documents are dropped FIRST —
    * a ubiquitous fingerprint (boilerplate) contributes df² candidate
    * pairs and no dedup signal; the cap is part of the operator
    * contract, not an approximation knob (pairs sharing only
    * boilerplate are exactly the pairs the operator should NOT emit).
    * Returns (id_a, id_b, n_shared) with id_a < id_b. */
  def substringDuplicationPairs(docs: DataFrame,
                                minShared: Int = 5,
                                maxDocFreq: Int = 50,
                                k: Int = 5,
                                w: Int = 4,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    require(minShared >= 1 && maxDocFreq >= 2)
    val fps = spread(docs).select(col(idCol).cast("long").as("id"),
      explode(graft.functions.expressions.winnow_fp_set(
        TextAnalysis.tokens(TextAnalysis.normalize(col(textCol))), k, w)).as("fp"))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("fp")
    val pruned = fps.join(rare, Seq("fp"), "left_semi")
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_shared"))
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Near-duplicate pairs by embedding cosine ≥ threshold — the same
    * band/bucket/verify shape as MinHash LSH: multi-band hyperplane
    * signatures (OR-amplified for recall) generate candidates through
    * an equi-join on (band, signature), then only candidates pay the
    * exact cosine verification. Shuffle keys are uniform sign-patterns,
    * and the banded join ships (id, band, sig) rows only — vectors
    * rejoin at verification — so the candidate stage stays skinny at
    * 100 TB. `exhaustive=true` is the O(n²) all-pairs form, kept ONLY
    * as a recall reference for tests — never in a shipped plan.
    *
    * `lshBits = 0` (default) sizes the signature from plan statistics
    * (`Similarity.sizedBits`) so bucket occupancy stays bounded as the
    * corpus grows. Recall at the near-dup thresholds this operator is
    * for (τ ≥ 0.9 ⇒ per-hyperplane agreement ≥ 0.857, and ≥ 0.98 for
    * the ≈1.0-cosine pairs dedup actually hunts) stays ≈1.0 over the
    * whole sized range with 8 OR-amplified bands — see the recall test
    * in OperatorsSpec and the occupancy table in PLANS.md. */
  def embeddingCosinePairs(df: DataFrame,
                           threshold: Double,
                           vecCol: String = "embedding",
                           idCol: String = "vec_id",
                           exhaustive: Boolean = false,
                           lshBits: Int = 0,
                           lshBands: Int = 8): DataFrame = {
    val base = spread(df).select(col(idCol).as("id"), col(vecCol).as("v"))
    val sizedB = if (lshBits > 0) lshBits else Similarity.sizedBits(df)
    if (exhaustive) {
      base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          graft.functions.expressions.cosine_sim(col("a.v"), col("b.v")).as("cos"))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"))
    } else {
      val banded = base.select(col("id"),
        posexplode(graft.functions.expressions.hyperplane_bands(
          col("v"), sizedB, lshBands)).as(Seq("band", "bh")))
      val candidates = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      candidates
        .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
        .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
        .withColumn("cos", graft.functions.expressions.cosine_sim(col("v_a"), col("v_b")))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"))
    }
  }

  // ----------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023, public
    * literature): k-means partitions the embedding space and pairwise
    * cosine runs only WITHIN clusters — cost O(Σ|cluster|²) instead of
    * O(n²), with cluster sizes bounded by the quantizer. This is the
    * alternative candidate stage to the hyperplane-LSH of
    * [[embeddingCosinePairs]]: clustering concentrates semantically
    * similar vectors so the within-cluster quadratic term stays small
    * and the per-cluster work is an embarrassingly parallel equi-join
    * on `cid`.
    *
    * `nassign` (default 2) assigns each vector to its nassign nearest
    * centroids for CANDIDATE generation — the OR-amplification
    * analogue: a qualifying pair near a cluster boundary is found if
    * the two assignment sets intersect anywhere. Approximation
    * contract (the published method's trade-off): a qualifying pair
    * whose assignment sets are disjoint is missed; raising `nassign`
    * trades candidate volume for recall. Verification is exact cosine
    * on candidates only.
    *
    * Plan shape: centroids are a driver-held table → per-point
    * top-nassign cids from the `nearest_centroids` kernel (a narrow
    * map) → cid equi-join candidates (skinny, ids only) → vectors
    * rejoin for the exact verify. */
  def semanticDedupPairs(df: DataFrame,
                         threshold: Double,
                         nClusters: Int = 16,
                         nassign: Int = 2,
                         kmeansIters: Int = 2,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nClusters <= 0 → size the cluster count from the corpus so CELLS
    // stay bounded (~256 ids each): within-cell pair cost is O(Σ|c|²),
    // so a FIXED cluster count grows pairs quadratically with corpus —
    // at 10× data that is 100× pairs, the one curve that cannot ship
    // at 100 TB. Bounded cells make pair cost linear in corpus at
    // constant dup-rate (SemDeDup's published recipe sizes k with the
    // corpus for the same reason). Recall argument is nassign's, not
    // k's: cos≥threshold twins rank centroids near-identically, so
    // multi-assignment keeps sharing a cell at any k — the exhaustive
    // oracle pins this on the verify corpus.
    val k =
      if (nClusters > 0) nClusters
      else math.max(16, math.ceil(df.count() / 256.0).toInt)
    // the quantizer is driver-held, so the per-point top-nassign is the
    // per-row `nearest_centroids` kernel, ranked (ccos desc, cid asc) —
    // no ×k cross-join explosion and no window shuffle (guide §2.4)
    val cents = Similarity.kmeansCentroidsLocal(df, k, kmeansIters, vecCol, idCol)
    val base = spread(df).select(col(idCol).as("id"), col(vecCol).as("v"))
    val assigned = base.select(col("id"),
      explode(graft.functions.expressions.nearest_centroids(col("v"), cents, nassign))
        .as("cid"))
    val candidates = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", graft.functions.expressions.cosine_sim(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Incremental SEMANTIC dedup probe — the embedding twin of
    * [[DedupIndex.probeMinhashIndex]]: near-dup pairs between a NEW
    * batch of vectors and the corpus behind a PERSISTED IVF index
    * (built once, maintained by `Similarity.appendToIvfIndex` in
    * O(new vectors)). Each new vector probes its `nprobe` nearest
    * lists only — cost O(batch × probed lists), the corpus never
    * re-scans — and pairs at cosine ≥ threshold are emitted as
    * (indexed_id, new_id, cos). `k` caps reported duplicates per new
    * vector (a real ingest wants "is this a dup and of what", not an
    * unbounded pair list). Recall contract: a qualifying pair is found
    * iff the indexed twin's list is among the probe's nprobe nearest —
    * the near-1-cosine pairs dedup hunts rank their twin's centroid
    * like the twin does, the same containment argument
    * `ann_ivf_search`'s oracle pins. */
  def semanticProbePairs(index: Similarity.IvfIndex,
                         newVecs: DataFrame,
                         threshold: Double,
                         nprobe: Int = 8,
                         k: Int = 20,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): DataFrame =
    Similarity.ivfSearch(index, newVecs, k, nprobe, vecCol, idCol)
      .filter(col("cos") >= threshold)
      .select(col("nbr_id").as("indexed_id"), col("query_id").as("new_id"),
        round(col("cos"), 6).as("cos"))

  /** Semantic dedup DROP LIST — the full SemDeDup semantics: connected
    * components over the semantic pair graph; every non-representative
    * member reports the (min-id) representative that keeps its place.
    * `df.join(drops, df(idCol) === drops("drop_id"), "left_anti")` is
    * the deduplicated corpus. */
  def semanticDedup(df: DataFrame,
                    threshold: Double,
                    nClusters: Int = 16,
                    nassign: Int = 2,
                    kmeansIters: Int = 2,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame =
    connectedComponents(
        semanticDedupPairs(df, threshold, nClusters, nassign, kmeansIters, vecCol, idCol))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("drop_id"), col("cluster").as("kept_id"))
}
