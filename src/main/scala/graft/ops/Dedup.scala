package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-rule
  * additions; none exist in the reference). All are declarative
  * DataFrame transforms — shuffles are keyed so Catalyst plans partial
  * aggregation / AQE-balanced joins, and every per-row kernel is a
  * built-in (xxhash64 / transform / aggregate / zip_with), i.e. fully
  * codegen'd — no UDFs anywhere in the hot paths.
  */
object Dedup {

  /** Exact dedup: one surviving row (minimal id) per exact key.
    * ONE hash-aggregate shuffle with map-side partial agg; at 100 TB this
    * is the optimal plan (no window, no sort, no self-join). */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(min(col(idCol)).as(idCol))

  /** Character shingles of length n as an array column (codegen'd). */
  def shingles(textCol: Column, n: Int): Column =
    expr(s"transform(sequence(1, greatest(length(${textCol}) - ${n - 1}, 1)), i -> substring(${textCol}, i, $n))")

  /** MinHash signature: each shingle is hashed once, the k-th hash family
    * is a remix of that base hash (standard one-hash MinHash
    * construction). Computed by the native codegen'd kernel
    * (graft.functions.MinHashSignature) — Spark never codegens
    * higher-order functions, so the SQL form below runs interpreted with
    * boxed longs; the kernel is the same math in one JVM loop per row. */
  def minhashSignature(textCol: String, numHashes: Int, shingleSize: Int): Column = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    ofExpr(graft.functions.MinHashSignature(toExpr(col(textCol)), shingleSize, numHashes))
  }

  /** SQL reference form of [[minhashSignature]] (parity oracle for the
    * native kernel; see OpsSpec). Shape notes (both measured): the
    * shingle-hash array is bound ONCE via a single-element-array
    * `aggregate` (a let-binding — a plain column alias would be inlined
    * into the per-family lambda by CollapseProject and re-hash every
    * string numHashes times), and the loop nest runs hash families OUTER /
    * shingles INNER so each accumulator is a scalar long. */
  private[graft] def minhashSignatureSql(textCol: String, numHashes: Int, shingleSize: Int): Column =
    expr(
      s"""aggregate(
         |  array(transform(transform(sequence(1, greatest(length($textCol) - ${shingleSize - 1}, 1)),
         |                            i -> substring($textCol, i, $shingleSize)),
         |                  s -> xxhash64(s))),
         |  array_repeat(9223372036854775807L, $numHashes),
         |  (acc, hs) -> transform(sequence(0, ${numHashes - 1}),
         |                 k -> aggregate(hs, 9223372036854775807L,
         |                                (m, h) -> least(m, xxhash64(h, k)))))""".stripMargin)

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: signature → band hashes → self-join on (band, bandHash)
    * buckets (the only shuffle that touches pairs — candidates only, never
    * the O(n²) cross product) → signature-agreement estimate → threshold.
    * Hot buckets (boilerplate text) are the skew risk at scale: bucket
    * join keys are (bandIdx, bandHash) so AQE skew-join splits them.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b. */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 5,
                      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sigs = df.select(col(idCol).as("id"), minhashSignature(textCol, numHashes, shingleSize).as("sig"))
    // Both self-join sides need the banded signatures; Catalyst does NOT
    // reuse the exchange across the aliased sides (verified on the executed
    // plan), so without a cache every signature (O(shingles × numHashes))
    // is computed twice. The operator therefore materializes eagerly:
    // persist the banded signatures, force the (threshold-filtered, small)
    // pair result into a lineage-truncated localCheckpoint, then unpersist
    // — long-lived sessions keep only the result blocks, never the 16×
    // exploded signature cache.
    val banded = sigs.select(
        col("id"), col("sig"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $r + 1, $r), b))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col("band"), col("band_hash"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("id_b"), col("sig").as("sig_b"))
    val pairs = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
          .cast("double") / lit(numHashes)).as("est_jaccard"))
      .groupBy("id_a", "id_b").agg(max("est_jaccard").as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
    try pairs.localCheckpoint(true)
    finally banded.unpersist(false)
  }

  /** MinHash-LSH near-dup pairs with EXACT Jaccard verification — the
    * candidates-then-verify pipeline every production dedup runs, and the
    * oracle-green shape (CORRECTNESS gate q21): LSH banding proposes
    * candidates, each candidate is verified with the EXACT shingle-set
    * Jaccard, so the emitted set equals {pairs : jaccard ≥ threshold}
    * (up to band-recall, below) and a DuckDB oracle recomputes it
    * end-to-end with plain quadratic SQL — no xxhash64 opacity in the
    * OUTPUT semantics. Per-pair candidate probability at true Jaccard j
    * is 1−(1−j^r)^bands (r = numHashes/bands); at the defaults
    * (16 bands × r = 4) that is ≥ 0.9998 for j ≥ 0.8 and < 1 % for the
    * j ≤ 0.2 background, i.e. the banding keeps candidate volume ~linear
    * while recall at near-dup similarity is effectively 1 — choose
    * threshold inside the corpus's similarity gap (background « threshold
    * ≤ planted dups) so borderline-j pairs, where band recall < 1, don't
    * exist. Candidate volume per band is Σ_buckets C(size,2); hot buckets
    * are AQE-skew-split. */
  def minhashLshPairsVerified(df: DataFrame, textCol: String, idCol: String,
                              numHashes: Int = 64, bands: Int = 16,
                              shingleSize: Int = 5,
                              threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sh = df.select(col(idCol).as("id"),
      minhashSignature(textCol, numHashes, shingleSize).as("sig"),
      ofExpr(graft.functions.ShingleHashes(toExpr(col(textCol)), shingleSize)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandKeyRows(sh, bands, r)
    val a = banded.select(col("band"), col("h"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("h"), col("id").as("id_b"))
    // distinct candidate pairs first; the (larger) shingle sets join on
    // AFTER the dedupe so they are never replicated per agreeing band
    val cand = a.join(b, Seq("band", "h")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sets = sh.select(col("id"), col("sh"), size(col("sh")).as("sz"))
    val verified = verifiedJaccard(cand,
      sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")),
      sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")),
      "id_a", "id_b", threshold)
    try verified.localCheckpoint(true)
    finally sh.unpersist(false)
  }

  /** Exact shingle-set Jaccard verification shared by the one-shot
    * ([[minhashLshPairsVerified]]) and incremental ([[dedupAgainstIndex]])
    * pipelines — ONE implementation so the "q21 semantics carry over"
    * guarantee can never drift. |A∩B| runs through the codegen'd
    * IntersectCount kernel (one JVM loop per candidate pair;
    * array_intersect would interpret with boxed longs). Expects
    * `setsA` = (idACol, sh_a, sz_a) and `setsB` = (idBCol, sh_b, sz_b). */
  private def verifiedJaccard(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
                              idACol: String, idBCol: String,
                              threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    val interCol =
      ofExpr(graft.functions.IntersectCount(toExpr(col("sh_a")), toExpr(col("sh_b"))))
    cand.join(setsA, idACol).join(setsB, idBCol)
      .select(col(idACol), col(idBCol), interCol.as("inter"), col("sz_a"), col("sz_b"))
      .select(col(idACol), col(idBCol),
        (col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Band-key explosion shared by the LSH pair finder and the persisted
    * index: (id, band, h) per banded signature slice. The expression must
    * be byte-identical on both sides of an index join — keep every
    * banding consumer on this helper. */
  private def bandKeyRows(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(col("id"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $r + 1, $r), b))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "h")

  /** Persistable MinHash-LSH band index for INCREMENTAL dedup: one
    * (id, band, h) row per band per doc. Build it once over the corpus
    * and persist it (graft-table append or parquet); each arriving batch
    * then dedups against the index via [[dedupAgainstIndex]] without
    * recomputing a single corpus signature — at 100 TB the recurring
    * cost is O(batch) + candidate-pointed corpus reads, not O(corpus).
    * Index size: bands × corpus rows of (id, int, long). */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleSize: Int = 5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    bandKeyRows(
      df.select(col(idCol).as("id"),
        minhashSignature(textCol, numHashes, shingleSize).as("sig")),
      bands, numHashes / bands)
  }

  /** Incremental near-dup detection: which docs in `batch` duplicate the
    * indexed corpus, or each other. Candidates come from two keyed joins
    * — the batch's band keys against the persisted `index` (built by
    * [[minhashIndex]] with the SAME numHashes/bands/shingleSize), and the
    * batch against itself — never a cross product. Every candidate is
    * then verified with the EXACT shingle-set Jaccard, so the output is
    * {(new, match) : jaccard ≥ threshold} up to band recall, exactly the
    * q21 semantics restricted to pairs with a batch member: corpus texts
    * are joined ONLY for candidate ids (a keyed join that at real scale
    * is a pointed, stats-pruned scan of the corpus table, not a pass
    * over it). Returns (id_new, id_match, jaccard); within-batch pairs
    * are oriented id_new < id_match. */
  def dedupAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
                        index: DataFrame,
                        corpus: DataFrame, corpusTextCol: String, corpusIdCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 5,
                        threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sh = batch.select(col(idCol).as("id"),
        minhashSignature(textCol, numHashes, shingleSize).as("sig"),
        ofExpr(graft.functions.ShingleHashes(toExpr(col(textCol)), shingleSize)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandKeyRows(sh, bands, r)
    // materialized once: candBC feeds BOTH the corpus-text candidate join
    // and the verification — without the checkpoint the banded×index join
    // (the op's dominant cost) would execute twice
    val candBC = banded.select(col("band"), col("h"), col("id").as("id_new"))
      .join(index.select(col("band"), col("h"), col("id").as("id_match")), Seq("band", "h"))
      .where(col("id_new") =!= col("id_match")) // re-ingested ids: never self-pair
      .select("id_new", "id_match").distinct()
      .localCheckpoint(true)
    val candBB = banded.select(col("band"), col("h"), col("id").as("id_new"))
      .join(banded.select(col("band"), col("h"), col("id").as("id_match")), Seq("band", "h"))
      .where(col("id_new") < col("id_match"))
      .select("id_new", "id_match").distinct()
    val newSets = sh.select(col("id").as("id_new"), col("sh").as("sh_a"), size(col("sh")).as("sz_a"))
    val batchSets = sh.select(col("id").as("id_match"), col("sh").as("sh_b"), size(col("sh")).as("sz_b"))
    // corpus shingle sets exist only for candidate ids
    val corpusSets = corpus
      .join(candBC.select("id_match").distinct(),
        corpus(corpusIdCol) === col("id_match"))
      .select(col("id_match"),
        ofExpr(graft.functions.ShingleHashes(toExpr(col(corpusTextCol)), shingleSize)).as("sh_b"))
      .withColumn("sz_b", size(col("sh_b")))
    def verify(cand: DataFrame, matchSets: DataFrame): DataFrame =
      verifiedJaccard(cand, newSets, matchSets, "id_new", "id_match", threshold)
    val out = verify(candBC, corpusSets).union(verify(candBB, batchSets))
    try out.localCheckpoint(true)
    finally sh.unpersist(false)
  }

  /** 64-bit SimHash over whitespace tokens (sign of per-bit weight sums),
    * via the native codegen'd kernel (graft.functions.SimHash64). */
  def simhash(textCol: String): Column = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    ofExpr(graft.functions.SimHash64(toExpr(col(textCol))))
  }

  /** SQL reference form of [[simhash]] (parity oracle for the native
    * kernel). Words are hashed ONCE into a bound array
    * (single-element-array let-binding); the round-1 shape re-split and
    * re-hashed the whole text inside every one of the 64 per-bit
    * aggregates. */
  private[graft] def simhashSql(textCol: String): Column =
    expr(
      s"""aggregate(
         |  array(transform(split($textCol, '\\\\s+'), w -> xxhash64(w))),
         |  0L,
         |  (acc, hs) -> aggregate(sequence(0, 63), 0L,
         |    (sh, b) -> sh | IF(aggregate(hs, 0L,
         |                         (c, h) -> c + IF((shiftright(h, b) & 1) = 1, 1L, -1L)) > 0,
         |                       shiftleft(1L, CAST(b AS INT)), 0L)))""".stripMargin)

  /** SimHash near-dup pairs with block-combination keys (the Manku/Jain/
    * Das Sarma WWW'07 near-duplicate scheme, public): the 64-bit simhash
    * splits into `blocks` equal chunks and every combination of
    * m = blocks − maxHamming chunks forms a bucket key. Two hashes within
    * Hamming distance maxHamming differ in ≤ maxHamming chunks, so they
    * agree on at least one m-chunk combination (pigeonhole) — blocking is
    * LOSSLESS for the radius while key entropy is m×(64/blocks) bits.
    *
    * Scale math at the defaults (blocks = 8 → 8-bit chunks, maxHamming = 3
    * → m = 5, C(8,5) = 56 combos of 40-bit keys): ~10^12 distinct buckets,
    * so at 10^10 docs the expected bucket holds ≪ 1 doc and the candidate
    * join never degenerates into bucket² blowups (the round-1 single
    * 16-bit-chunk design had only 65 536 buckets/band ⇒ ~10^5 docs per
    * bucket at that scale). Identical-boilerplate hash clusters remain the
    * skew case; the join keys them by (combo, key) so AQE skew-join splits
    * them. For maxHamming ≥ blocks the combo width clamps to one chunk —
    * recall-oriented approximation (losslessness is impossible there). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, blocks: Int = 8): DataFrame =
    simhashPairsFromHashes(
      df.select(col(idCol).as("id"), simhash(textCol).as("sh")), maxHamming, blocks)

  /** [[simhashPairs]] with MD5 word hashes ([[graft.functions.SimHashMd5]])
    * — same lossless block-combination candidate scheme over a hash DuckDB
    * can rebuild from md5() hex, so the emitted pair set is recomputable
    * by the correctness oracle end-to-end (gate q22). Production keeps the
    * xxhash64 kernel. */
  def simhashPairsMd5(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, blocks: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    simhashPairsFromHashes(
      df.select(col(idCol).as("id"),
        ofExpr(graft.functions.SimHashMd5(toExpr(col(textCol)))).as("sh")),
      maxHamming, blocks)
  }

  private def simhashPairsFromHashes(hashed: DataFrame,
                                     maxHamming: Int, blocks: Int): DataFrame = {
    // blocks == 1 would need a 64-bit mask, where (1L << 64) wraps to 1 —
    // and a single all-bits bucket is a cross join anyway; require real blocking
    require(blocks > 1 && 64 % blocks == 0, "blocks must divide 64 and be > 1")
    val chunkBits = 64 / blocks
    val mask = (1L << chunkBits) - 1
    val m = math.max(1, blocks - maxHamming)
    val combos = (0 until blocks).combinations(m).toSeq
    // compile-time generated key expressions: combo ci packs its m chunks
    // into one long — pure bit arithmetic, fully codegen'd
    val keyArr = combos.zipWithIndex.map { case (combo, ci) =>
      val key = combo.zipWithIndex.map { case (chunk, pos) =>
        s"shiftleft(shiftright(sh, ${chunk * chunkBits}) & ${mask}L, ${pos * chunkBits})"
      }.mkString("(", " | ", ")")
      s"named_struct('cb', $ci, 'k', $key)"
    }.mkString("array(", ", ", ")")
    val banded = hashed.select(col("id"), col("sh"), explode(expr(keyArr)).as("bk"))
      .select(col("id"), col("sh"), col("bk.cb").as("cb"), col("bk.k").as("k"))
    val a = banded.select(col("cb"), col("k"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("cb"), col("k"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("cb", "k"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard pairs via inverted-index join: explode distinct
    * shingles, count co-occurrences per pair, |A∪B| = |A|+|B|−|A∩B|.
    * Cost is Σ bucket², so `maxShingleFreq` drops stop-shingles (the
    * classic scale guard: a shingle in >F docs contributes F² pairs and
    * ~zero discrimination). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 5, threshold: Double = 0.5,
                        maxShingleFreq: Long = 1000L): DataFrame = {
    // distinct shingles as 64-bit hashes from the native kernel: the
    // postings shuffle carries 8-byte keys instead of n-char strings, and
    // intersection counts are unchanged (collisions at 64 bits are
    // negligible at any corpus size this engine targets)
    val sh = {
      import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
      df.select(col(idCol).as("id"),
        ofExpr(graft.functions.ShingleHashes(toExpr(col(textCol)), shingleSize)).as("sh"))
    }
    val sizes = sh.select(col("id"), size(col("sh")).as("sz"))
    val inverted = sh.select(col("id"), explode(col("sh")).as("g"))
    // stop-shingles (>F docs) are found by a map-side-partial groupBy and
    // dropped with an anti join. No forced broadcast: the hot set is
    // usually tiny but its size is data-dependent (a boilerplate-heavy
    // corpus can have millions of stop-shingles), so the join strategy is
    // left to AQE, which broadcasts from RUNTIME size when it fits and
    // falls back to a shuffled join when it does not. NOTE: this relies on
    // spark.sql.adaptive.enabled (Spark's default since 3.2, and set in
    // Bench/tests); with AQE off the static planner may shuffle-sort the
    // postings where a small hot set could have broadcast.
    val hot = inverted.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > maxShingleFreq).select("g")
    val filtered = inverted.join(hot, Seq("g"), "left_anti")
    val co = filtered.as("x").join(filtered.as("y"), Seq("g"))
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count("*").as("inter"))
    co.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Cosine similarity of two array<double> columns via the native
    * codegen'd dot-product kernel — this runs once per CANDIDATE PAIR in
    * ANN scoring and near-dup verification, the innermost loop of the
    * embedding operators. Accumulation order matches the SQL form, so
    * values are bit-identical. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
    def dot(x: Column, y: Column): Column =
      ofExpr(graft.functions.DotProduct(toExpr(x), toExpr(y)))
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** SQL reference form of [[cosine]] (parity oracle for the kernel). */
  private[graft] def cosineSql(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Embedding near-duplicates above a cosine threshold, blocked by
    * random-hyperplane LSH signs with multi-probe: each vector's sign
    * pattern over `planes` deterministic pseudo-gaussian hyperplanes
    * (xxhash64-seeded by dimension index) is its home block; the probe
    * side additionally searches the blocks reached by flipping its
    * lowest-|projection| bits — the least-confident signs, where a true
    * near-duplicate most likely landed across the boundary (standard
    * multi-probe LSH). Candidates are verified with exact cosine.
    *
    * Scale math at the defaults (planes = 20 → 2^20 ≈ 10^6 blocks,
    * probes = 3): at 10^10 docs the expected block holds ~10^4 vectors —
    * candidate pairs per block ~10^8 are bounded and embarrassingly
    * parallel across the 10^6 blocks, vs. the round-1 default (8 planes =
    * 256 blocks ⇒ ~4·10^7 docs/block, a pair explosion). More planes cut
    * block sizes 2× each at a recall cost that multi-probe buys back.
    * For small/oracle use, `exhaustive = true` skips blocking. */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double = 0.95, planes: Int = 20,
                            probes: Int = 3,
                            exhaustive: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    require(probes >= 1 && probes <= planes, "probes must be in [1, planes]")
    if (exhaustive) {
      val a = base.select(col("id").as("id_a"), col("v").as("v_a"))
      val b = base.select(col("id").as("id_b"), col("v").as("v_b"))
      return a.crossJoin(b)
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cos"))
        .where(col("cos") >= threshold)
    }
    // probe q = 0 is the home block; probe q ≥ 1 flips the q-th smallest
    // |projection| bit (native ProbeBlocks kernel — the SQL reference form
    // below recomputes planes × dims interpreted hashes per row).
    val withProbes = {
      import org.apache.spark.sql.graft.Bridge.{ofExpr, toExpr}
      base.withColumn("blocks",
        ofExpr(graft.functions.ProbeBlocks(toExpr(col("v")), planes, probes)))
        .withColumn("block", element_at(col("blocks"), 1))
    }
    // probe side explodes ALL probe blocks, home side keeps the home block;
    // a pair is a candidate when EITHER member probes into the other's home
    // block, so candidates are canonicalized (least, greatest) BEFORE the
    // dedupe — filtering on id_a < id_b straight off the join would silently
    // drop the half of the probe hits where the probing member has the
    // larger id (asymmetric, id-numbering-dependent recall)
    val a = withProbes.select(explode(col("blocks")).as("block"),
      col("id").as("id_p"), col("v").as("v_p"))
    val b = withProbes.select(col("block"), col("id").as("id_h"), col("v").as("v_h"))
    a.join(b, Seq("block"))
      .where(col("id_p") =!= col("id_h"))
      .select(least(col("id_p"), col("id_h")).as("id_a"),
        greatest(col("id_p"), col("id_h")).as("id_b"),
        cosine(col("v_p"), col("v_h")).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(max("cos").as("cos"))
  }

  /** Distributed connected components over a near-duplicate pair graph —
    * the step that turns q21–q24-style PAIRS into dedup CLUSTERS (pick one
    * canonical doc per component, drop the rest). Alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): each round is two keyed
    * groupBy-min + join passes over the edge set, and the edge set
    * contracts toward star graphs rooted at each component's minimum id.
    * Converges in O(log² n) rounds REGARDLESS of component diameter —
    * naive min-label propagation needs O(diameter) rounds and a
    * 10⁶-doc boilerplate chain would run 10⁶ rounds; this runs ~20.
    *
    * Scale shape: a zero-shuffle partition-local union-find pass first
    * collapses every within-partition component to a star on its minimum
    * member (near-dup pair graphs are mostly small dense clusters, so the
    * bulk of the contraction happens here, map-side — and it subsumes the
    * global distinct(): one star edge per non-root node). The iterative
    * rounds then run on the contracted graph: every shuffle is keyed on a
    * node id (partial aggregation applies; a mega-star hub key is
    * AQE-skew-splittable), the edge set only ever shrinks-or-stays, and
    * each round ends in an eager localCheckpoint so the iterative plan
    * never grows (lineage is truncated; old round blocks are GC'd by the
    * ContextCleaner). Convergence is detected by a (count, bit_xor of
    * xxhash64(u,v)) set checksum per round — both sides are distinct
    * sets, so equal checksums mean set equality up to a 2⁻⁶⁴ collision —
    * and confirmed deterministically with a single except() only when the
    * checksum fires, so the expensive set-difference job runs exactly
    * once per call instead of once per round.
    * Driver state: one (count, checksum) pair per round — no data collect.
    *
    * Returns one row per node that appears in `pairs`: (id, cluster) with
    * cluster = min id of the node's component (Catalyst's ordering — the
    * iterative rounds decide the final labels; the local pass only picks
    * deterministic per-partition roots). Isolated docs never appear in a
    * pair input — left-join and coalesce to self on the caller side. Ids
    * may be any orderable type: atomic ids (incl. binary) get the
    * map-side contraction, anything else falls back to a global
    * distinct(); (a,b) orientation is irrelevant. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    val raw = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .where(col("u") =!= col("v"))
    var edges = localContract(raw).localCheckpoint(true)
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var (edgeCount, edgeSum) = checksum(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: per node u over its FULL neighborhood (symmetric view),
      // link every larger neighbor v to m = min(Γ(u) ∪ {u})
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mL = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mL, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star: orient high→low, link every smaller neighbor (and u
      // itself) to the minimum
      val or = ls.select(greatest(col("u"), col("v")).as("u"),
                         least(col("u"), col("v")).as("v"))
      val mS = or.groupBy("u").agg(min("v").as("m"))
      val ss = or.join(mS, "u").select(col("v").as("u"), col("m").as("v"))
        .union(mS.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      val (ssCount, ssSum) = checksum(ss)
      // fixpoint: identical edge SETS (both sides are distinct, so equal
      // count + equal xor-of-hash checksum ⇒ set equality w.h.p.;
      // except() confirms deterministically and runs only on the one
      // round where the checksum matches)
      converged = ssCount == edgeCount && ssSum == edgeSum &&
        ss.except(edges).isEmpty
      edges = ss
      edgeCount = ssCount
      edgeSum = ssSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // at the fixpoint every edge points node → component-min root
    edges.select(col("u").as("id"), col("v").as("cluster"))
      .union(edges.select(col("v").as("id"), col("v").as("cluster")))
      .distinct()
  }

  /** Partition-local union-find contraction for [[connectedComponents]]:
    * collapses every component that is fully visible within one partition
    * to a star on one of its members, emitting one (member, root) edge
    * per non-root node. Runs map-side with zero shuffles, and its output
    * is duplicate-free per partition, replacing the global distinct()
    * over the raw pair list with per-partition dedup (residual
    * cross-partition duplicates and cap-refused pass-through edges are
    * absorbed by round 1's distinct()). Connectivity is preserved: any
    * within-partition path survives via the local root, and
    * cross-partition edges still meet on shared node ids. The root
    * choice only needs to be deterministic — the iterative rounds
    * compute the true component minimum regardless.
    *
    * Two caps keep the pass bounded on adversarial (supercritical)
    * graphs. The node cap bounds executor memory per task (a streamed
    * 128 MB edge partition can hold far more distinct nodes than
    * comfortably fit a map): Long ids intern into an open-addressing
    * primitive table (~24 B/node at load 0.5 → ~100 MB at the 4 M cap);
    * other atomic ids intern boxed (~100+ B/node → the cap drops to 1 M
    * for a similar bound). MaxComp bounds the local component size so a
    * giant component never contracts to a partition-sized mega-hub whose
    * degree would skew every subsequent groupBy/join shuffle. Edges
    * refused by either cap pass through raw. Non-atomic id types (no
    * stable map/ordering semantics worth hand-rolling) skip contraction
    * entirely and get the pre-contraction global distinct(). */
  private val MaxNodesLong = 4 << 20
  private val MaxNodesBoxed = 1 << 20
  private val MaxComp = 1 << 16
  private def localContract(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    edges.schema.head.dataType match {
      case LongType => contractLong(edges)
      case BinaryType =>
        // byte[] has identity equals/hashCode — ByteBuffer wraps give
        // content semantics plus a deterministic (signed-lex) ordering
        contractBoxed(edges,
          x => java.nio.ByteBuffer.wrap(x.asInstanceOf[Array[Byte]]),
          b => b.asInstanceOf[java.nio.ByteBuffer].array())
      case StringType | IntegerType | ShortType | ByteType | BooleanType |
           DoubleType | FloatType | DateType | TimestampType |
           TimestampNTZType | _: DecimalType =>
        contractBoxed(edges, identity, identity)
      case _ => edges.distinct()
    }
  }

  /** Fast path for Long ids: open-addressing long→index table, all
    * union-find state in primitive arrays — no boxing anywhere. */
  private def contractLong(edges: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(edges.schema)
    edges.mapPartitions { it =>
      var cap = 1 << 16 // power of two, load ≤ 0.5
      var keys = new Array[Long](cap)
      var slot = new Array[Int](cap) // -1 = empty, else node index
      java.util.Arrays.fill(slot, -1)
      var nval = new Array[Long](1 << 14) // node index -> id
      var parent = new Array[Int](1 << 14)
      var rank = new Array[Byte](1 << 14)
      var csize = new Array[Int](1 << 14)
      var n = 0
      def pos(x: Long, c: Int): Int = {
        val h = x * -7046029254386353131L // Stafford mix constant
        ((h ^ (h >>> 32)).toInt & (c - 1))
      }
      def grow(): Unit = {
        val nc = cap << 1
        val nk = new Array[Long](nc); val ns = new Array[Int](nc)
        java.util.Arrays.fill(ns, -1)
        var i = 0
        while (i < cap) {
          if (slot(i) >= 0) {
            var j = pos(keys(i), nc)
            while (ns(j) >= 0) j = (j + 1) & (nc - 1)
            nk(j) = keys(i); ns(j) = slot(i)
          }
          i += 1
        }
        cap = nc; keys = nk; slot = ns
      }
      def intern(x: Long): Int = {
        var i = pos(x, cap)
        while (slot(i) >= 0) {
          if (keys(i) == x) return slot(i)
          i = (i + 1) & (cap - 1)
        }
        if (n >= MaxNodesLong) return -1
        if (2 * (n + 1) > cap) { grow(); i = pos(x, cap)
          while (slot(i) >= 0) i = (i + 1) & (cap - 1) }
        keys(i) = x; slot(i) = n
        if (n >= parent.length) {
          nval = java.util.Arrays.copyOf(nval, nval.length << 1)
          parent = java.util.Arrays.copyOf(parent, parent.length << 1)
          rank = java.util.Arrays.copyOf(rank, rank.length << 1)
          csize = java.util.Arrays.copyOf(csize, csize.length << 1)
        }
        nval(n) = x; parent(n) = n; rank(n) = 0; csize(n) = 1
        n += 1; n - 1
      }
      def find(x: Int): Int = {
        var root = x
        while (parent(root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      val passedThrough = it.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else {
          val iu = intern(r.getLong(0)); val iv = intern(r.getLong(1))
          if (iu < 0 || iv < 0) Some(r) // node cap: keep the raw edge
          else {
            val ru = find(iu); val rv = find(iv)
            if (ru == rv) None
            else if (csize(ru) + csize(rv) > MaxComp) Some(r) // hub cap
            else {
              val root = if (rank(ru) < rank(rv)) { parent(ru) = rv; rv }
                else if (rank(ru) > rank(rv)) { parent(rv) = ru; ru }
                else { parent(rv) = ru; rank(ru) = (rank(ru) + 1).toByte; ru }
              csize(root) = csize(ru) + csize(rv)
              None
            }
          }
        }
      }
      // stars emitted after the input drains (Iterator.++ is lazy on the
      // right): root = local min id per component, one edge per non-root
      def stars: Iterator[org.apache.spark.sql.Row] = {
        val minOf = new Array[Int](n)
        java.util.Arrays.fill(minOf, 0, n, -1)
        var i = 0
        while (i < n) {
          val r = find(i)
          if (minOf(r) < 0 || nval(i) < nval(minOf(r))) minOf(r) = i
          i += 1
        }
        (0 until n).iterator.flatMap { j =>
          val m = minOf(find(j))
          if (j == m) None
          else Some(org.apache.spark.sql.Row(nval(j), nval(m)))
        }
      }
      passedThrough ++ stars
    }(enc)
  }

  /** Boxed path for the other atomic id types; `wrap`/`unwrap` adapt ids
    * whose runtime class lacks content equality (byte[] → ByteBuffer). */
  private def contractBoxed(edges: DataFrame, wrap: Any => Any,
                            unwrap: Any => Any): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(edges.schema)
    edges.mapPartitions { it =>
      // int-indexed union-find: one boxed hash lookup per edge endpoint,
      // all parent-chasing in primitive arrays
      val idx = new java.util.HashMap[Any, Integer]()
      val nodes = new java.util.ArrayList[Any]()
      var parent = new Array[Int](1 << 14)
      var rank = new Array[Byte](1 << 14)
      var csize = new Array[Int](1 << 14)
      def intern(x: Any): Int = {
        val e = idx.get(x)
        if (e != null) e.intValue()
        else if (nodes.size() >= MaxNodesBoxed) -1
        else {
          val i = nodes.size()
          idx.put(x, Integer.valueOf(i)); nodes.add(x)
          if (i >= parent.length) {
            parent = java.util.Arrays.copyOf(parent, parent.length << 1)
            rank = java.util.Arrays.copyOf(rank, rank.length << 1)
            csize = java.util.Arrays.copyOf(csize, csize.length << 1)
          }
          parent(i) = i; rank(i) = 0; csize(i) = 1; i
        }
      }
      def find(x: Int): Int = {
        var root = x
        while (parent(root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      val passedThrough = it.flatMap { r =>
        val u = r.get(0); val v = r.get(1)
        if (u == null || v == null) None
        else {
          val iu = intern(wrap(u)); val iv = intern(wrap(v))
          if (iu < 0 || iv < 0) Some(r) // node cap: keep the raw edge
          else {
            val ru = find(iu); val rv = find(iv)
            if (ru == rv) None
            else if (csize(ru) + csize(rv) > MaxComp) Some(r) // hub cap
            else {
              val root = if (rank(ru) < rank(rv)) { parent(ru) = rv; rv }
                else if (rank(ru) > rank(rv)) { parent(rv) = ru; ru }
                else { parent(rv) = ru; rank(ru) = (rank(ru) + 1).toByte; ru }
              csize(root) = csize(ru) + csize(rv)
              None
            }
          }
        }
      }
      // deterministic local root: min under the wrapped type's Comparable
      // (every atomic external type and ByteBuffer implement it)
      def cmp(a: Any, b: Any): Int =
        a.asInstanceOf[Comparable[Any]].compareTo(b)
      def stars: Iterator[org.apache.spark.sql.Row] = {
        val n = nodes.size()
        val minOf = new Array[Int](n)
        java.util.Arrays.fill(minOf, 0, n, -1)
        var i = 0
        while (i < n) {
          val r = find(i)
          if (minOf(r) < 0 || cmp(nodes.get(i), nodes.get(minOf(r))) < 0)
            minOf(r) = i
          i += 1
        }
        (0 until n).iterator.flatMap { j =>
          val m = minOf(find(j))
          if (j == m) None
          else Some(org.apache.spark.sql.Row(unwrap(nodes.get(j)), unwrap(nodes.get(m))))
        }
      }
      passedThrough ++ stars
    }(enc)
  }

  /** SQL reference form of the multi-probe block keys (parity oracle for
    * the ProbeBlocks kernel): same hyperplane weights, bit order and
    * least-confident-bit probes over a `v` array<double> column; probe
    * order is the lexicographic (|projection|, plane) sort, so probe
    * positions are distinct even under ties. */
  private[graft] def probeBlocksSql(planes: Int, probes: Int): Column = {
    val projs =
      s"""transform(sequence(0, ${planes - 1}), p ->
         |  aggregate(zip_with(v, transform(sequence(0, size(v) - 1),
         |                                  i -> CAST(pmod(xxhash64(i, p), 2001) - 1000 AS DOUBLE) / 1000.0D),
         |                     (x, w) -> x * w),
         |            0.0D, (a2, t) -> a2 + t))""".stripMargin
    // struct array sorts lexicographically by (a, p): tied |projections|
    // order by plane index — distinct probe positions
    val order =
      s"""array_sort(transform(sequence(0, ${planes - 1}),
         |  p -> struct(abs(element_at($projs, p + 1)) AS a, p AS p)))""".stripMargin
    expr(
      s"""transform(sequence(0, ${probes - 1}), q ->
         |  aggregate(sequence(0, ${planes - 1}), 0L,
         |            (acc, p) -> acc * 2 + IF(element_at($projs, p + 1) >= 0.0D, 1L, 0L),
         |            blk -> IF(q = 0, blk,
         |              blk ^ shiftleft(1L, ${planes - 1} - element_at($order, q).p))))""".stripMargin)
  }
}
