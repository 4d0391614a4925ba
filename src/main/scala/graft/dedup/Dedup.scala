package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *  - exact / fingerprint dedup: one hash-partitioned groupBy — a single
  *    shuffle on a short digest key, map-side combined.
  *  - MinHash + LSH (banding): shingle → minhash signature (narrow map),
  *    explode to (band, bucket) keys → shuffle groups only colliding docs;
  *    candidate pairs verified by signature similarity. Never an O(n²)
  *    cross join.
  *  - SimHash: 64-bit fingerprint, hamming-ball lookup via 4×16-bit block
  *    keys (pigeonhole: ≤3 bit flips leave ≥1 block intact).
  *  - n-gram Jaccard: exact verification on candidate pairs only.
  */
object Dedup {

  // ---- exact -----------------------------------------------------------

  /** Exact dedup on raw bytes: keep the lowest-id doc per identical text.
    * Hash first so the shuffle key is 16 bytes, not the document.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = md5(col(textCol))
    df.withColumn("__h", h)
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__h")
  }

  /** Near-exact dedup on the normalized fingerprint (case/space/punct
    * insensitive; see TextAnalysis.fingerprint).
    */
  def fingerprintDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("__f", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("__f"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        collect_list(col(idCol)).as("member_ids"))
      .withColumnRenamed("__f", "fingerprint")

  // ---- shingles + minhash ---------------------------------------------

  /** Character n-gram shingle set of the normalized text (distinct).
    * String-materializing variant — use `shingleHashes` in hot paths.
    */
  def shingles(text: Column, n: Int = 5): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    array_distinct(
      transform(sequence(lit(0), greatest(length(norm) - n, lit(0))),
        i => substring(norm, lit(1) + i, lit(n))))
  }

  /** Distinct n-gram HASHES of the normalized text — the single-pass
    * native expression; normalization (lowercase, whitespace collapse) is
    * fused into the same character scan, and shingle strings are never
    * materialized.
    */
  def shingleHashes(text: Column, n: Int = 5): Column =
    graft.functions.HashExprs.shingleHash64(text, n)

  /** Word n-gram shingles (token windows joined by a space). */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** MinHash signature: k permutations approximated by k seeded mixes of
    * one xxhash64 per shingle — a single-pass `minhash_sig` kernel
    * ([[graft.functions.HashKernels.minhashSig]]); the builtin-only formulation would
    * traverse the shingle array k times.
    */
  def minhashSignature(shingleArr: Column, k: Int = 64): Column =
    graft.functions.HashExprs.minhashSig(transform(shingleArr, s => xxhash64(s)), k)

  /** MinHash signature straight from pre-hashed shingles. One-permutation
    * hashing with rotation densification: O(shingles + k) per doc instead
    * of the classic O(shingles × k) k-mix loop, same pairwise collision
    * estimator (classic form stays available as HashExprs.minhashSig).
    */
  def minhashSignatureFromHashes(shingleHashArr: Column, k: Int = 64): Column =
    graft.functions.HashExprs.minhashSigOph(shingleHashArr, k)

  /** LSH banding: split the k-length signature into `bands` bands of
    * `k/bands` rows; each band hashes to one bucket key. Docs sharing ANY
    * (band, bucket) are candidates. Keys are 8-byte longs — the band
    * index is mixed INTO the hash (seed argument) so band b's buckets
    * can't collide with band b''s — not band:hash strings; this shuffle
    * is the hottest in the dedup pipeline.
    */
  def lshBucketKeys(sig: Column, k: Int = 64, bands: Int = 16): Column = {
    val rows = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, slice(sig, b * rows + 1, lit(rows))))
  }

  /** Estimated Jaccard from two signatures: fraction of agreeing slots. */
  def signatureSimilarity(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast(DoubleType) /
      size(sigA)

  /** Distinct candidate id pairs (id_a < id_b) from a (bucket, id)
    * relation: ONE shuffle — groupBy(bucket) with the bounded-collect
    * native aggregate (groups beyond `cap` ids evaluate to NULL and are
    * dropped: an over-shared bucket carries no near-dup signal, and the
    * cap keeps per-group aggregation state O(cap) on both sides of the
    * exchange — no skew bomb from degenerate buckets). Pair expansion is
    * a narrow double-explode over the ≤cap-element arrays; `distinct`
    * then dedups pairs that collide in several bands.
    *
    * Replaces the count-filter + semi-join + self-join formulation, which
    * shuffled the full exploded (bucket, id) relation three times.
    */
  def candidatePairs(buckets: DataFrame, cap: Int): DataFrame = {
    import graft.functions.BoundedCollect.boundedCollectLong
    buckets.groupBy(col("bucket"))
      .agg(boundedCollectLong(col("id"), cap).as("__ids"))
      .filter(col("__ids").isNotNull)
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"),
        explode(filter(col("__ids"), x => x > col("id_a"))).as("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs: returns (id_a, id_b, est_jaccard) with
    * id_a < id_b and est_jaccard ≥ threshold.
    *
    * Plan shape, sized for 100 TB:
    *  1. one narrow pass computes (id, sig); persisted — two consumers;
    *  2. explode to (bucket, id) — 8-byte ids only, signatures do NOT
    *     travel through the bucket shuffle;
    *  3. ONE groupBy(bucket) shuffle with the bounded-collect aggregate
    *     (see candidatePairs) yields distinct candidate pairs; buckets
    *     above `maxBucketSize` are dropped (a bucket shared by hundreds
    *     of docs carries no near-dup signal — standard LSH degeneracy
    *     cap; true near-dups share many bands, so they keep a
    *     discriminative bucket with overwhelming probability);
    *  4. signatures join back onto the deduped pairs (Catalyst/AQE
    *     broadcasts the sig table when small, shuffles on id when not).
    */
  def minhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 5,
      threshold: Double = 0.7,
      maxBucketSize: Int = 100): DataFrame = {
    val withSig = graft.ops.Par.fanOut(df)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignatureFromHashes(col("sh"), k))
      .drop("sh")
      .persist()
    val buckets = withSig
      .select(col("id"), explode(lshBucketKeys(col("sig"), k, bands)).as("bucket"))
    val pairs = candidatePairs(buckets, maxBucketSize)
    pairs
      .join(withSig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(withSig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        signatureSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // ---- incremental (cross-run) minhash dedup ---------------------------

  /** Signature index of a corpus: (id, sig, bucket) exploded per band —
    * the persistent artifact an incremental dedup run joins against. At
    * scale, write it bucketed/partitioned BY `bucket` (Bucketing
    * .writeBucketed) so incremental probes co-locate without a shuffle
    * of the historical index.
    */
  def buildSignatureIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 5,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val raw = graft.ops.Par.fanOut(df)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignatureFromHashes(col("sh"), k))
      .drop("sh")
      .select(col("id"), col("sig"),
        explode(lshBucketKeys(col("sig"), k, bands)).as("bucket"))
    // Degenerate-bucket pruning at BUILD time (one window count on the
    // bucket shuffle the write needs anyway): probe runs then skip the
    // per-run histogram scan over the whole index entirely. A bucket
    // beyond `cap` members carries no near-dup signal — same cap
    // semantics as candidatePairs.
    maxBucketSize match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
        raw.withColumn("__n", count(lit(1)).over(w))
          .filter(col("__n") <= cap)
          .drop("__n")
      case None => raw
    }
  }

  /** Near-dup pairs of a NEW batch against an existing signature index
    * (plus new-vs-new): only the new docs are shingled/hashed; the
    * historical corpus contributes through its index. Pair ids are
    * (new_id, other_id); `other_id` may be historical or new.
    *
    * Scale shape: the new batch is typically orders of magnitude smaller
    * than the index — its exploded buckets broadcast (AQE) or shuffle on
    * the index's bucket layout; the full-corpus signature pass never
    * re-runs.
    */
  def incrementalNearDupPairs(
      newDf: DataFrame,
      index: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 5,
      threshold: Double = 0.7,
      maxBucketSize: Int = 100,
      indexBucketsPrefiltered: Boolean = false): DataFrame = {
    val newIndex = buildSignatureIndex(newDf, textCol, idCol, k, bands, shingleN)
      .persist()
    val newSigs = newIndex.select(col("id"), col("sig")).distinct()
    val oldSigs = index.select(col("id"), col("sig")).distinct()
    // candidates: a new doc shares a bucket with anything (old or new).
    // Degenerate buckets capped on the historical side exactly like the
    // batch path (a bucket shared by >cap docs carries no signal).
    // When the index was built with maxBucketSize (buildSignatureIndex
    // prunes at build time), set indexBucketsPrefiltered to skip the
    // per-probe histogram scan over the whole index.
    val oldBuckets = index.select(col("bucket"), col("id").as("other_id"))
    val newBuckets = newIndex.select(col("bucket"), col("id").as("new_id"))
    val keptOldBuckets =
      if (indexBucketsPrefiltered) oldBuckets
      else {
        val bucketSizes = oldBuckets.groupBy("bucket")
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucketSize)
          .select("bucket")
        oldBuckets.join(bucketSizes, Seq("bucket"))
      }
    val oldCands = newBuckets
      .join(keptOldBuckets, Seq("bucket"))
      .select("new_id", "other_id")
    val newCands = newBuckets
      .join(newBuckets.select(col("bucket"), col("new_id").as("other_id")), Seq("bucket"))
      .filter(col("new_id") < col("other_id"))
      .select("new_id", "other_id")
    val cands = oldCands.unionByName(newCands).distinct()
    val allSigs = oldSigs.unionByName(newSigs)
    cands
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_a")), Seq("new_id"))
      .join(allSigs.select(col("id").as("other_id"), col("sig").as("sig_b")), Seq("other_id"))
      .select(col("new_id"), col("other_id"),
        signatureSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard verification of INCREMENTAL candidates — the
    * cross-run analogue of [[ngramJaccardPairs]]: LSH candidates come
    * from the persisted signature index (est-sim prefiltered at
    * 0.75×threshold inside [[incrementalNearDupPairs]]), then exact
    * Jaccard re-shingles ONLY the candidate docs. `historyDf` supplies
    * the historical texts for the exact tier; at scale that read is
    * candidate-driven (the tiny candidate relation joins into the corpus
    * — broadcast or key-shuffled by AQE), never a full re-shingle.
    */
  def incrementalJaccardPairs(
      newDf: DataFrame,
      historyDf: DataFrame,
      index: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 5,
      threshold: Double = 0.8,
      k: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 100,
      indexBucketsPrefiltered: Boolean = false): DataFrame = {
    val cands = incrementalNearDupPairs(newDf, index, textCol, idCol, k, bands,
      shingleN, threshold * 0.75, maxBucketSize, indexBucketsPrefiltered)
      .select("new_id", "other_id")
    val newTexts = newDf.select(col(idCol).as("id"), col(textCol).as("text"))
    val allTexts = historyDf.select(col(idCol).as("id"), col(textCol).as("text"))
      .unionByName(newTexts)
    cands
      .join(newTexts.select(col("id").as("new_id"), col("text").as("text_a")), Seq("new_id"))
      .join(allTexts.select(col("id").as("other_id"), col("text").as("text_b")), Seq("other_id"))
      .select(col("new_id"), col("other_id"),
        jaccardSorted(shingleHashes(col("text_a"), shingleN),
          shingleHashes(col("text_b"), shingleN)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- simhash ---------------------------------------------------------

  /** 64-bit SimHash over shingle hashes: bit i of the result is 1 iff the
    * majority of shingles have bit i set in their hash. One-pass
    * `simhash64` kernel ([[graft.functions.HashKernels.simhash64]]).
    */
  def simhash(shingleArr: Column): Column =
    graft.functions.HashExprs.simhash64(transform(shingleArr, s => xxhash64(s)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within hamming distance `maxDist`: index each
    * doc under its 4 16-bit blocks; candidates must share a block, then
    * exact hamming verifies.
    *
    * Recall contract: the pigeonhole guarantee (some block untouched) is
    * EXACT only for maxDist ≤ 3 with 4 blocks. Beyond that, recall is
    * heuristic — near-dup text edits flip clustered simhash bits, so real
    * pairs almost always keep a shared block (DedupSpec measures ≥15/20
    * planted recall at maxDist=12) — but an adversarial 4-bit-spread
    * difference can evade. More/smaller blocks would restore the
    * guarantee at the cost of degenerate bucket sizes (8-bit blocks put
    * ~n/256 docs in every bucket — useless past ~25k docs); the verify
    * tier keeps precision exact either way.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 5,
      maxDist: Int = 3,
      maxBlockSize: Int = 100): DataFrame = {
    val withH = graft.ops.Par.fanOut(df)
      .select(col(idCol).as("id"),
        graft.functions.HashExprs.simhash64(shingleHashes(col(textCol), shingleN)).as("h"))
      .persist()
    // block key = (block index ≪ 16) | 16-bit block value — a long, not a
    // "b:hex" string, through the index shuffle
    val blocks = withH.select(col("id"), explode(array((0 until 4).map(b =>
      shiftright(col("h"), b * 16).bitwiseAND(0xFFFFL)
        .bitwiseOR(lit(b.toLong << 16))): _*)).as("bucket"))
    val pairs = candidatePairs(blocks, maxBlockSize)
    pairs
      .join(withH.select(col("id").as("id_a"), col("h").as("h_a")), Seq("id_a"))
      .join(withH.select(col("id").as("id_b"), col("h").as("h_b")), Seq("id_b"))
      .withColumn("dist", hamming(col("h_a"), col("h_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  // ---- exact n-gram jaccard -------------------------------------------

  /** Exact Jaccard similarity of two shingle arrays (general form —
    * builds per-row hash sets; use `jaccardSorted` on `shingle_hash64`
    * output).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni > 0, inter.cast(DoubleType) / uni).otherwise(lit(0.0))
  }

  /** Exact Jaccard of two SORTED+distinct hash arrays: merge-walk
    * intersection (O(n+m), zero allocation), |A∪B| = |A|+|B|−|A∩B|.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.HashExprs.sortedIntersectCount(a, b)
    val uni = size(a) + size(b) - inter
    when(uni > 0, inter.cast(DoubleType) / uni).otherwise(lit(0.0))
  }

  /** Exact n-gram Jaccard over candidate pairs from MinHash LSH — the
    * verify tier: estimated similarity finds candidates cheaply, exact
    * Jaccard (which needs both shingle sets co-located) confirms.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 5,
      threshold: Double = 0.8,
      k: Int = 64,
      bands: Int = 16): DataFrame = {
    val src = graft.ops.Par.fanOut(df)
      .select(col(idCol).as("id"), col(textCol).as("text"))
    // sh → sig in one projection; only the 64-slot sig is persisted. The
    // full shingle arrays (~50× bigger) are NEVER cached or shuffled —
    // the exact tier below re-shingles just the candidate docs.
    val withSig = src
      .select(col("id"), shingleHashes(col("text"), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignatureFromHashes(col("sh"), k))
      .drop("sh")
      .persist()
    val buckets = withSig
      .select(col("id"), explode(lshBucketKeys(col("sig"), k, bands)).as("bucket"))
    val rawPairs = candidatePairs(buckets, cap = 100)
    // est-jaccard pre-filter on the 64-slot signatures (tiny) BEFORE the
    // expensive exact tier — without it every bucket collision drags two
    // full shingle arrays through the join (measured 8× slower)
    val sigs = withSig.select(col("id"), col("sig"))
    // persisted: consumed three times below (directly + twice via candSh);
    // without the pin each consumer re-runs the whole LSH candidate tail
    val cands = rawPairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .filter(signatureSimilarity(col("sig_a"), col("sig_b")) >= threshold * 0.75)
      .select("id_a", "id_b")
      .persist()
    // exact Jaccard over hashed shingle SETS (collision odds ~ m^2/2^64 —
    // indistinguishable from string-set Jaccard). The tiny cands relation
    // broadcasts into two joins against the source texts, and shingles
    // are recomputed inline for just the joined (candidate) rows.
    cands
      .join(src.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(shingleHashes(col("text_a"), shingleN),
          shingleHashes(col("text_b"), shingleN)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Edit-distance VERIFY tier — near-dup pairs at character granularity
    * (the fuzzy title/URL/template-dedup kernel the set-based tiers
    * can't give: Jaccard is order-blind, edit distance is not).
    * Candidate generation is prefix+length blocking: docs sharing
    * (`blockCol`, first-16-chars, a ±1 band of `len div bucketWidth`)
    * pair up; `maxDist ≤ bucketWidth` guarantees any pair within
    * distance also lands within one length bucket, so the band loses
    * nothing the gate could keep (lev ≥ |len_a − len_b|). The verify
    * tier re-joins texts for CANDIDATES only and computes the banded
    * threshold levenshtein (O(len·maxDist), early-exit at Spark's
    * 3-arg builtin) — the two-tier discipline throughout: ids and
    * 16-char prefixes cross the blocking shuffle, texts never do.
    *
    * Prefix blocking bounds recall by construction (an edit inside the
    * first 16 chars escapes); that is this tier's contract — it is the
    * cheap VERIFIER for template/suffix near-dups, while prefix-robust
    * recall belongs to the MinHash tier ([[minhashNearDupPairs]]),
    * whose candidates this same verify applies to unchanged.
    */
  def editVerifyPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, bucketWidth: Int = 64, maxDist: Int = 40): DataFrame = {
    require(maxDist <= bucketWidth,
      "maxDist must be <= bucketWidth so the ±1 bucket band covers it")
    val base = docs.select(col(idCol).cast(LongType).as("__id"),
      col(blockCol).as("__blk"),
      substring(col(textCol), 1, 16).as("__pfx"),
      length(col(textCol)).cast(LongType).as("__len"))
    // both sides emit both buckets; the distinct canonical pair collapses
    // the double meeting of same-bucket pairs
    val e = base
      .withColumn("__bk", explode(array(
        expr(s"__len div $bucketWidth"), expr(s"__len div $bucketWidth") + 1)))
      .select("__id", "__blk", "__pfx", "__bk", "__len")
    val cands = e.as("a").join(e.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__pfx") === col("b.__pfx") &&
          col("a.__bk") === col("b.__bk") && col("a.__id") < col("b.__id") &&
          abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    val txt = docs.select(col(idCol).cast(LongType).as("__id"), col(textCol).as("__t"))
    cands
      .join(txt.select(col("__id").as("id_a"), col("__t").as("__ta")), Seq("id_a"))
      .join(txt.select(col("__id").as("id_b"), col("__t").as("__tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.TextExprs.levBounded(col("__ta"), col("__tb"), maxDist)
          .cast(LongType).as("dist"))
      .filter(col("dist") >= 0) // threshold form yields -1 above maxDist
  }

  /** Set-CONTAINMENT pairs — the asymmetric overlap Jaccard is blind
    * to: C(A → B) = |A ∩ B| / |A| finds a short document living inside
    * a long one (quotes, excerpts, boilerplate-wrapped reposts) where
    * resemblance |A∩B|/|A∪B| stays tiny and LSH-on-minhash (q32/q34)
    * never even proposes the pair. Exact, over the same distinct
    * char-5-gram hash sets as the Jaccard tier.
    *
    * Scale shape: the inverted gram index is the one corpus shuffle;
    * the gram-keyed self-join is the classical all-pairs hazard, so
    * grams with document frequency > maxDf are dropped from the
    * UNIVERSE — index AND denominators together, so containment stays
    * exact over the pruned gram space (the common-boilerplate grams
    * removed are precisely the ones that assert nothing about
    * containment) — and the cap is mirrored by the oracle, never
    * silent. Per-gram fan-out is then ≤ maxDf², and pair counting is
    * map-side combinable.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      thresholdPct: Int = 80,
      minGrams: Int = 10,
      maxDf: Int = 100): DataFrame = {
    val grams = df
      .select(col(idCol).cast(LongType).as("id"),
        explode(shingleHashes(col(textCol), 5)).as("g"))
    val kept = grams.join(
      grams.groupBy("g").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf),
      "g").select("id", "g")
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= minGrams)
    val idx = kept.join(sizes, "id")
    val shared = idx
      .select(col("g"), col("id").as("id_a"), col("sz").as("sz_a"))
      .join(idx.select(col("g"), col("id").as("id_b"), col("sz").as("sz_b")),
        "g")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("shared"))
    val ab = shared
      .filter(lit(100L) * col("shared") >= lit(thresholdPct.toLong) * col("sz_a"))
      .select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
        col("shared"), col("sz_a").as("size_c"))
    val ba = shared
      .filter(lit(100L) * col("shared") >= lit(thresholdPct.toLong) * col("sz_b"))
      .select(col("id_b").as("contained_id"), col("id_a").as("container_id"),
        col("shared"), col("sz_b").as("size_c"))
    ab.unionByName(ba)
      .withColumn("c_pct", expr("(shared * 100L) div size_c"))
  }
}
