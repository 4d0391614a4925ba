package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ScratchDirs
import graft.dedup.Dedup
import graft.ops.{Load, RecordLinkage}
import graft.ops.RecordLinkage.Field
import graft.similarity.{Ann, Outliers}
import graft.sinks.DocumentSink

/** Dedup + similarity-search queries. The synthetic corpus has no real
  * duplicates, so near-dup queries build a mutated copy of the documents
  * (id + 100000, text perturbed) and find the planted pairs — recall on
  * known ground truth. Hash-internal operators (minhash/simhash/SRP) have
  * no SQL mirror → rows-only checks; set-algebra ops get full oracles.
  */
object DedupQueries {

  /** documents ∪ perturbed copy (one word appended, case flipped on the
    * copy for fingerprint testing is NOT done here — minhash operates on
    * lowercased shingles anyway).
    */
  private def withMutatedCopies(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val mutated = d.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" appended tail marker")).as("text"))
    d.unionByName(mutated)
  }

  /** Exact dedup by full-text hash (all singletons in this corpus — the
    * oracle confirms the negative result exactly).
    */
  def q30Exact(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    Dedup.exactDedup(d, "text", "doc_id").orderBy("doc_id")
  }

  val q30Sql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  /** Near-exact dedup on normalized fingerprint: corpus ∪ case/space
    * -mangled copy → every group has exactly 2 members.
    */
  def q31Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val mangled = d.select(
      (col("doc_id") + 100000).as("doc_id"),
      upper(regexp_replace(col("text"), " ", "   ")).as("text"))
    val uni = d.unionByName(mangled)
    Dedup.fingerprintDedup(uni, "text", "doc_id")
      .select(col("fingerprint"), col("keep_id"), col("n_copies"))
      .orderBy("keep_id")
  }

  val q31Sql: String =
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, upper(regexp_replace(text, ' ', '   ', 'g')) FROM documents)
      |SELECT md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g')) AS fingerprint,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM uni GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** MinHash+LSH near-dup pairs, hash-gated bit-for-bit: the DuckDB
    * oracle re-derives the ENTIRE hash stack in SQL — polynomial 5-gram
    * shingle hashes with the splitmix finalizer, the one-permutation
    * signature (top-6-bit binning, remix, SIGNED mins, rotation
    * densification, int32 truncation), band membership as slot-quad
    * equality (band bucket = xxhash of the quad on the Spark side, so
    * sharing a bucket ⇔ sharing the quad), the ≤100 bucket cap, and the
    * agreeing-slots estimator. All mod-2⁶⁴ arithmetic is carried in
    * HUGEINT with an explicit 64×64 multiply decomposition (see
    * `mulModLit` below); xors/shifts run in UBIGINT.
    */
  def q32Minhash(spark: SparkSession, dir: String): DataFrame = {
    val uni = withMutatedCopies(spark, dir)
    graft.ops.Par.sortOnce(
      Dedup.minhashNearDupPairs(uni, "text", "doc_id", threshold = 0.5),
      col("id_a"), col("id_b"))
  }

  /** SimHash hamming-≤12 pairs over the same planted corpus, hash-gated:
    * the oracle recomputes the 64-bit fingerprint by per-bit majority
    * vote over the mirrored shingle hashes, mirrors the 4×16-bit block
    * index (incl. the ≤100 block cap) for candidates, and verifies
    * hamming via bit_count(xor).
    */
  def q33Simhash(spark: SparkSession, dir: String): DataFrame = {
    val uni = withMutatedCopies(spark, dir)
    graft.ops.Par.sortOnce(
      Dedup.simhashNearDupPairs(uni, "text", "doc_id", maxDist = 12),
      col("id_a"), col("id_b"))
  }

  // ---- SQL mirror of the 64-bit hash kernels (q32/q33 oracles) --------
  //
  // DuckDB has no wrapping 64-bit integer arithmetic: BIGINT/UBIGINT ops
  // error on overflow and `1::BIGINT << 63` throws. The mirror therefore
  // carries values as non-negative HUGEINT < 2^64, reduces mod 2^64
  // explicitly, and decomposes 64×64-bit multiplies into 32-bit halves
  // ((a·bl + ((a·bh) mod 2^32)·2^32) mod 2^64 — each term < 2^96, safely
  // inside HUGEINT). Xors and logical shifts run in UBIGINT. Validated
  // slot-for-slot against the JVM kernels (splitmix, shingleHash64,
  // minhashSig/Oph) before wiring.

  private[queries] val Mod64 = "18446744073709551616::HUGEINT"

  /** (a * b) mod 2^64 for a HUGEINT expression and a 64-bit constant. */
  private[queries] def mulModLit(a: String, b: BigInt): String = {
    val bl = b & 0xFFFFFFFFL
    val bh = b >> 32
    s"((($a) * $bl + ((($a) * $bh) % 4294967296) * 4294967296) % $Mod64)"
  }

  /** h ^ (h >>> s) in UBIGINT, back as HUGEINT. */
  private[queries] def xorShift(h: String, s: Int): String =
    s"(xor(CAST(($h) AS UBIGINT), CAST(($h) AS UBIGINT) >> $s)::HUGEINT)"

  /** The shingle-hash / splitmix finalizer: xs30 ·C1 xs27 ·C2 xs31.
    *
    * Staged through nested single-element `list_transform`s so every
    * step's input binds to a lambda VARIABLE: the naive textual
    * composition (xorShift doubles its argument, mulModLit triples it,
    * three levels deep) macro-expands `h` 72×, and DuckDB does not CSE
    * the copies — measured 106 s on q150's oracle vs ~8 s staged. SQL
    * has no scalar `let`; a 1-element list lambda is the portable one.
    */
  private[queries] def finalizerSql(h: String): String = {
    val s1 = xorShift("f0", 30)
    val s2 = mulModLit("f1", BigInt("BF58476D1CE4E5B9", 16))
    val s3 = xorShift("f2", 27)
    val s4 = mulModLit("f3", BigInt("94D049BB133111EB", 16))
    val s5 = xorShift("f4", 31)
    s"list_transform([($h)], f0 -> " +
      s"list_transform([$s1], f1 -> " +
      s"list_transform([$s2], f2 -> " +
      s"list_transform([$s3], f3 -> " +
      s"list_transform([$s4], f4 -> $s5)[1])[1])[1])[1])[1]"
  }

  /** Normalized text → char codes → distinct 5-gram polynomial+finalizer
    * shingle hashes (`shl(doc_id, hlist)`, HUGEINT < 2^64) over source
    * relation `src`, mirroring `shingle_hash64` exactly.
    */
  private[queries] def shingleCtesFrom(src: String): String = {
    val poly = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "codes[i:least(i+4, n_ch)]), (acc, c) -> (acc * 31 + c) % " + Mod64 + ")"
    s"""nrm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s FROM $src),
       |cds AS MATERIALIZED (SELECT doc_id, length(s) AS n_ch,
       |          list_transform(generate_series(1, length(s)),
       |                         c -> ord(substring(s, c, 1))::HUGEINT) AS codes
       |        FROM nrm),
       |shl AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(1, n_ch - 4)), i -> ${finalizerSql(poly)})) AS hlist
       |  FROM cds)""".stripMargin
  }

  /** Brute-force exact-Jaccard oracle tier, bitset-encoded: normalized
    * 5-gram shingle sets → dense gram ids (row_number over the DISTINCT
    * gram dictionary) → one BITSTRING per doc, so the all-pairs
    * intersection is `bit_count(a & b)` (a few hundred word-ANDs)
    * instead of `list_intersect` on ~200-element string lists — measured
    * 50 s → 1.6 s on q34's 500 k pairs, value-identical. Bound 16383:
    * 8× headroom over the 1,981 distinct 5-grams measured at sf0.01 (the
    * only SF the driver's gate runs); an overflow raises loudly in
    * bitstring_agg (oracle_error status), never a silent wrong count.
    * `src` must expose (id, text).
    */
  private[queries] def bitsetCtes(src: String): String =
    s"""bnorm AS (
       |  SELECT id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM $src),
       |bsh AS MATERIALIZED (
       |  SELECT id, list_distinct([substr(t, i, 5)
       |    FOR i IN generate_series(1, greatest(length(t) - 4, 1))]) AS s
       |  FROM bnorm WHERE length(t) > 0),
       |bdict AS MATERIALIZED (
       |  SELECT g, row_number() OVER (ORDER BY g) - 1 AS gi
       |  FROM (SELECT DISTINCT unnest(s) AS g FROM bsh)),
       |bs AS MATERIALIZED (
       |  SELECT e.id, bitstring_agg(d.gi, 0, 16383) AS bv,
       |         count(*)::BIGINT AS sz
       |  FROM (SELECT id, unnest(s) AS g FROM bsh) e JOIN bdict d USING (g)
       |  GROUP BY e.id)""".stripMargin

  /** Shared CTE prefix: mutated-union corpus → the shingle chain. */
  private def shingleCtes: String =
    s"""uni AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' appended tail marker' FROM documents),
       |${shingleCtesFrom("uni")}""".stripMargin

  /** Full OPH signature + LSH band + estimator mirror. */
  val q32Sql: String = {
    // per-shingle remix: m = h·C1 mod 2^64; m ^= m>>>29; SIGNED min/bin
    val remix = xorShift(mulModLit("uh.hv", BigInt("BF58476D1CE4E5B9", 16)), 29)
    val signedRemix =
      s"CAST(CASE WHEN ($remix) >= 9223372036854775808::HUGEINT " +
        s"THEN ($remix) - $Mod64 ELSE ($remix) END AS BIGINT)"
    // rotation densification of an empty bin from source `g.src` (signed
    // long) at distance `g.d`: m = src + d·gamma; (m ^ m>>>30)·C2; ^>>>31
    val srcU = s"(CASE WHEN g.src < 0 THEN g.src::HUGEINT + $Mod64 ELSE g.src::HUGEINT END" +
      s" + g.d * 11400714819323198485::HUGEINT) % $Mod64"
    val dens = xorShift(
      mulModLit(xorShift(srcU, 30), BigInt("94D049BB133111EB", 16)), 31)
    s"""WITH $shingleCtes,
       |present AS MATERIALIZED (
       |  SELECT shl.doc_id, CAST(CAST(uh.hv AS UBIGINT) >> 58 AS INT) AS bin,
       |         min($signedRemix) AS m
       |  FROM shl, unnest(shl.hlist) AS uh(hv)
       |  GROUP BY 1, 2),
       |grid AS MATERIALIZED (
       |  SELECT p.doc_id, js.j,
       |         min((p.bin - js.j + 64) % 64) AS d,
       |         arg_min(p.m, (p.bin - js.j + 64) % 64) AS src
       |  FROM (SELECT DISTINCT doc_id FROM present) dd
       |       JOIN present p ON p.doc_id = dd.doc_id,
       |       (SELECT unnest(generate_series(0, 63)) AS j) js
       |  GROUP BY 1, 2),
       |slots AS MATERIALIZED (
       |  SELECT doc_id, j,
       |    CAST(CASE WHEN lv % 4294967296 >= 2147483648
       |              THEN lv % 4294967296 - 4294967296
       |              ELSE lv % 4294967296 END AS INT) AS slot
       |  FROM (
       |    SELECT g.doc_id, g.j,
       |      CASE WHEN g.d = 0
       |           THEN (CASE WHEN g.src < 0 THEN g.src::HUGEINT + $Mod64
       |                      ELSE g.src::HUGEINT END)
       |           ELSE $dens END AS lv
       |    FROM grid g)),
       |sig AS MATERIALIZED (SELECT doc_id, list(slot ORDER BY j) AS sg FROM slots GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b, sg[4*b+1:4*b+4] AS bkey
       |  FROM sig, (SELECT unnest(generate_series(0, 15)) AS b)),
       |okb AS MATERIALIZED (
       |  SELECT b, bkey, list(doc_id) AS ids FROM bands
       |  GROUP BY b, bkey HAVING count(*) <= 100),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT aa.id_a, bb.id_b FROM
       |    (SELECT b, bkey, unnest(ids) AS id_a FROM okb) aa
       |    JOIN (SELECT b, bkey, unnest(ids) AS id_b FROM okb) bb USING (b, bkey)
       |  WHERE aa.id_a < bb.id_b),
       |est AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_filter(list_zip(sa.sg, sb.sg), p -> p[1] = p[2])) AS DOUBLE) / 64
       |      AS est_jaccard
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin
  }

  /** SimHash fingerprint + block index + hamming mirror. */
  val q33Sql: String =
    s"""WITH $shingleCtes,
       |bitc AS MATERIALIZED (
       |  SELECT shl.doc_id, bs.b,
       |    CASE WHEN 2 * sum(CAST((CAST(uh.hv AS UBIGINT) >> bs.b) & 1 AS BIGINT))
       |              >= count(*) THEN 1::UBIGINT ELSE 0::UBIGINT END AS bit
       |  FROM shl, unnest(shl.hlist) AS uh(hv),
       |       (SELECT unnest(generate_series(0, 63)) AS b) bs
       |  GROUP BY 1, 2),
       |sh64 AS MATERIALIZED (
       |  SELECT doc_id, sum(bit << b)::UBIGINT AS h FROM bitc GROUP BY doc_id),
       |blocks AS MATERIALIZED (
       |  SELECT doc_id, b * 65536 + CAST((h >> (b * 16)) & 65535 AS BIGINT) AS bucket
       |  FROM sh64, (SELECT unnest(generate_series(0, 3)) AS b)),
       |okb AS MATERIALIZED (
       |  SELECT bucket, list(doc_id) AS ids FROM blocks
       |  GROUP BY bucket HAVING count(*) <= 100),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT aa.id_a, bb.id_b FROM
       |    (SELECT bucket, unnest(ids) AS id_a FROM okb) aa
       |    JOIN (SELECT bucket, unnest(ids) AS id_b FROM okb) bb USING (bucket)
       |  WHERE aa.id_a < bb.id_b),
       |hdist AS (
       |  SELECT c.id_a, c.id_b, CAST(bit_count(xor(ha.h, hb.h)) AS INT) AS dist
       |  FROM cand c JOIN sh64 ha ON ha.doc_id = c.id_a
       |              JOIN sh64 hb ON hb.doc_id = c.id_b)
       |SELECT id_a, id_b, dist FROM hdist WHERE dist <= 12
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact n-gram Jaccard verification over MinHash candidates. The
    * DuckDB oracle brute-forces EXACT Jaccard over all pairs (feasible at
    * sf0.01), so a hash match certifies both the exact tier's set algebra
    * AND the LSH candidate tier's recall at this threshold — a missed
    * true pair would show as a rowcount mismatch.
    */
  def q34Jaccard(spark: SparkSession, dir: String): DataFrame = {
    val uni = withMutatedCopies(spark, dir)
    graft.ops.Par.sortOnce(
      Dedup.ngramJaccardPairs(uni, "text", "doc_id", threshold = 0.7),
      col("id_a"), col("id_b"))
  }

  /** Mirrors `shingle_hash64`'s fused normalization (lowercase + collapse
    * whitespace + trim) and character-5-gram shingling, then brute-forces
    * |A∩B|/|A∪B| over every pair — no LSH shortcut, so any candidate the
    * Spark side's LSH tier dropped would surface here.
    */
  val q34Sql: String =
    s"""WITH uni AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' appended tail marker' FROM documents),
       |${bitsetCtes("uni")},
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    bit_count(a.bv & b.bv)::BIGINT AS inter, a.sz AS la, b.sz AS lb
       |  FROM bs a JOIN bs b ON a.id < b.id
       |    AND 10 * least(a.sz, b.sz) >= 7 * greatest(a.sz, b.sz))
       |SELECT id_a, id_b, inter::DOUBLE / (la + lb - inter) AS jaccard
       |FROM pairs WHERE inter::DOUBLE / (la + lb - inter) >= 0.7
       |ORDER BY id_a, id_b""".stripMargin

  /** Incremental (cross-run) dedup with the exact-verify tier: the full
    * corpus plays "history" whose signature index already exists
    * (degenerate buckets pruned at BUILD time, so the probe run never
    * re-scans the index for a histogram); the new batch is mutated copies
    * of the first docs. Only the new batch is shingled for candidates —
    * the corpus contributes through its index — and exact Jaccard then
    * verifies just the candidate pairs. The DuckDB oracle brute-forces
    * exact Jaccard over ALL new×(history∪new) pairs (no LSH shortcut), so
    * a hash match certifies the index probe's recall too — exactly the
    * q34 pattern restricted to new-batch pairs.
    */
  def q36IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    // in production the index is a PERSISTED artifact (written bucketed by
    // `bucket`); pin it here so its consumers don't re-hash the corpus
    val index = Dedup.buildSignatureIndex(d, "text", "doc_id",
      maxBucketSize = Some(100)).persist()
    val newBatch = d.filter(col("doc_id") < 200).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" appended tail marker")).as("text"))
    graft.ops.Par.sortOnce(
      Dedup.incrementalJaccardPairs(newBatch, d, index, "text", "doc_id",
        threshold = 0.7, indexBucketsPrefiltered = true),
      col("new_id"), col("other_id"))
  }

  /** Brute-force mirror of q36: same normalization + 5-gram shingling as
    * q34's oracle, pairs restricted to new_id ∈ new batch; old partners
    * pair in both orientations' canonical (new_id, other_id) form, new
    * partners only as new_id < other_id.
    */
  val q36Sql: String =
    s"""WITH alltab AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS id, text || ' appended tail marker' AS text
       |  FROM documents WHERE doc_id < 200),
       |${bitsetCtes("alltab")},
       |pairs AS MATERIALIZED (
       |  SELECT n.id AS new_id, a.id AS other_id,
       |    bit_count(n.bv & a.bv)::BIGINT AS inter, n.sz AS la, a.sz AS lb
       |  FROM bs n JOIN bs a
       |    ON n.id >= 100000 AND a.id <> n.id AND (a.id < 100000 OR a.id > n.id)
       |    AND 10 * least(n.sz, a.sz) >= 7 * greatest(n.sz, a.sz))
       |SELECT new_id, other_id, inter::DOUBLE / (la + lb - inter) AS jaccard
       |FROM pairs WHERE inter::DOUBLE / (la + lb - inter) >= 0.7
       |ORDER BY new_id, other_id""".stripMargin

  /** Embedding-cosine near-dup: corpus ∪ scaled copy (cosine is
    * scale-invariant → planted pairs have sim ≈ 1 and land in the same
    * SRP bucket BY CONSTRUCTION — sign(w·v) == sign(w·2v) exactly, since
    * scaling a float by 2 is exact). The DuckDB oracle brute-forces
    * cosine over ALL pairs, so bucketed recall is hash-checked, not just
    * spec-asserted.
    */
  def q35EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val scaled = e.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
    val uni = e.unionByName(scaled).withColumn("__b",
      Ann.srpBucket(col("embedding"), dim = 64, nBits = 12))
    // identical directions land in the same SRP bucket — join inside
    // buckets only, then verify by exact cosine
    val a = uni.select(col("__b"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = uni.select(col("__b"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, Seq("__b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Ann.cosine(col("va"), col("vb")))
      .filter(col("sim") > 0.98)
      .select("id_a", "id_b", "sim")
      .orderBy("id_a", "id_b")
  }

  /** Brute-force mirror of q35: same left-to-right double dot-product
    * fold as `cosine_sim` (bit-identical, proven by q40), no bucket tier.
    */
  val q35Sql: String =
    """WITH uni AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(embedding, x -> x * 2.0)::DOUBLE[] FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
      |  FROM uni a JOIN uni b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, sim FROM p WHERE sim > 0.98
      |ORDER BY id_a, id_b""".stripMargin

  /** Brute-force cosine top-3 for 10 query vectors — the exact ANN
    * baseline, with a full DuckDB oracle (both engines fold the dot
    * product left-to-right in double → bit-identical sims).
    */
  def q40AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 10)
    Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  val q40Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      |s AS (
      |  SELECT query_id, neighbor_id,
      |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
      |  FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
      |r AS (SELECT query_id, neighbor_id,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** q103: contrastive hard-negative mining ([[Ann.hardNegatives]]) —
    * per query, the 5 most similar DIFFERENT-label vectors below the
    * near-dup ceiling (0.99). The negative-sampling stage of
    * dense-retriever / embedding training prep; oracle is the q40-style
    * brute-force reconstruction with the label and ceiling predicates.
    */
  def q103HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label")
    val queries = e.filter(col("vec_id") < 20)
    Ann.hardNegatives(e, queries, "vec_id", "embedding", "label", k = 5)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  val q103Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
      |           FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label AS cl
      |      FROM embeddings),
      |s AS (
      |  SELECT query_id, neighbor_id,
      |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
      |  FROM q CROSS JOIN c
      |  WHERE neighbor_id <> query_id AND cl <> ql),
      |f AS (SELECT query_id, neighbor_id, sim FROM s WHERE sim < 0.99),
      |r AS (SELECT query_id, neighbor_id,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM f)
      |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** q110: embedding outlier detection ([[Outliers.globalOutliers]]) —
    * flag vectors whose exact-integer dist² to the quantized corpus
    * centroid exceeds 1.005× the corpus mean (the synthetic corpus
    * concentrates tightly, so the milli-resolution threshold is what
    * produces a non-trivial split; real junk sits orders of magnitude
    * out, spec-tested with planted strays). Every quantity is integer-
    * exact, so the oracle replays quantization, centroid, distances,
    * and the cross-multiplied decision bit-for-bit.
    */
  def q110EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings")
    Outliers.globalOutliers(e, "vec_id", "embedding", alphaMilli = 1005)
      .orderBy("vec_id")
  }

  val q110Sql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |                        x -> CAST(floor(x * 65536) AS BIGINT)) AS qv
      |  FROM embeddings),
      |dims AS (SELECT i, CAST(sum(qv[i]) AS BIGINT) AS s,
      |                count(*)::BIGINT AS n
      |         FROM q, UNNEST(generate_series(1, len(qv))) t(i) GROUP BY i),
      |m AS (SELECT i, s // n AS mu FROM dims),
      |d2 AS (
      |  SELECT vec_id,
      |         CAST(sum((qv[i] - mu) * (qv[i] - mu)) AS BIGINT) AS dist2_fix
      |  FROM q, UNNEST(generate_series(1, len(qv))) t(i) JOIN m USING (i)
      |  GROUP BY vec_id),
      |tot AS (SELECT sum(dist2_fix) AS t, count(*)::BIGINT AS n FROM d2)
      |SELECT vec_id, dist2_fix,
      |       CAST(dist2_fix * tot.n * 1000 <= tot.t * 1005 AS INT) AS keep
      |FROM d2, tot ORDER BY vec_id""".stripMargin

  /** Brute-force top-3 through the custom TopKPerKey physical operator
    * (bounded heap per key — no per-key sort, no Window) — same oracle as
    * q40, so the custom plan is held to hash-equality with DuckDB.
    */
  def q42AnnTopKHeap(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopKPerKey
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val queries = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv")))
    val scored = Ann.bruteForceScores(e, queries, "vec_id")
      .withColumn("neg_sim", -col("sim"))
    val top = TopKPerKey.topK(scored, Seq("query_id"),
      Seq(TopKPerKey.Sort("neg_sim"), TopKPerKey.Sort("neighbor_id")), k = 3)
    // rank the ≤k surviving rows per key (tiny window, k rows per group)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("neg_sim"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  /** Corpus with three planted EXACT duplicates of every query vector
    * (ids +1e5/+2e5/+3e5): a duplicate lands in the query's own SRP
    * bucket (identical sign bits) AND its own IVF list (identical argmin)
    * BY CONSTRUCTION, and no unplanted vector approaches cosine 1 (q35
    * verified the corpus has no ≥0.98 pairs). So the approximate top-3 ==
    * the exact top-3 == the three duplicates ranked by neighbor_id, and a
    * brute-force DuckDB oracle can hash-check an APPROXIMATE index — the
    * q35 trick applied to ANN.
    */
  private def withPlantedDuplicates(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val corpus = (1 to 3).foldLeft(e) { (acc, i) =>
      acc.unionByName(q.select((col("vec_id") + i * 100000).as("vec_id"),
        col("embedding")))
    }
    (corpus, q)
  }

  /** Shared oracle for q41/q43: brute-force cosine top-3 over the planted
    * corpus — same double left-fold as `cosine_sim` (bit-identical per q40);
    * the duplicates tie at the top and order by neighbor_id in both
    * engines.
    */
  val q41Sql: String =
    """WITH uni AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  UNION ALL SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 10
      |  UNION ALL SELECT vec_id + 200000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 10
      |  UNION ALL SELECT vec_id + 300000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 10),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM uni WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, vec_id AS neighbor_id,
      |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS sim
      |  FROM q CROSS JOIN uni WHERE vec_id <> query_id),
      |r AS (SELECT query_id, neighbor_id,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** SRP-bucketed approximate top-3 (the scale path), hash-checked
    * against the brute-force oracle via the planted-duplicate corpus.
    * Organic-corpus recall (planted pairs NOT in the same bucket a
    * priori) is additionally asserted in AnnSpec.
    */
  def q41AnnSrp(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = withPlantedDuplicates(spark, dir)
    Ann.srpTopK(corpus, queries, "vec_id", "embedding", dim = 64, k = 3, nBits = 8)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  /** IVF-probed approximate top-3: k-means coarse quantizer (driver-
    * trained on a seeded uniform sample, narrow literal-argmin
    * assignment), nprobe closest inverted lists per query, TopKPerKey
    * ranking — hash-checked via the same planted-duplicate oracle as
    * q41; organic recall asserted in AnnSpec.
    */
  def q43AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = withPlantedDuplicates(spark, dir)
    Ann.ivfTopK(corpus, queries, "vec_id", "embedding", k = 3, nLists = 16, nprobe = 4)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  /** One-time IVF quantizer build for q43b: train on the planted-dup
    * corpus, save the centroids to parquet. Registered in
    * [[graft.SparkEntry.prepare]] so Bench runs it OUTSIDE the clock —
    * round-11 verdict #3: timing train+save+reload alongside the probe is
    * the same build-masks-probe distortion q165b's prepare hook removed
    * (at 100 TB the quantizer is a maintained nightly artifact; the
    * per-query cost is reload + probe). The bit-exact round-trip
    * assertion lives in AnnSpec, not in the timed path.
    */
  def buildIvfArtifact(spark: SparkSession, dir: String): String =
    ScratchDirs.built(dir, "ivf") { base =>
      val (corpus, _) = withPlantedDuplicates(spark, dir)
      Ann.saveCentroids(spark, Ann.ivfTrain(corpus, "embedding", nLists = 16),
        base)
    }

  /** q43b: the IVF index as a PERSISTED artifact — the coarse quantizer
    * is trained and saved by [[buildIvfArtifact]] (no-op when the untimed
    * prepare already ran), RELOADED here, and probed with the reloaded
    * centroids. Same oracle as q43: the round-trip must change nothing,
    * which gates the artifact schema, list ordering, and double fidelity
    * of the save/load path — the cross-run pattern that lets a 100 TB
    * corpus answer ANN probes without retraining.
    */
  def q43bAnnIvfReload(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = withPlantedDuplicates(spark, dir)
    val base = buildIvfArtifact(spark, dir) // no-op when the untimed prepare already ran
    val reloaded = Ann.loadCentroids(spark, base)
    Ann.ivfTopKWithCentroids(corpus, queries, "vec_id", "embedding",
        k = 3, centroids = reloaded, nprobe = 4)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  /** Exact sparse-cosine near-dup pairs over df-pruned word-4-gram tf
    * vectors ([[graft.similarity.SparseCosine]]): the inverted-index
    * tier with TRUE cosine, complementing q32/q33's probabilistic
    * estimates. Every planted (doc, doc+100000) pair shares its whole
    * gram multiset minus the mutated tail → cos² ≈ 0.9; the " appended
    * tail marker" grams themselves appear in every mutated doc and are
    * df-pruned as stop-grams. Integer-exact dot/norms, one final
    * division → full hash-equality oracle, unlike the hash-sketch
    * tiers.
    */
  def q62SparseCosine(spark: SparkSession, dir: String): DataFrame = {
    val uni = withMutatedCopies(spark, dir)
    graft.similarity.SparseCosine.pairs(uni, "text", "doc_id",
        n = 4, maxDf = 50L, minCos2 = 0.5)
      .orderBy("id_a", "id_b")
  }

  val q62Sql: String =
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' appended tail marker' FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '\s+'),
      |                     x -> x <> '') AS w
      |  FROM uni),
      |grams AS (
      |  SELECT doc_id, array_to_string(w[i:i+3], ' ') AS term
      |  FROM toks, UNNEST(generate_series(1, len(w) - 3)) AS t(i)
      |  WHERE len(w) >= 4),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY 1, 2),
      |pruned AS (
      |  SELECT * FROM tf WHERE term IN (
      |    SELECT term FROM tf GROUP BY term HAVING count(*) <= 50)),
      |norms AS (
      |  SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS norm
      |  FROM pruned GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      |  FROM pruned a JOIN pruned b USING (term)
      |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b, dot,
      |       CAST(dot * dot AS BIGINT) / (na.norm * nb.norm) AS cos2
      |FROM dots
      |JOIN norms na ON na.doc_id = id_a
      |JOIN norms nb ON nb.doc_id = id_b
      |WHERE CAST(dot * dot AS BIGINT) / (na.norm * nb.norm) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** q73: SemDeDup — semantic dedup through the cluster-pruned path.
    * Corpus = embeddings ∪ two rescaled copies (+1e5 ×2, +2e5 ×4; float
    * ×2ⁿ is exact, so after L2 normalization the copies are BIT-IDENTICAL
    * to their originals and land in the same k-means cluster by
    * construction, while no unplanted pair reaches cosine 0.6 — verified
    * 0.513 max at sf0.01). The DuckDB oracle brute-forces cosine over ALL
    * pairs with no clustering, so the cluster tier's recall is held to
    * hash-equality: a single duplicate straddling clusters breaks it.
    */
  def q73SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    def scaled(offset: Int, f: Float) = e.select(
      (col("vec_id") + offset).as("vec_id"),
      transform(col("embedding"), v => v * lit(f)).as("embedding"))
    val uni = e.unionByName(scaled(100000, 2.0f)).unionByName(scaled(200000, 4.0f))
    // 64 clusters ≈ 16× fewer within-cluster pair comparisons than 16
    // would give (Σc² shrinks with k); recall is k-independent for the
    // planted bit-identical copies
    graft.similarity.SemDedup
      .droppedDocs(uni, "vec_id", "embedding", nClusters = 64, threshold = 0.98)
      .orderBy("dropped_id")
  }

  /** Brute-force mirror: every pair, no clusters; same keep-min election. */
  val q73Sql: String =
    """WITH uni AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(embedding, x -> x * 2.0)::DOUBLE[] FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 200000, list_transform(embedding, x -> x * 4.0)::DOUBLE[] FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS kept_id, b.vec_id AS dropped_id
      |  FROM uni a JOIN uni b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.98)
      |SELECT dropped_id, min(kept_id) AS kept_id
      |FROM p GROUP BY dropped_id ORDER BY dropped_id""".stripMargin

  /** q83: semantic decontamination — flag training embeddings whose
    * direction appears in a (rescaled, so surface-identical-free)
    * benchmark set. Bench = every 5th vector ×2 under shifted ids; the
    * oracle brute-forces the full train×bench cosine matrix with no
    * clustering, so the cluster-pruned cross-probe's recall is
    * hash-gated exactly like q73's.
    */
  def q83SemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    val bench = e.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
    graft.similarity.SemDedup
      .crossFlagged(e, bench, "vec_id", "embedding",
        nClusters = 16, threshold = 0.98)
      .orderBy("train_id")
  }

  val q83Sql: String =
    """WITH t AS (
      |  SELECT vec_id AS train_id, embedding::DOUBLE[] AS v FROM embeddings),
      |b AS (
      |  SELECT vec_id + 100000 AS bench_id,
      |         list_transform(embedding, x -> x * 2.0)::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id % 5 = 0),
      |p AS (
      |  SELECT train_id, bench_id FROM t JOIN b ON
      |    list_dot_product(t.v, b.v)
      |      / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.98)
      |SELECT train_id, min(bench_id) AS bench_id
      |FROM p GROUP BY train_id ORDER BY train_id""".stripMargin

  /** q114: KMV distinct-count sketches ([[graft.functions.Kmv]]) — the
    * mergeable cardinality summary that replaces `count(distinct)`'s
    * every-distinct-value shuffle with O(k) per-task state (the dedup
    * audit: distinct keys per shard before/after a run, cheap enough to
    * compute on every pass). Both regimes in one query: order keys
    * (~11k distinct per flag) exercise the k=1024 estimator, part keys
    * (2k distinct) stay under k=4096 where the sketch is exhaustive and
    * the estimate EXACT. The sketch content and the floor-divided
    * estimator are pure integer set-functions, so the oracle replays
    * the token hash (polynomial + splitmix in HUGEINT), ranks hashes
    * per group, and reproduces every estimate bit-for-bit — a sketch
    * whose output hash-gates across engines (q164 extends the same
    * discipline to HLL's register layout).
    */
  def q114KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kmv
    val li = Load.table(spark, dir, "lineitem")
    val (k1, k2) = (1024, 4096)
    // exact distincts and sketches as SEPARATE aggregations joined on the
    // 3-row group key: mixing count(distinct) with a TypedImperative
    // aggregate makes Spark key the partial phase on the DISTINCT columns
    // (Expand + (flag, orderkey, partkey, gid) groups), instantiating one
    // sketch buffer per distinct value — millions of TreeSets and a
    // serialized-sketch-per-group exchange. Split, the sketch aggregate
    // keys on l_returnflag alone: O(tasks · groups · k) state, which is
    // the entire point of the operator (7.4 s → ~1 s at sf0.1).
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_orders"),
        countDistinct("l_partkey").as("exact_parts"))
    val sketches = li.select(col("l_returnflag"),
        Kmv.hash62(col("l_orderkey").cast("string")).as("ho"),
        Kmv.hash62(col("l_partkey").cast("string")).as("hp"))
      .groupBy("l_returnflag")
      .agg(Kmv.sketch(col("ho"), k1).as("sko"),
        Kmv.sketch(col("hp"), k2).as("skp"))
    exact.join(sketches, "l_returnflag")
      .select(col("l_returnflag"),
        col("exact_orders"),
        size(col("sko")).cast("long").as("sketch_orders"),
        Kmv.estimate(col("sko"), k1).as("est_orders"),
        col("exact_parts"),
        Kmv.estimate(col("skp"), k2).as("est_parts"))
      .orderBy("l_returnflag")
  }

  /** kmv_hash62 mirror: whole-string polynomial → splitmix (WITH the
    * golden-constant increment — unlike the shingle finalizer) → >> 2.
    */
  private[queries] def h62Sql(sv: String): String = {
    val poly = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      s"list_transform(generate_series(1, length($sv)), " +
      s"c -> ord(substring($sv, c, 1))::HUGEINT)), " +
      s"(acc, c) -> (acc * 31 + c) % $Mod64)"
    val sm = finalizerSql(
      s"((($poly) + 11400714819323198485::HUGEINT) % $Mod64)")
    s"CAST(CAST(($sm) AS UBIGINT) >> 2 AS BIGINT)"
  }

  val q114Sql: String = {
    def h62(sv: String): String = h62Sql(sv)
    def sketchCtes(keyCol: String, pfx: String): String =
      s"""${pfx}b AS (
         |  SELECT DISTINCT l_returnflag AS flag,
         |         CAST($keyCol AS VARCHAR) AS sv
         |  FROM lineitem),
         |${pfx}h AS (SELECT DISTINCT flag, ${h62("sv")} AS h FROM ${pfx}b),
         |${pfx}rk AS (
         |  SELECT flag, h,
         |         row_number() OVER (PARTITION BY flag ORDER BY h) AS rn
         |  FROM ${pfx}h),
         |${pfx}a AS (
         |  SELECT flag, count(*)::BIGINT AS nh,
         |         max(CASE WHEN rn = K THEN h END) AS hk
         |  FROM ${pfx}rk GROUP BY flag)""".stripMargin
    def est(pfx: String, k: Int): String =
      s"CASE WHEN ${pfx}a.nh < $k THEN ${pfx}a.nh " +
        s"ELSE CAST(least((${k - 1}::HUGEINT * 4611686018427387904::HUGEINT) " +
        s"// greatest(${pfx}a.hk, 1), 9223372036854775807::HUGEINT) AS BIGINT) END"
    s"""WITH ${sketchCtes("l_orderkey", "o").replace("rn = K", "rn = 1024")},
       |${sketchCtes("l_partkey", "p").replace("rn = K", "rn = 4096")},
       |ex AS (
       |  SELECT l_returnflag AS flag,
       |         count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
       |         count(DISTINCT l_partkey)::BIGINT AS exact_parts
       |  FROM lineitem GROUP BY 1)
       |SELECT ex.flag AS l_returnflag, ex.exact_orders,
       |       least(oa.nh, 1024)::BIGINT AS sketch_orders,
       |       ${est("o", 1024)} AS est_orders,
       |       ex.exact_parts,
       |       ${est("p", 4096)} AS est_parts
       |FROM ex JOIN oa ON oa.flag = ex.flag JOIN pa ON pa.flag = ex.flag
       |ORDER BY ex.flag""".stripMargin
  }

  /** q164: fixed-point HyperLogLog ([[graft.functions.Hll]]) — q114's
    * register-based sibling, with the float harmonic mean replaced by a
    * staged integer estimator so HLL hash-gates across engines after
    * all. Both classical regimes in one query: order keys (~11k
    * distinct ≫ 5m/2) take the raw harmonic-mean branch, supplier keys
    * (~100 distinct, most registers empty) take the linear-counting
    * branch through the square-and-shift fixed log. The register
    * relation is also the artifact-algebra story at its simplest: slice
    * A's registers persist to parquet, slice B merges via per-bucket
    * max (idempotent monoid — the ONLY sketch here whose merge needs no
    * custom aggregate at all), and in-band `merge_exact` pins
    * merged == direct register-for-register.
    */
  def q164HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hll
    val li = Load.table(spark, dir, "lineitem")
    val base = ScratchDirs.fresh(dir, "hllreg")
    Hll.registers(li.filter(col("l_linenumber") % 2 === 0),
        Seq("l_returnflag"), col("l_orderkey").cast(StringType))
      .write.mode("overwrite").parquet(s"$base/regsA")
    val merged = Hll.mergeRegisters(Seq(
      Load.parquet(spark, s"$base/regsA"),
      Hll.registers(li.filter(col("l_linenumber") % 2 =!= 0),
        Seq("l_returnflag"), col("l_orderkey").cast(StringType))),
      Seq("l_returnflag"))
    val direct = Hll.registers(li, Seq("l_returnflag"),
      col("l_orderkey").cast(StringType))
    val mismatch = merged.withColumnRenamed("r", "__rm")
      .join(direct.withColumnRenamed("r", "__rd"),
        Seq("l_returnflag", "bucket"), "full_outer")
      .groupBy("l_returnflag")
      .agg(min((col("__rm") <=> col("__rd")).cast(IntegerType))
        .as("merge_exact"))
    val estOrders = Hll.estimate(merged, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("v_zeros").as("v_orders"),
        col("est").as("est_orders"))
    val estSupps = Hll.estimate(
      Hll.registers(li, Seq("l_returnflag"), col("l_suppkey").cast(StringType)),
      Seq("l_returnflag"))
      .select(col("l_returnflag"), col("v_zeros").as("v_supps"),
        col("est").as("est_supps"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_orders"),
        countDistinct("l_suppkey").as("exact_supps"))
    exact.join(estOrders, "l_returnflag").join(estSupps, "l_returnflag")
      .join(mismatch, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("v_orders"),
        col("est_orders"), col("exact_supps"), col("v_supps"),
        col("est_supps"), col("merge_exact"))
      .orderBy("l_returnflag")
  }

  /** q169: set-containment pairs ([[Dedup.containmentPairs]]) — the
    * asymmetric overlap the resemblance tiers (q32/q34) are blind to:
    * the mutated-union corpus plants perfect containments (every
    * original lives inside its tail-extended copy with near-total
    * gram coverage, while Jaccard on the pair is diluted), and the
    * exact inverted-index formulation scores both directions of every
    * sharing pair. df > maxDf grams leave the UNIVERSE (index and
    * denominators together), so containment is exact over the pruned
    * gram space and the oracle replays the identical cap.
    */
  def q169Containment(spark: SparkSession, dir: String): DataFrame = {
    Dedup.containmentPairs(withMutatedCopies(spark, dir), "text", "doc_id")
      .orderBy("contained_id", "container_id")
  }

  val q169Sql: String =
    s"""WITH uni AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' appended tail marker' FROM documents),
       |${shingleCtesFrom("uni")},
       |g AS MATERIALIZED (SELECT doc_id AS id, u.g FROM shl, UNNEST(hlist) u(g)),
       |dfc AS MATERIALIZED (SELECT g, count(*)::BIGINT AS dfn FROM g GROUP BY g),
       |kept AS MATERIALIZED (SELECT id, g.g FROM g JOIN dfc USING (g) WHERE dfn <= 100),
       |sz AS MATERIALIZED (SELECT id, count(*)::BIGINT AS sz FROM kept
       |       GROUP BY id HAVING count(*) >= 10),
       |idx AS MATERIALIZED (SELECT k.id, k.g, s.sz FROM kept k JOIN sz s USING (id)),
       |sh AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
       |         count(*)::BIGINT AS shared
       |  FROM idx a JOIN idx b USING (g) WHERE a.id < b.id
       |  GROUP BY 1, 2, 3, 4),
       |dir AS (
       |  SELECT id_a AS contained_id, id_b AS container_id, shared,
       |         sz_a AS size_c
       |  FROM sh WHERE 100 * shared >= 80 * sz_a
       |  UNION ALL
       |  SELECT id_b, id_a, shared, sz_b
       |  FROM sh WHERE 100 * shared >= 80 * sz_b)
       |SELECT contained_id, container_id, shared, size_c,
       |       (shared * 100) // size_c AS c_pct
       |FROM dir ORDER BY contained_id, container_id""".stripMargin

  /** The full fixed-point HLL replayed per key family: hash62 →
    * (bucket, max rho via minimal binary-string length) → exact
    * Σ 2^−r → guarded harmonic division → LC branch through the
    * 16-step square-and-shift log CTE. merged == direct registers by
    * the max-monoid law, so the oracle computes direct and pins the
    * flag.
    */
  val q164Sql: String = {
    def chain(pfx: String, keyCol: String): String =
      s"""${pfx}h AS (
         |  SELECT DISTINCT flag, ${h62Sql("sv")} AS h
         |  FROM (SELECT DISTINCT l_returnflag AS flag,
         |               CAST($keyCol AS VARCHAR) AS sv FROM lineitem) ${pfx}x),
         |${pfx}regs AS (
         |  SELECT flag, h // 9007199254740992 AS bucket,
         |         max(CASE WHEN h % 9007199254740992 = 0 THEN 54::BIGINT
         |             ELSE (54 - length(bin(h % 9007199254740992)))::BIGINT
         |             END) AS r
         |  FROM ${pfx}h GROUP BY 1, 2),
         |${pfx}agg AS (
         |  SELECT flag, count(*)::BIGINT AS present,
         |         CAST(sum(1073741824 // (1::BIGINT << r)) AS BIGINT) AS sp
         |  FROM ${pfx}regs GROUP BY flag),
         |${pfx}e0 AS (
         |  SELECT flag, 512 - present AS v_zeros,
         |         greatest(1, sp + (512 - present) * 1073741824::BIGINT)
         |           AS s_fix
         |  FROM ${pfx}agg),
         |${pfx}nrm AS (
         |  SELECT flag, greatest(v_zeros * 2097152, 1) AS m, 0::BIGINT AS k
         |  FROM ${pfx}e0
         |  UNION ALL
         |  SELECT flag, m * 2, k + 1 FROM ${pfx}nrm WHERE m < 1073741824),
         |${pfx}sq AS (
         |  SELECT flag, k, m, 0 AS i, 0::BIGINT AS acc
         |  FROM ${pfx}nrm WHERE m >= 1073741824
         |  UNION ALL
         |  SELECT flag, k,
         |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
         |         i + 1,
         |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
         |  FROM (SELECT flag, k, (m * m) // 1073741824 AS m2, i, acc
         |        FROM ${pfx}sq WHERE i < 16) ${pfx}s),
         |${pfx}est AS (
         |  SELECT o.flag, o.v_zeros,
         |         CASE WHEN o.v_zeros > 0 AND o.raw20 <= 1342177280
         |              THEN (512 * 45426 * (b.k * 65536 - b.acc)) // 4096
         |                   // 1048576
         |              ELSE o.raw20 // 1048576 END AS est
         |  FROM (SELECT flag, v_zeros,
         |               (754747 * least(4398046511104,
         |                               1152921504606846976 // s_fix)) // 4096
         |                 AS raw20
         |        FROM ${pfx}e0) o
         |  JOIN (SELECT flag, k, acc FROM ${pfx}sq WHERE i = 16) b
         |    USING (flag))""".stripMargin
    s"""WITH RECURSIVE ${chain("o", "l_orderkey")},
       |${chain("s", "l_suppkey")},
       |ex AS (
       |  SELECT l_returnflag AS flag,
       |         count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
       |         count(DISTINCT l_suppkey)::BIGINT AS exact_supps
       |  FROM lineitem GROUP BY 1)
       |SELECT ex.flag AS l_returnflag, ex.exact_orders,
       |       oest.v_zeros AS v_orders, oest.est AS est_orders,
       |       ex.exact_supps,
       |       sest.v_zeros AS v_supps, sest.est AS est_supps,
       |       1 AS merge_exact
       |FROM ex JOIN oest ON oest.flag = ex.flag
       |        JOIN sest ON sest.flag = ex.flag
       |ORDER BY ex.flag""".stripMargin
  }

  /** q122: count-min sketch point-frequency estimates
    * ([[graft.ops.Cms]]) — the cross-RUN artifact path end-to-end: the
    * even-orderkey half's sketch is persisted to parquet, RELOADED,
    * merged (pure re-aggregation) with the odd half's, and probed for
    * every 17th part key next to the exact counts. Counters are pure
    * multiset-functions of the input (per-depth string re-hash through
    * kmv_hash62), so the oracle rebuilds all depth·width counters and
    * every min-over-depths estimate from scratch in HUGEINT and must
    * hash-match; est ≥ exact is re-checked as an output column on both
    * sides.
    */
  def q122CmsFrequency(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Cms
    val (d, w) = (4, 8192)
    val li = Load.table(spark, dir, "lineitem")
    val runA = li.filter(col("l_orderkey") % 2 === 0)
    val runB = li.filter(col("l_orderkey") % 2 === 1)
    val path = ScratchDirs.fresh(dir, "cms")
    Cms.sketch(runA, col("l_partkey"), d, w)
      .write.mode("overwrite").parquet(path)
    val merged = Cms.merge(Load.parquet(spark, path),
      Cms.sketch(runB, col("l_partkey"), d, w))
    val probe = li.select("l_partkey").distinct()
      .filter(col("l_partkey") % 17 === 0)
    val exact = li.filter(col("l_partkey") % 17 === 0)
      .groupBy("l_partkey").agg(count(lit(1)).as("exact_cnt"))
    exact.join(Cms.estimate(merged, probe, "l_partkey", d, w), Seq("l_partkey"))
      .select(col("l_partkey"), col("exact_cnt"), col("est").as("est_cnt"),
        (col("est") >= col("exact_cnt")).cast("int").as("never_under"))
      .orderBy("l_partkey")
  }

  val q122Sql: String = {
    val h = h62Sql("(CAST(j AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR))")
    s"""WITH rb AS (
       |  SELECT j, CAST(($h) % 8192 AS BIGINT) AS b
       |  FROM lineitem, UNNEST([0, 1, 2, 3]) t(j)),
       |cnt AS (SELECT j, b, count(*)::BIGINT AS cnt FROM rb GROUP BY j, b),
       |probe AS (SELECT DISTINCT l_partkey FROM lineitem
       |          WHERE l_partkey % 17 = 0),
       |pb AS (
       |  SELECT l_partkey, j, CAST(($h) % 8192 AS BIGINT) AS b
       |  FROM probe, UNNEST([0, 1, 2, 3]) t(j)),
       |est AS (
       |  SELECT pb.l_partkey, CAST(min(cnt.cnt) AS BIGINT) AS est_cnt
       |  FROM pb JOIN cnt USING (j, b) GROUP BY pb.l_partkey),
       |exact AS (
       |  SELECT l_partkey, count(*)::BIGINT AS exact_cnt
       |  FROM lineitem WHERE l_partkey % 17 = 0 GROUP BY l_partkey)
       |SELECT l_partkey, exact_cnt, est_cnt,
       |       CAST(est_cnt >= exact_cnt AS INTEGER) AS never_under
       |FROM exact JOIN est USING (l_partkey)
       |ORDER BY l_partkey""".stripMargin
  }

  // ---- q124: product quantization, integer twin ----
  // 8 subspaces × 8 dims over the 64-dim embeddings, 4 planted integer
  // centroids per subspace in the 2⁻¹⁶ quantized space (q110 discipline).
  private val q124Dsub = 8
  private val q124M = 8
  private[queries] val q124Centroids: Seq[Array[Long]] = Seq(
    Array.fill(q124Dsub)(0L),
    Array.fill(q124Dsub)(8192L),
    Array.fill(q124Dsub)(-8192L),
    Array.tabulate(q124Dsub)(t => if (t % 2 == 0) 8192L else -8192L))
  private[queries] val q124Query: Array[Long] =
    Array.tabulate(64)(i => ((i * 37) % 101 - 50).toLong * 400L)

  /** q124: product-quantization codes + asymmetric-distance scoring
    * ([[graft.similarity.Pq]] is the float production tier; this gate
    * runs its INTEGER twin end to end so every step replays in SQL):
    * vectors quantize to 2⁻¹⁶ fixed point, each 8-dim subvector maps to
    * its nearest planted centroid (first-min tie-break), and a planted
    * query is scored BOTH ways — ADC (Σ of the per-subspace
    * query↔centroid table entries at the row's codes) and exact — so
    * the oracle re-derives codes, the whole distance table, and both
    * distances from the same planted constants with independent SQL
    * arithmetic.
    */
  def q124PqCodes(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings")
    val vq = transform(col("embedding"),
      x => floor(x.cast("double") * lit(65536d)).cast("long"))
    val base = e.select(col("vec_id"), vq.as("__vq"))
    val codeCols = (0 until q124M).map { j =>
      val sub = slice(col("__vq"), j * q124Dsub + 1, q124Dsub)
      val dists = array(q124Centroids.map { c =>
        val cl = array(c.map(lit): _*)
        aggregate(zip_with(sub, cl, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("long")
    }
    // per-subspace ADC table: planted-query slice ↔ planted centroids
    val table: Seq[Seq[Long]] = (0 until q124M).map { j =>
      q124Centroids.map { c =>
        (0 until q124Dsub).map { t =>
          val d = q124Query(j * q124Dsub + t) - c(t); d * d
        }.sum
      }
    }
    val qLit = array(q124Query.map(lit): _*)
    base.withColumn("codes", array(codeCols: _*))
      .withColumn("adc_q", (0 until q124M).map { j =>
        element_at(array(table(j).map(lit): _*),
          (element_at(col("codes"), j + 1) + 1).cast("int"))
      }.reduce(_ + _))
      .withColumn("exact_q",
        aggregate(zip_with(col("__vq"), qLit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v))
      // codes as a joined string: the harness sorts rows by every output
      // column, and raw array cells don't sort
      .withColumn("pq_code", concat_ws("-",
        transform(col("codes"), _.cast("string"))))
      .select("vec_id", "pq_code", "adc_q", "exact_q")
      .orderBy("vec_id")
  }

  val q124Sql: String = {
    def sq(a: String, b: Long): String = s"($a - ($b)) * ($a - ($b))"
    def distExpr(j: Int, c: Array[Long]): String =
      (0 until q124Dsub).map(t => sq(s"vq[${j * q124Dsub + t + 1}]", c(t)))
        .mkString(" + ")
    val codeExprs = (0 until q124M).map { j =>
      val ds = q124Centroids.map(c => distExpr(j, c)).mkString("[", ", ", "]")
      s"CAST(list_position($ds, list_min($ds)) - 1 AS BIGINT)"
    }.mkString(",\n      |    ")
    // the ADC table re-derived with SQL arithmetic from the same
    // constants (literals cast to BIGINT — bare ints square in INT32)
    val tblExprs = (0 until q124M).map { j =>
      q124Centroids.map { c =>
        (0 until q124Dsub)
          .map(t => sq(s"CAST(${q124Query(j * q124Dsub + t)} AS BIGINT)", c(t)))
          .mkString("(", " + ", ")")
      }.mkString("[", ", ", "]")
    }
    val adc = (0 until q124M)
      .map(j => s"(${tblExprs(j)})[CAST(codes[${j + 1}] + 1 AS INTEGER)]")
      .mkString(" + ")
    val ql = q124Query.mkString("[", ", ", "]")
    s"""WITH v AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS vq
       |  FROM embeddings),
       |coded AS (
       |  SELECT vec_id, vq, [
       |    $codeExprs
       |  ] AS codes
       |  FROM v)
       |SELECT vec_id,
       |       array_to_string(codes, '-') AS pq_code,
       |       CAST($adc AS BIGINT) AS adc_q,
       |       CAST(list_sum(list_transform(generate_series(1, 64),
       |         i -> (vq[i] - ($ql)[i]) * (vq[i] - ($ql)[i]))) AS BIGINT)
       |         AS exact_q
       |FROM coded ORDER BY vec_id""".stripMargin
  }

  /** q125: MMR-diversified retrieval ([[graft.similarity.Mmr]]) — every
    * 53rd embedding queries the corpus, relevance = integer dot product
    * on 2⁻¹⁶-quantized vectors, and the 5 picks per query trade
    * relevance against similarity-to-already-picked at λ = 7/10 (all
    * fractions cleared: 7·rel − 3·maxSim). The oracle UNROLLS the five
    * greedy rounds as chained CTEs — each re-deriving the pairwise
    * dots, the max-sim penalty, the NOT-EXISTS exclusion, and the
    * (score desc, doc_id) pick from scratch — so selection order,
    * ties, and scores gate bit-for-bit.
    *
    * The corpus-sized work is the RETRIEVAL tier: one broadcast-query
    * linear scan (the q40 shape) whose TopKPerKey bounded heaps emit a
    * top-100 pool per query — only that pool enters the k-round greedy,
    * honouring Mmr's bounded-candidates contract. (The first cut fed
    * the raw corpus×queries cross join to the loop; every round then
    * re-dotted and re-persisted corpus-sized state — 238 s at sf1.
    * Pooled: the rounds are pool-sized, sf1 lands at ≈ 13 s, and the
    * per-round state the loop caches is |Q|·100 rows by construction.)
    */
  def q125MmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings")
    val vq = transform(col("embedding"),
      x => floor(x.cast("double") * lit(65536d)).cast("long"))
    val v = e.select(col("vec_id"), vq.as("vq"))
    val q = v.filter(col("vec_id") % 53 === 0 && col("vec_id") < 10000000L)
      .select(col("vec_id").as("query_id"), col("vq").as("qv"))
    val cands = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("vq"),
        aggregate(zip_with(col("qv"), col("vq"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("rel"))
    val pool = graft.plans.TopKPerKey.topK(cands, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.Sort("rel", descending = true),
        graft.plans.TopKPerKey.Sort("doc_id")), 100)
    graft.similarity.Mmr.diversify(pool, "query_id", "doc_id", "vq", "rel",
        k = 5, lamNum = 7L, lamDen = 10L)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("mmr_score"))
      .orderBy("query_id", "rank")
  }

  val q125Sql: String = {
    def dot(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 64), " +
        s"i -> $a[i] * $b[i])) AS BIGINT)"
    val steps = (2 to 5).map { t =>
      s"""sel$t AS (
         |  SELECT query_id, doc_id, vq, $t AS rank, mmr_score FROM (
         |    SELECT cm.*, row_number() OVER (PARTITION BY query_id
         |             ORDER BY mmr_score DESC, doc_id) AS rn
         |    FROM (
         |      SELECT c.query_id, c.doc_id, c.vq,
         |             CAST(7 * c.rel - 3 * max(${dot("c.vq", "s.vq")})
         |                  AS BIGINT) AS mmr_score
         |      FROM cand c JOIN acc${t - 1} s USING (query_id)
         |      WHERE NOT EXISTS (SELECT 1 FROM acc${t - 1} p
         |                        WHERE p.query_id = c.query_id
         |                          AND p.doc_id = c.doc_id)
         |      GROUP BY c.query_id, c.doc_id, c.vq, c.rel) cm) y
         |  WHERE rn = 1),
         |acc$t AS (SELECT * FROM acc${t - 1} UNION ALL SELECT * FROM sel$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS vq
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, vq AS qv FROM v
       |       WHERE vec_id % 53 = 0 AND vec_id < 10000000),
       |cand0 AS (
       |  SELECT q.query_id, v.vec_id AS doc_id, v.vq,
       |         ${dot("q.qv", "v.vq")} AS rel
       |  FROM q, v WHERE v.vec_id <> q.query_id),
       |cand AS MATERIALIZED (
       |  SELECT query_id, doc_id, vq, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, doc_id) AS prn
       |    FROM cand0) p WHERE prn <= 100),
       |sel1 AS (
       |  SELECT query_id, doc_id, vq, 1 AS rank,
       |         CAST(7 * rel AS BIGINT) AS mmr_score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, doc_id) AS rn
       |    FROM cand) x WHERE rn = 1),
       |acc1 AS (SELECT * FROM sel1),
       |$steps
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, mmr_score
       |FROM acc5 ORDER BY query_id, rank""".stripMargin
  }

  /** q127: margin-based bitext mining ([[graft.similarity.Bitext]]) —
    * the CCMatrix/LASER parallel-pair recipe: even-id embeddings play
    * the target-language corpus, the odd-id %13 batch plays the source
    * shard being aligned; each source's best target is kept iff its dot
    * clears the 4-NN margin at τ = 1.35 (cross-multiplied integers, no
    * ratio ever materialises — the corpus margin band is ≈ 1.19–1.61 so
    * the gate splits the batch). The oracle re-derives both k-NN lists
    * with window ranks over from-scratch HUGEINT dots and replays the
    * same cleared compare, so pairs, neighbor sums, ties, and keep
    * flags gate bit-for-bit.
    */
  def q127BitextMine(spark: SparkSession, dir: String): DataFrame = {
    val e = Load.table(spark, dir, "embeddings")
    val vq = transform(col("embedding"),
      x => floor(x.cast("double") * lit(65536d)).cast("long"))
    val v = e.select(col("vec_id"), vq.as("vq"))
    val tgt = v.filter(col("vec_id") % 2 === 0)
    val src = v.filter(col("vec_id") % 2 === 1 && col("vec_id") % 13 === 0)
    graft.similarity.Bitext.minePairs(src, tgt, "vec_id", "vq",
        k = 4, tauMilli = 1350L)
      .orderBy("src_id")
  }

  val q127Sql: String = {
    def dot(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 64), " +
        s"i -> $a[i] * $b[i])) AS BIGINT)"
    s"""WITH v AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS vq
       |  FROM embeddings),
       |tgt AS (SELECT vec_id, vq FROM v WHERE vec_id % 2 = 0),
       |src AS (SELECT vec_id, vq FROM v
       |        WHERE vec_id % 2 = 1 AND vec_id % 13 = 0),
       |fd AS (
       |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
       |         ${dot("s.vq", "t.vq")} AS d
       |  FROM src s, tgt t),
       |fk AS (SELECT *, row_number() OVER (PARTITION BY src_id
       |                ORDER BY d DESC, tgt_id) AS rn FROM fd),
       |pairs AS MATERIALIZED (SELECT src_id, tgt_id, d FROM fk WHERE rn = 1),
       |snna AS (SELECT src_id, CAST(sum(d) AS BIGINT) AS snn_src
       |         FROM fk WHERE rn <= 4 GROUP BY src_id),
       |b AS (SELECT DISTINCT p.tgt_id, t.vq
       |      FROM pairs p JOIN tgt t ON t.vec_id = p.tgt_id),
       |bd AS (
       |  SELECT b.tgt_id, s.vec_id AS s2, ${dot("s.vq", "b.vq")} AS d2
       |  FROM b, src s),
       |bk AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
       |                ORDER BY d2 DESC, s2) AS rn FROM bd),
       |snnb AS (SELECT tgt_id, CAST(sum(d2) AS BIGINT) AS snn_tgt
       |         FROM bk WHERE rn <= 4 GROUP BY tgt_id)
       |SELECT p.src_id, p.tgt_id, p.d AS dot, a.snn_src, t.snn_tgt,
       |       CAST(8000 * p.d >= 1350 * (a.snn_src + t.snn_tgt)
       |         AS INTEGER) AS keep
       |FROM pairs p JOIN snna a USING (src_id) JOIN snnb t USING (tgt_id)
       |ORDER BY p.src_id""".stripMargin
  }

  /** q128: edit-distance near-dup verification
    * ([[graft.dedup.Dedup.editVerifyPairs]]) — character-granular
    * near-dup pairs over (source, 16-char-prefix, ±1 length-bucket)
    * blocks at distance ≤ 40. The corpus genuinely contains such pairs
    * (template docs differing by a few tokens), so the gate exercises
    * the verify tier on real data; the oracle replays the identical
    * blocking construction and DuckDB's own full-matrix `levenshtein`
    * — an independent implementation of the same classical DP — so
    * pair set and every distance value must agree exactly.
    */
  def q128EditVerify(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    graft.dedup.Dedup.editVerifyPairs(d, "doc_id", "text", "source",
        bucketWidth = 64, maxDist = 40)
      .orderBy("id_a", "id_b")
  }

  val q128Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, text, length(text)::BIGINT AS len,
      |         substr(text, 1, 16) AS pfx, length(text) // 64 AS b0
      |  FROM documents),
      |e AS MATERIALIZED (SELECT doc_id, source, pfx, len, b0 AS bk FROM d
      |      UNION ALL
      |      SELECT doc_id, source, pfx, len, b0 + 1 FROM d),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM e a JOIN e b
      |    ON a.source = b.source AND a.pfx = b.pfx AND a.bk = b.bk
      |   AND a.doc_id < b.doc_id AND abs(a.len - b.len) <= 40),
      |p AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
      |  FROM cand c
      |  JOIN documents da ON da.doc_id = c.id_a
      |  JOIN documents db ON db.doc_id = c.id_b)
      |SELECT id_a, id_b, dist FROM p WHERE dist <= 40
      |ORDER BY id_a, id_b""".stripMargin

  /** q134: preference-pair construction (DPO/RLHF data prep) — the step
    * after q133's SFT prep: near-duplicate documents are treated as two
    * responses to the same underlying prompt (the q128 verify tier
    * supplies the pairs at edit distance ≤ 40), and each pair is
    * oriented chosen/rejected by an integer quality score — the q126
    * entropy, so ranking is float-free and the tie-break (higher
    * entropy wins; equal → smaller id) replays exactly. Emits the
    * shared 16-char prompt prefix plus both scores and the margin, the
    * relation a DPO trainer consumes. Composition: candidates ride the
    * q128 blocking (ids and prefixes shuffle, texts fetched for
    * candidates only), scores are a narrow kernel joined by id.
    */
  def q134PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val pairs = graft.dedup.Dedup.editVerifyPairs(d, "doc_id", "text", "source",
      bucketWidth = 64, maxDist = 40)
    val scores = d.select(col("doc_id"),
      graft.functions.TextExprs.charEntropyFix(col("text")).as("__e"),
      substring(col("text"), 1, 16).as("__pfx"))
    pairs
      .join(scores.select(col("doc_id").as("id_a"), col("__e").as("__ea"),
        col("__pfx").as("prompt_prefix")), Seq("id_a"))
      .join(scores.select(col("doc_id").as("id_b"), col("__e").as("__eb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("prompt_prefix"), col("dist"),
        when(col("__ea") > col("__eb") ||
          (col("__ea") === col("__eb") && col("id_a") < col("id_b")),
          col("id_a")).otherwise(col("id_b")).as("chosen_id"),
        when(col("__ea") > col("__eb") ||
          (col("__ea") === col("__eb") && col("id_a") < col("id_b")),
          col("id_b")).otherwise(col("id_a")).as("rejected_id"),
        greatest(col("__ea"), col("__eb")).as("score_chosen"),
        least(col("__ea"), col("__eb")).as("score_rejected"),
        (greatest(col("__ea"), col("__eb")) -
          least(col("__ea"), col("__eb"))).as("margin"))
      .orderBy("id_a", "id_b")
  }

  val q134Sql: String =
    """WITH RECURSIVE d0 AS (
      |  SELECT doc_id, source, text, length(text)::BIGINT AS len,
      |         substr(text, 1, 16) AS pfx, length(text) // 64 AS b0
      |  FROM documents),
      |e AS MATERIALIZED (SELECT doc_id, source, pfx, len, b0 AS bk FROM d0
      |      UNION ALL
      |      SELECT doc_id, source, pfx, len, b0 + 1 FROM d0),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM e a JOIN e b
      |    ON a.source = b.source AND a.pfx = b.pfx AND a.bk = b.bk
      |   AND a.doc_id < b.doc_id AND abs(a.len - b.len) <= 40),
      |p AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
      |  FROM cand c
      |  JOIN documents da ON da.doc_id = c.id_a
      |  JOIN documents db ON db.doc_id = c.id_b),
      |pairs AS MATERIALIZED (SELECT id_a, id_b, dist FROM p WHERE dist <= 40),
      |chars AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch
      |  FROM documents),
      |hist AS (SELECT doc_id, ch, count(*)::BIGINT AS c
      |         FROM chars GROUP BY doc_id, ch),
      |nn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
      |       FROM hist GROUP BY doc_id),
      |pfx2 AS (SELECT doc_id, ch, c, (1073741824::BIGINT * c) // n AS p_fix
      |         FROM hist JOIN nn USING (doc_id)),
      |nrm AS (
      |  SELECT doc_id, ch, greatest(p_fix, 1) AS m, 0::BIGINT AS k FROM pfx2
      |  UNION ALL
      |  SELECT doc_id, ch, m * 2, k + 1 FROM nrm WHERE m < 1073741824),
      |normed AS (SELECT doc_id, ch, m, k FROM nrm WHERE m >= 1073741824),
      |sq AS (
      |  SELECT doc_id, ch, k, m, 0 AS i, 0::BIGINT AS acc FROM normed
      |  UNION ALL
      |  SELECT doc_id, ch, k,
      |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
      |         i + 1,
      |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
      |  FROM (SELECT doc_id, ch, k, (m * m) // 1073741824 AS m2, i, acc
      |        FROM sq WHERE i < 16) s),
      |surp AS (SELECT doc_id, ch, k * 65536 - acc AS bits
      |         FROM sq WHERE i = 16),
      |ent AS (
      |  SELECT h.doc_id,
      |         CAST(sum(h.c * s.bits) // max(nn.n) AS BIGINT) AS ef
      |  FROM hist h JOIN surp s USING (doc_id, ch) JOIN nn USING (doc_id)
      |  GROUP BY h.doc_id)
      |SELECT pr.id_a, pr.id_b, substr(da.text, 1, 16) AS prompt_prefix,
      |       pr.dist,
      |       CASE WHEN ea.ef > eb.ef OR (ea.ef = eb.ef AND pr.id_a < pr.id_b)
      |            THEN pr.id_a ELSE pr.id_b END AS chosen_id,
      |       CASE WHEN ea.ef > eb.ef OR (ea.ef = eb.ef AND pr.id_a < pr.id_b)
      |            THEN pr.id_b ELSE pr.id_a END AS rejected_id,
      |       greatest(ea.ef, eb.ef) AS score_chosen,
      |       least(ea.ef, eb.ef) AS score_rejected,
      |       greatest(ea.ef, eb.ef) - least(ea.ef, eb.ef) AS margin
      |FROM pairs pr
      |JOIN documents da ON da.doc_id = pr.id_a
      |JOIN ent ea ON ea.doc_id = pr.id_a
      |JOIN ent eb ON eb.doc_id = pr.id_b
      |ORDER BY pr.id_a, pr.id_b""".stripMargin

  /** q149: corpus-to-corpus overlap — the crawl-drift / contamination
    * measure BETWEEN snapshots (doc-level diffing is q84; this is
    * content-level): two overlapping corpus views (doc_id % 3 ≠ 0 vs
    * % 2 ≠ 0) reduce to per-shingle side flags in ONE hash-keyed
    * shuffle (`max(in_a)`, `max(in_b)` per 64-bit `shingle_hash64` value),
    * giving EXACT |A|, |B|, |A∪B|, |A∩B| — plus the bounded-state
    * estimator a 100 TB run would use instead: the k = 256 smallest
    * hashes of the union (unsigned order, TakeOrdered — k·partitions
    * rows move, never the hash relation) and how many of them sit in
    * both sides; k_common/k_actual estimates the exact Jaccard
    * n_inter/n_union (Broder's min-k coincidence). All six outputs are
    * integers; the oracle replays the full hash stack (the q32
    * polynomial+finalizer mirror) and both tiers independently. At
    * scale: keep the estimator tier, drop the exact tier — same plan
    * minus one count-distinct shuffle.
    */
  def q149CorpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val flagged = d
      .filter(col("doc_id") % 3 =!= 0 || col("doc_id") % 2 =!= 0)
      .select(
        explode(graft.functions.HashExprs.shingleHash64(col("text"), 5)).as("h"),
        (col("doc_id") % 3 =!= 0).cast(IntegerType).as("ia"),
        (col("doc_id") % 2 =!= 0).cast(IntegerType).as("ib"))
      .groupBy("h")
      .agg(max("ia").as("in_a"), max("ib").as("in_b"))
    val tot = flagged.agg(
      sum("in_a").cast(LongType).as("n_a"),
      sum("in_b").cast(LongType).as("n_b"),
      count(lit(1)).as("n_union"),
      sum(col("in_a") * col("in_b")).cast(LongType).as("n_inter"))
    val mk = flagged
      .orderBy(col("h").bitwiseXOR(lit(Long.MinValue)))
      .limit(256)
      .agg(count(lit(1)).as("k_actual"),
        sum(col("in_a") * col("in_b")).cast(LongType).as("k_common"))
    tot.crossJoin(mk)
  }

  val q149Sql: String =
    s"""WITH ab AS (
       |  SELECT doc_id, text,
       |         CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS ia,
       |         CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END AS ib
       |  FROM documents WHERE doc_id % 3 <> 0 OR doc_id % 2 <> 0),
       |${shingleCtesFrom("ab")},
       |j AS (SELECT s.hlist, a.ia, a.ib FROM shl s JOIN ab a USING (doc_id)),
       |fl AS (SELECT u.h, j.ia, j.ib FROM j, UNNEST(j.hlist) AS u(h)),
       |g AS MATERIALIZED (SELECT h, max(ia) AS in_a, max(ib) AS in_b FROM fl GROUP BY h),
       |tot AS (
       |  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
       |         CAST(sum(in_b) AS BIGINT) AS n_b,
       |         count(*)::BIGINT AS n_union,
       |         CAST(sum(in_a * in_b) AS BIGINT) AS n_inter
       |  FROM g),
       |mk AS (SELECT in_a, in_b FROM g ORDER BY h LIMIT 256),
       |ks AS (
       |  SELECT count(*)::BIGINT AS k_actual,
       |         CAST(sum(in_a * in_b) AS BIGINT) AS k_common
       |  FROM mk)
       |SELECT n_a, n_b, n_union, n_inter, k_actual, k_common
       |FROM tot, ks""".stripMargin

  /** q215: cross-source overlap MATRIX — q149's pairwise measure
    * generalized to every source pair at once (the "did source B
    * scrape source A" audit a multi-source training mix runs before
    * deciding dedup order and mixture weights). Exact tier: distinct
    * (source, word-8-gram md5) in one bounded in-row fan-out + one
    * map-side-combined shuffle; per gram the SORTED source set (≤
    * |sources| elements) fans out in-row to its C(k,2) ordered pairs
    * AND its k singletons, so ONE aggregation yields both every
    * pairwise intersection and every per-source gram count — the
    * corpus is touched once, never self-joined. The grouped artifact
    * is ≤ |sources|² rows (the contract-bounded driver-collect family:
    * q213's Gram, k-means centroids); Jaccard and containment finish
    * as 2¹⁶ floors on that artifact, with a documents-spine source
    * list so a gram-free source still surfaces (zeros, no silent
    * drop). The 100 TB swap is EXECUTABLE (q205's tier pattern):
    * `spark.graft.overlapTier = sketch` routes the same matrix through
    * per-source KMV signatures ([[graft.functions.KmvSketch]], k = 256)
    * — O(k) state per source regardless of corpus size, Broder's min-k
    * coincidence for the intersection — and because a KMV sketch is
    * EXHAUSTIVE below k distinct values, the two tiers agree
    * bit-for-bit whenever every source PAIR's gram union holds < k
    * grams (OverlapTierSpec pins this); the oracle runs the default
    * exact tier.
    */
  def q215SourceOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val sources = d.select("source").distinct()
      .collect().map(_.getString(0)).sorted
    if (spark.conf.getOption("spark.graft.overlapTier").contains("sketch"))
      q215SketchMatrix(spark, d, sources)
    else q215ExactMatrix(spark, d, sources)
  }

  private def q215ExactMatrix(spark: SparkSession, d: DataFrame,
      sources: Array[String]): DataFrame = {
    val n = 8
    val sg = d
      .select(col("source"),
        graft.text.Decontaminate.wordTokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("source"), explode(array_distinct(transform(
        sequence(lit(1), size(col("__toks")) - (n - 1)),
        i => md5(array_join(slice(col("__toks"), i, lit(n)), " ")))))
        .as("g"))
      .distinct()
    val grouped = sg.groupBy("g")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(concat(
        transform(col("ss"), s =>
          struct(s.as("s1"), lit(null).cast(StringType).as("s2"))),
        flatten(transform(col("ss"), (s1, i) =>
          transform(slice(col("ss"), i + 2, size(col("ss"))), s2 =>
            struct(s1.as("s1"), s2.as("s2"))))))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("c"))
      .collect()
    val sz = grouped.filter(_.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val inter = grouped.filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rows = for {
      i <- sources.indices; j <- (i + 1) until sources.length
      s1 = sources(i); s2 = sources(j)
      sz1 = sz.getOrElse(s1, 0L); sz2 = sz.getOrElse(s2, 0L)
      ix = inter.getOrElse((s1, s2), 0L)
      uni = sz1 + sz2 - ix
    } yield (s1, s2, sz1, sz2, ix,
      if (uni > 0) (BigInt(ix) * 65536 / uni).toLong else 0L,
      if (math.min(sz1, sz2) > 0)
        (BigInt(ix) * 65536 / math.min(sz1, sz2)).toLong
      else 0L)
    import spark.implicits._
    rows.toDF("s1", "s2", "sz1", "sz2", "inter", "jaccard_fix",
      "containment_fix").orderBy("s1", "s2")
  }

  /** Sketch tier: one corpus pass condenses each source to its k
    * smallest distinct gram hashes (KMV — fixed-size, mergeable,
    * partition-invariant); all pair math runs on the |sources| × k
    * collected signatures. The union's k smallest are exactly the k
    * smallest of the two signature merges, and any union-top-k hash
    * belonging to source A necessarily sits in A's signature (it is
    * below A's k-th smallest), so the min-k coincidence count is
    * exact over the sampled region — Broder's estimator. When a pair's
    * union holds < k grams the signatures are exhaustive over it and
    * every output equals the exact tier bit-for-bit.
    */
  private def q215SketchMatrix(spark: SparkSession, d: DataFrame,
      sources: Array[String]): DataFrame = {
    import graft.functions.Kmv
    val n = 8
    val k = 256
    val sigs = d
      .select(col("source"),
        graft.text.Decontaminate.wordTokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("__toks")) - (n - 1)),
        i => Kmv.hash62(array_join(slice(col("__toks"), i, lit(n)), " "))))
        .as("h"))
      .groupBy("source")
      .agg(Kmv.sketch(col("h"), k).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    def est(sig: Array[Long]): Long =
      if (sig.length < k) sig.length.toLong
      else ((BigInt(k - 1) << 62) / BigInt(sig(k - 1) max 1L)).toLong
    val rows = for {
      i <- sources.indices; j <- (i + 1) until sources.length
      s1 = sources(i); s2 = sources(j)
      a = sigs.getOrElse(s1, Array.empty[Long])
      b = sigs.getOrElse(s2, Array.empty[Long])
      merged = (a ++ b).distinct.sorted.take(k)
      kAct = merged.length
      aSet = a.toSet; bSet = b.toSet
      kCom = merged.count(h => aSet(h) && bSet(h))
      uniEst = est(merged)
      sz1 = est(a); sz2 = est(b)
      ixEst = if (kAct > 0) (BigInt(kCom) * uniEst / kAct).toLong else 0L
    } yield (s1, s2, sz1, sz2, ixEst,
      if (kAct > 0) (BigInt(kCom) * 65536 / kAct).toLong else 0L,
      if (math.min(sz1, sz2) > 0)
        (BigInt(ixEst) * 65536 / math.min(sz1, sz2)).toLong
      else 0L)
    import spark.implicits._
    rows.toDF("s1", "s2", "sz1", "sz2", "inter", "jaccard_fix",
      "containment_fix").orderBy("s1", "s2")
  }

  val q215Sql: String =
    """WITH toks AS (
      |  SELECT source, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |g AS MATERIALIZED (
      |  SELECT DISTINCT source, md5(array_to_string(tk[i:i+7], ' ')) AS g
      |  FROM toks, UNNEST(generate_series(1, len(tk) - 7)) t(i)
      |  WHERE len(tk) >= 8),
      |szg AS (SELECT source, count(*)::BIGINT AS sz FROM g GROUP BY source),
      |srcs AS (SELECT DISTINCT source FROM documents),
      |sz AS MATERIALIZED (
      |  SELECT s.source, coalesce(z.sz, 0) AS sz
      |  FROM srcs s LEFT JOIN szg z USING (source)),
      |ix AS (
      |  SELECT a.source AS s1, b.source AS s2, count(*)::BIGINT AS inter
      |  FROM g a JOIN g b USING (g) WHERE a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT a.source AS s1, b.source AS s2, a.sz AS sz1, b.sz AS sz2,
      |       coalesce(i.inter, 0)::BIGINT AS inter,
      |       CASE WHEN a.sz + b.sz - coalesce(i.inter, 0) > 0 THEN
      |         CAST(coalesce(i.inter, 0)::HUGEINT * 65536
      |              // (a.sz + b.sz - coalesce(i.inter, 0)) AS BIGINT)
      |       ELSE 0 END AS jaccard_fix,
      |       CASE WHEN least(a.sz, b.sz) > 0 THEN
      |         CAST(coalesce(i.inter, 0)::HUGEINT * 65536
      |              // least(a.sz, b.sz) AS BIGINT)
      |       ELSE 0 END AS containment_fix
      |FROM sz a JOIN sz b ON a.source < b.source
      |LEFT JOIN ix i ON i.s1 = a.source AND i.s2 = b.source
      |ORDER BY s1, s2""".stripMargin

  /** q239: the OVERLAP sketch tier under the driver's hash gate
    * (round-11 verdict #2, overlap family — OverlapTierSpec's
    * below-capacity envelope as an oracled query). Every document's
    * text is replaced by a synthetic 8-token phrase determined by
    * doc_id % 60, so each doc contributes exactly one 8-gram and the
    * whole gram universe holds ≤ 60 distinct grams — every source
    * pair's union sits far below the KMV capacity k = 256 at ANY scale
    * factor, where the signature is exhaustive and Broder's estimator
    * is EXACT. Both q215 tiers run on that envelope corpus and emit
    * side by side; the oracle computes the exact matrix once (gram ↔
    * doc_id % 60 is a bijection, so it counts residues instead of
    * replaying md5) and projects it under both column sets. The
    * envelope bounds gram VALUES, not rows — both tiers still scan the
    * full corpus.
    */
  def q239OverlapTierEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val toks = (0 until 8).map(i =>
      concat(lit("w"), (col("doc_id") % 60).cast("string"), lit(s"p$i")))
    val env = Load.table(spark, dir, "documents")
      .select(col("source"), concat_ws(" ", toks: _*).as("text"))
    val sources = env.select("source").distinct()
      .collect().map(_.getString(0)).sorted
    val exact = q215ExactMatrix(spark, env, sources)
    val sketch = q215SketchMatrix(spark, env, sources)
      .select(col("s1"), col("s2"), col("sz1").as("sz1_sk"),
        col("sz2").as("sz2_sk"), col("inter").as("inter_sk"),
        col("jaccard_fix").as("jaccard_fix_sk"),
        col("containment_fix").as("containment_fix_sk"))
    // both matrices are |sources|²-row relations assembled on the
    // driver from bounded aggregates — the join is trivial
    exact.join(sketch, Seq("s1", "s2")).orderBy("s1", "s2")
  }

  val q239Sql: String =
    """WITH g AS MATERIALIZED (
      |  SELECT DISTINCT source, doc_id % 60 AS gid FROM documents),
      |szg AS (SELECT source, count(*)::BIGINT AS sz FROM g GROUP BY source),
      |srcs AS (SELECT DISTINCT source FROM documents),
      |sz AS MATERIALIZED (
      |  SELECT s.source, coalesce(z.sz, 0) AS sz
      |  FROM srcs s LEFT JOIN szg z USING (source)),
      |ix AS (
      |  SELECT a.source AS s1, b.source AS s2, count(*)::BIGINT AS inter
      |  FROM g a JOIN g b USING (gid) WHERE a.source < b.source
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT a.source AS s1, b.source AS s2, a.sz AS sz1, b.sz AS sz2,
      |         coalesce(i.inter, 0)::BIGINT AS inter,
      |         CASE WHEN a.sz + b.sz - coalesce(i.inter, 0) > 0 THEN
      |           CAST(coalesce(i.inter, 0)::HUGEINT * 65536
      |                // (a.sz + b.sz - coalesce(i.inter, 0)) AS BIGINT)
      |         ELSE 0 END AS jaccard_fix,
      |         CASE WHEN least(a.sz, b.sz) > 0 THEN
      |           CAST(coalesce(i.inter, 0)::HUGEINT * 65536
      |                // least(a.sz, b.sz) AS BIGINT)
      |         ELSE 0 END AS containment_fix
      |  FROM sz a JOIN sz b ON a.source < b.source
      |  LEFT JOIN ix i ON i.s1 = a.source AND i.s2 = b.source)
      |SELECT s1, s2, sz1, sz2, inter, jaccard_fix, containment_fix,
      |       sz1 AS sz1_sk, sz2 AS sz2_sk, inter AS inter_sk,
      |       jaccard_fix AS jaccard_fix_sk,
      |       containment_fix AS containment_fix_sk
      |FROM m ORDER BY s1, s2""".stripMargin

  /** q150: winnowing-fingerprint near-dup pairs (Schleimer et al. 2003,
    * the MOSS scheme) — the LOCAL fingerprinting tier between exact
    * shingles (every position — q34's index weight) and MinHash (a
    * global per-doc sketch — q32, blind to WHERE the overlap is):
    * window-minimum k-gram hashes guarantee any shared run ≥ w+k−1
    * chars shares a fingerprint while indexing only ~2/(w+1) of
    * positions ([[graft.functions.HashKernels.winnowHash64]], one
    * codegen'd pass, unsigned minima). Pairs come from the standard
    * inverted-index discipline: (doc, fingerprint) postings, hot
    * fingerprints df-pruned (df ≤ 50 — on this tiny-vocab corpus the
    * gram space saturates, and rare fingerprints are the discriminative
    * ones; same lever as sparse cosine's df cut), equi-join on the
    * fingerprint, pair count ≥ 5. k = 12 / w = 8 fits THIS corpus:
    * 5-char grams saturate its ~30-word vocabulary, so df pruning
    * killed the shared fingerprints (measured 356/500 planted recall);
    * 12-char grams span word sequences and stay doc-discriminative —
    * all 500 planted copies surface (n_shared up to 115) alongside the
    * corpus's real repeated-run pairs. Oracle: positional (non-distinct) hash chain +
    * `list_min` window replay over the q32 polynomial+finalizer
    * mirror — HUGEINT order IS the kernel's unsigned order. Scale: two
    * hash-keyed shuffles (df count, pair count); only 8-byte
    * fingerprints and ids travel.
    */
  def q150WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val uni = d.select(col("doc_id"), col("text")).unionByName(
      d.select((col("doc_id") + lit(100000L)).as("doc_id"),
        concat(col("text"), lit(" appended tail marker")).as("text")))
    val fp = uni.select(col("doc_id"),
      explode(graft.functions.HashExprs.winnowHash64(col("text"), 12, 8)).as("h"))
    val dfc = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50)
      .select("h")
    val rare = fp.join(dfc, "h")
    rare.as("a").join(rare.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy("id_a", "id_b")
  }

  val q150Sql: String = {
    val (wn, ww) = (12, 8) // k-gram length, winnow window — match the query
    val poly = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      s"codes[i:least(i+${wn - 1}, n_ch)]), (acc, c) -> (acc * 31 + c) % " + Mod64 + ")"
    s"""WITH uni AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' appended tail marker' FROM documents),
       |${shingleCtesFrom("uni")},
       |ph AS MATERIALIZED (
       |  SELECT doc_id, list_transform(
       |    generate_series(1, greatest(1, n_ch - ${wn - 1})), i -> ${finalizerSql(poly)}) AS hs
       |  FROM cds),
       |win AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(1, len(hs) - ${ww - 1})),
       |    j -> list_min(hs[j:j+${ww - 1}]))) AS sel
       |  FROM ph),
       |fp AS MATERIALIZED (SELECT doc_id, unnest(sel) AS h FROM win),
       |dfc AS MATERIALIZED (SELECT h FROM fp GROUP BY h HAVING count(*) <= 50),
       |rare AS MATERIALIZED (SELECT f.doc_id, f.h FROM fp f JOIN dfc USING (h)),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
       |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared FROM pairs
       |WHERE n_shared >= 5 ORDER BY id_a, id_b""".stripMargin
  }

  /** q151: sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    * third blocking family next to hash buckets (LSH, q32) and
    * inverted fingerprints (q150): sort the corpus by a normalized
    * key and pair every record with its ≤ W successors, so near-dups
    * whose keys COLLATE together become candidates even when no exact
    * token matches (typo'd prefixes sort adjacent). The global sort is
    * the q146 exact-rank machinery — value-histogram base broadcast +
    * per-key tie windows, NO corpus-wide window — and the window pairs
    * come from an equi-join on rank+j (j ∈ 1..3, a narrow explode),
    * never a range join. Keys here are the first 24 chars of the q31
    * fingerprint normalization, so the planted case-flipped/
    * whitespace-mangled copies collapse onto their originals' keys and
    * surface as dist-1 same-key pairs. Oracle: the global row_number
    * window this plan avoids + a BETWEEN self-join.
    */
  def q151SortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
    val uni = d.select(col("doc_id"), col("text")).unionByName(
      d.select((col("doc_id") + lit(100000L)).as("doc_id"),
        upper(regexp_replace(col("text"), " ", "   ")).as("text")))
    val keyed = uni.select(col("doc_id"),
      substring(graft.functions.HashExprs.fingerprintNormalize(col("text")),
        1, 24).as("skey"))
    val ranked = graft.ops.Ordering.exactRank(keyed, "skey", "doc_id")
    val a = ranked.select(col("doc_id").as("id_a"), col("skey").as("key_a"),
        col("rank").as("rank_a"))
      .withColumn("j", explode(array(lit(1), lit(2), lit(3))))
      .withColumn("rank_b", col("rank_a") + col("j"))
    val b = ranked.select(col("doc_id").as("id_b"), col("skey").as("key_b"),
      col("rank").as("rank_b"))
    a.join(b, "rank_b")
      .select(col("id_a"), col("id_b"), col("j").cast(LongType).as("dist"),
        (col("key_a") === col("key_b")).cast(IntegerType).as("same_key"))
      .orderBy("id_a", "id_b")
  }

  val q151Sql: String =
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, upper(regexp_replace(text, ' ', '   ', 'g'))
      |  FROM documents),
      |k AS (
      |  SELECT doc_id,
      |         substring(regexp_replace(regexp_replace(lower(text),
      |           '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g'), 1, 24) AS skey
      |  FROM uni),
      |r AS (
      |  SELECT doc_id, skey,
      |         CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS rnk
      |  FROM k)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(b.rnk - a.rnk AS BIGINT) AS dist,
      |       CAST(a.skey = b.skey AS INTEGER) AS same_key
      |FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Fellegi–Sunter m-priors for q153's comparison fields as
    * (⌊m·2³⁰⌋, ⌊(1−m)·2³⁰⌋) — ONE source interpolated into both
    * engines, so a regenerated constant can never drift: lang/source
    * m = 0.95, fingerprint head m = 0.85, length bucket m = 0.70.
    */
  private val FsM: Seq[(String, Long, Long)] = Seq(
    ("lang", 1020054732L, 53687091L),
    ("source", 1020054732L, 53687091L),
    ("head", 912680550L, 161061273L),
    ("lenb", 751619276L, 322122547L))

  /** q153: Fellegi–Sunter probabilistic record linkage (JASA 1969,
    * [[graft.ops.RecordLinkage]]) — the SCORING tier between blocking
    * (q32/q150/q151) and cluster formation (q47): candidate pairs get
    * a log-likelihood-ratio score summed over per-field agreement /
    * disagreement weights, with u (random-pair agreement) estimated
    * EXACTLY from the record population's value frequencies — so
    * "same fingerprint head" earns ~10 bits while "same language"
    * earns ~2 (the field-informativeness asymmetry the method exists
    * for). Population: documents ∪ field-perturbed replicas (lang
    * wiped on id%5, source suffixed on id%7, head broken on id%11,
    * case/whitespace-mangled on id%3 — normalization absorbs the
    * latter); candidates: each replica against its original (match
    * population) and its id-successor's original (non-match
    * population). Everything fixed-point (2⁻³⁰ probability floors,
    * 16.16 square-and-shift logs), so the oracle replays every weight
    * bit via the 16-step log CTE and the three-way link / possible /
    * non-link decision is an integer compare.
    */
  /** q153's record population (documents ∪ field-perturbed replicas)
    * with the four Fellegi–Sunter comparison fields, PLUS `f_tail` (the
    * last 16 normalized chars) for q235's second blocking pass — the
    * 'zz '-prefixed replicas break the head but keep the tail, the
    * textbook reason sorted-neighborhood runs multi-pass with a
    * reversed key. Shared by q153 and q235 so the two corpora cannot
    * drift.
    */
  private[graft] def fsRecords(spark: SparkSession, dir: String): DataFrame =
    fsRecordsEx(spark, dir, withBody = false)

  /** [[fsRecords]] plus `f_body` — a 256-char ASCII-only normalized
    * text prefix, the PAYLOAD comparison field for the q242/q243
    * edit-distance ER pair. ASCII-only (non-ASCII stripped after the
    * shared normalization) so Spark's and DuckDB's `levenshtein` count
    * the same units; computed inside the same select so the 4 key
    * fields cannot drift from [[fsRecords]]'. */
  private[graft] def fsPayloadRecords(spark: SparkSession,
      dir: String): DataFrame = fsRecordsEx(spark, dir, withBody = true)

  private def fsRecordsEx(spark: SparkSession, dir: String,
      withBody: Boolean): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select("doc_id", "lang", "source", "text")
    val replica = d.select(
      (col("doc_id") + 100000L).as("doc_id"),
      when(col("doc_id") % 5 === 0, lit("xx"))
        .otherwise(col("lang")).as("lang"),
      when(col("doc_id") % 7 === 0, concat(col("source"), lit("_m")))
        .otherwise(col("source")).as("source"),
      when(col("doc_id") % 11 === 0, concat(lit("zz "), col("text")))
        .when(col("doc_id") % 3 === 0,
          upper(regexp_replace(col("text"), " ", "   ")))
        .otherwise(col("text")).as("text"))
    val baseCols = Seq(col("doc_id"),
      col("lang").as("f_lang"), col("source").as("f_source"),
      substring(col("__norm"), 1, 16).as("f_head"),
      expr("CAST(length(text) AS BIGINT) div 64").cast("string")
        .as("f_lenb"),
      // last-16 window, branch-pinned (not substring(-16)): Spark's
      // negative-pos and DuckDB's right() clamp short strings
      // differently enough to not be worth trusting
      when(length(col("__norm")) <= 16, col("__norm"))
        .otherwise(expr(
          "substring(__norm, length(__norm) - 15, 16)")).as("f_tail"))
    val bodyCol =
      if (withBody)
        Seq(substring(regexp_replace(col("__norm"), "[^a-z0-9 ]", ""),
          1, 256).as("f_body"))
      else Nil
    d.unionByName(replica)
      .withColumn("__norm",
        graft.functions.HashExprs.fingerprintNormalize(col("text")))
      .select(baseCols ++ bodyCol: _*)
  }

  def q153FellegiSunter(spark: SparkSession, dir: String): DataFrame = {
    val records = fsRecords(spark, dir)
    val a = records.filter(col("doc_id") < 100000L).select(
      col("doc_id").as("id_a"), col("f_lang").as("lang_a"),
      col("f_source").as("source_a"), col("f_head").as("head_a"),
      col("f_lenb").as("lenb_a"))
    val b = records.filter(col("doc_id") >= 100000L).select(
      (col("doc_id") - 100000L).as("orig"), col("doc_id").as("id_b"),
      col("f_lang").as("lang_b"), col("f_source").as("source_b"),
      col("f_head").as("head_b"), col("f_lenb").as("lenb_b"))
    val pairs = a.join(b, col("id_a") === col("orig")).drop("orig")
      .unionByName(a.join(b, col("id_a") + 1 === col("orig")).drop("orig"))
    val weights = RecordLinkage.fieldWeights(records, erFsFields)
    RecordLinkage.scorePairs(pairs, weights, erFsFields)
      .select(col("id_a"), col("id_b"), col("agree_lang"),
        col("agree_source"), col("agree_head"), col("agree_lenb"),
        col("n_agree"), col("score_fix"), col("decision"))
      .orderBy("id_a", "id_b")
  }

  /** Shared oracle CTEs for the Fellegi–Sunter stack: record population
    * + comparison fields (incl. the tail key only q235 blocks on) —
    * interpolated into BOTH q153Sql and q235Sql so the corpora cannot
    * drift between the scoring-tier gate and the composed pipeline.
    */
  private val fsCorpusCtes: String =
    """recs AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |         CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END,
      |         CASE WHEN doc_id % 7 = 0 THEN source || '_m' ELSE source END,
      |         CASE WHEN doc_id % 11 = 0 THEN 'zz ' || text
      |              WHEN doc_id % 3 = 0
      |                THEN upper(regexp_replace(text, ' ', '   ', 'g'))
      |              ELSE text END
      |  FROM documents),
      |fl0 AS MATERIALIZED (
      |  SELECT doc_id, lang, source, text,
      |         regexp_replace(regexp_replace(lower(text),
      |           '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g') AS tnorm
      |  FROM recs),
      |flds AS MATERIALIZED (
      |  SELECT doc_id, lang AS f_lang, source AS f_source,
      |         substring(tnorm, 1, 16) AS f_head,
      |         CAST(length(text) // 64 AS VARCHAR) AS f_lenb,
      |         CASE WHEN length(tnorm) <= 16 THEN tnorm
      |              ELSE substring(tnorm, length(tnorm) - 15, 16)
      |         END AS f_tail
      |  FROM fl0)""".stripMargin

  /** Shared oracle CTEs for the exact-u + 16.16 fixed-log FS weights
    * (consume `$flds`, produce `${p}w(field, wa, wd)`) — the 16-step
    * square-and-shift log replay. Name-prefixed so an oracle can carry
    * one copy per corpus generation (q241 computes weights on the
    * history corpus AND the merged corpus in one statement).
    */
  private def fsWeightCtesFor(p: String, flds: String): String = {
    val mqValues = FsM.map { case (n, m, mc) => s"('$n', $m, $mc)" }
      .mkString(", ")
    s"""${p}fv AS (
       |  SELECT 'lang' AS field, f_lang AS v FROM $flds
       |  UNION ALL SELECT 'source', f_source FROM $flds
       |  UNION ALL SELECT 'head', f_head FROM $flds
       |  UNION ALL SELECT 'lenb', f_lenb FROM $flds),
       |${p}vc AS (SELECT field, v, count(*)::BIGINT AS c FROM ${p}fv
       |       GROUP BY field, v),
       |${p}st AS (SELECT field, CAST(sum(c * (c - 1)) AS HUGEINT) AS u_num,
       |              CAST(sum(c) AS HUGEINT) AS m_rows
       |       FROM ${p}vc GROUP BY field),
       |${p}uq AS (SELECT field,
       |         CAST(greatest((u_num * 1073741824)
       |           // (m_rows * (m_rows - 1)), 1) AS BIGINT) AS u_q,
       |         CAST(greatest(((m_rows * (m_rows - 1) - u_num) * 1073741824)
       |           // (m_rows * (m_rows - 1)), 1) AS BIGINT) AS uc_q
       |       FROM ${p}st),
       |${p}mq(field, m_q, mc_q) AS (VALUES $mqValues),
       |${p}probs AS (
       |  SELECT field, 'u' AS kind, u_q AS p FROM ${p}uq
       |  UNION ALL SELECT field, 'uc', uc_q FROM ${p}uq
       |  UNION ALL SELECT field, 'm', m_q FROM ${p}mq
       |  UNION ALL SELECT field, 'mc', mc_q FROM ${p}mq),
       |${p}nrm AS (
       |  SELECT field, kind, greatest(p, 1) AS m, 0::BIGINT AS k FROM ${p}probs
       |  UNION ALL
       |  SELECT field, kind, m * 2, k + 1 FROM ${p}nrm WHERE m < 1073741824),
       |${p}normed AS (SELECT field, kind, m, k FROM ${p}nrm WHERE m >= 1073741824),
       |${p}sq AS (
       |  SELECT field, kind, k, m, 0 AS i, 0::BIGINT AS acc FROM ${p}normed
       |  UNION ALL
       |  SELECT field, kind, k,
       |         CASE WHEN m2 >= 2147483648::BIGINT THEN m2 // 2 ELSE m2 END,
       |         i + 1,
       |         acc * 2 + CASE WHEN m2 >= 2147483648::BIGINT THEN 1 ELSE 0 END
       |  FROM (SELECT field, kind, k, (m * m) // 1073741824 AS m2, i, acc
       |        FROM ${p}sq WHERE i < 16) s),
       |${p}lgv AS (SELECT field, kind, acc - k * 65536 AS lg FROM ${p}sq WHERE i = 16),
       |${p}w AS MATERIALIZED (SELECT mv.field, mv.lg - uv.lg AS wa, mcv.lg - ucv.lg AS wd
       |      FROM ${p}lgv mv
       |      JOIN ${p}lgv uv ON uv.field = mv.field AND uv.kind = 'u'
       |      JOIN ${p}lgv mcv ON mcv.field = mv.field AND mcv.kind = 'mc'
       |      JOIN ${p}lgv ucv ON ucv.field = mv.field AND ucv.kind = 'uc'
       |      WHERE mv.kind = 'm')""".stripMargin
  }

  private def fsWeightCtes: String = fsWeightCtesFor("", "flds")

  /** The whole FS chain — weights, two-pass blocking, scoring, links,
    * CC closure, survivorship — as name-prefixed CTEs over an arbitrary
    * flds relation, ending in `${p}links`, `${p}lab` and `${p}gold`.
    * q235 consumes one copy (p = ""); q241's oracle consumes TWO (the
    * history corpus and the merged corpus) to reproduce the nightly
    * sink state without trusting any intermediate artifact.
    */
  private def fsGoldChainFor(p: String, flds: String,
      snmWindow: Int = 3): String = {
    def pick(f: String, part: String): String =
      s"struct_extract(max(CASE WHEN $f IS NOT NULL THEN " +
        s"struct_pack(ver := ver, id := id, v := $f) END), '$part')"
    s"""${fsWeightCtesFor(p, flds)},
       |${p}hb AS MATERIALIZED (SELECT f_head FROM $flds GROUP BY 1 HAVING count(*) <= 50),
       |${p}hp AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         1 AS from_head, 0 AS from_snm
       |  FROM $flds a
       |  JOIN $flds b ON a.f_head = b.f_head AND a.doc_id < b.doc_id
       |  JOIN ${p}hb hb ON hb.f_head = a.f_head),
       |${p}rr AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY f_tail, doc_id) AS BIGINT)
       |           AS rnk
       |  FROM $flds),
       |${p}sp AS MATERIALIZED (
       |  SELECT least(a.doc_id, b.doc_id) AS id_a,
       |         greatest(a.doc_id, b.doc_id) AS id_b,
       |         0 AS from_head, 1 AS from_snm
       |  FROM ${p}rr a JOIN ${p}rr b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + $snmWindow),
       |${p}cand AS MATERIALIZED (
       |  SELECT id_a, id_b, max(from_head) AS from_head,
       |         max(from_snm) AS from_snm
       |  FROM (SELECT * FROM ${p}hp UNION ALL SELECT * FROM ${p}sp)
       |  GROUP BY 1, 2),
       |${p}scored AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b, c.from_head, c.from_snm,
       |    CAST((CASE WHEN a.f_lang = b.f_lang THEN wl.wa
       |               WHEN a.f_lang <> b.f_lang THEN wl.wd ELSE 0 END)
       |       + (CASE WHEN a.f_source = b.f_source THEN ws.wa
       |               WHEN a.f_source <> b.f_source THEN ws.wd ELSE 0 END)
       |       + (CASE WHEN a.f_head = b.f_head THEN wh.wa
       |               WHEN a.f_head <> b.f_head THEN wh.wd ELSE 0 END)
       |       + (CASE WHEN a.f_lenb = b.f_lenb THEN wn.wa
       |               WHEN a.f_lenb <> b.f_lenb THEN wn.wd ELSE 0 END)
       |      AS BIGINT) AS score_fix
       |  FROM ${p}cand c
       |  JOIN $flds a ON a.doc_id = c.id_a
       |  JOIN $flds b ON b.doc_id = c.id_b,
       |       ${p}w wl, ${p}w ws, ${p}w wh, ${p}w wn
       |  WHERE wl.field = 'lang' AND ws.field = 'source'
       |    AND wh.field = 'head' AND wn.field = 'lenb'),
       |${p}links AS MATERIALIZED (SELECT * FROM ${p}scored WHERE score_fix >= 131072),
       |${p}ue AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM ${p}links
       |  UNION SELECT id_b, id_a FROM ${p}links
       |  UNION SELECT id_a, id_a FROM ${p}links
       |  UNION SELECT id_b, id_b FROM ${p}links),
       |${p}reach(s, t) AS (
       |  SELECT a, b FROM ${p}ue
       |  UNION
       |  SELECT r.s, u.b FROM ${p}reach r JOIN ${p}ue u ON r.t = u.a),
       |${p}lab AS MATERIALIZED (SELECT s AS doc_id, min(t) AS cluster_id FROM ${p}reach
       |        GROUP BY s),
       |${p}mem AS MATERIALIZED (
       |  SELECT lab.cluster_id, f.doc_id AS id,
       |         CAST(f.doc_id % 11 AS BIGINT) AS ver,
       |         CASE WHEN f.f_lang <> 'xx' THEN f.f_lang END AS lang,
       |         f.f_source AS source
       |  FROM ${p}lab lab JOIN $flds f USING (doc_id)),
       |${p}gold AS MATERIALIZED (
       |  SELECT cluster_id, count(*)::BIGINT AS n_members,
       |         ${pick("lang", "v")} AS lang, ${pick("lang", "id")} AS lang_src,
       |         ${pick("source", "v")} AS source,
       |         ${pick("source", "id")} AS source_src
       |  FROM ${p}mem GROUP BY cluster_id)""".stripMargin
  }

  val q153Sql: String = {
    s"""WITH RECURSIVE $fsCorpusCtes,
       |$fsWeightCtes,
       |pa AS (SELECT doc_id AS id_a, f_lang AS la, f_source AS sa,
       |              f_head AS ha, f_lenb AS na
       |       FROM flds WHERE doc_id < 100000),
       |pb AS (SELECT doc_id - 100000 AS orig, doc_id AS id_b,
       |              f_lang AS lb, f_source AS sb, f_head AS hb,
       |              f_lenb AS nb
       |       FROM flds WHERE doc_id >= 100000),
       |prs AS MATERIALIZED (
       |  SELECT id_a, id_b, la, sa, ha, na, lb, sb, hb, nb
       |  FROM pa JOIN pb ON pb.orig = pa.id_a
       |  UNION ALL
       |  SELECT id_a, id_b, la, sa, ha, na, lb, sb, hb, nb
       |  FROM pa JOIN pb ON pb.orig = pa.id_a + 1),
       |ag AS (
       |  SELECT id_a, id_b,
       |         CAST(la = lb AS INTEGER) AS agree_lang,
       |         CAST(sa = sb AS INTEGER) AS agree_source,
       |         CAST(ha = hb AS INTEGER) AS agree_head,
       |         CAST(na = nb AS INTEGER) AS agree_lenb
       |  FROM prs),
       |sc AS (
       |  SELECT id_a, id_b,
       |    CAST(coalesce(agree_lang, 0) + coalesce(agree_source, 0)
       |       + coalesce(agree_head, 0) + coalesce(agree_lenb, 0)
       |      AS BIGINT) AS n_agree,
       |    CAST((CASE WHEN agree_lang = 1 THEN wl.wa
       |               WHEN agree_lang = 0 THEN wl.wd ELSE 0 END)
       |       + (CASE WHEN agree_source = 1 THEN ws.wa
       |               WHEN agree_source = 0 THEN ws.wd ELSE 0 END)
       |       + (CASE WHEN agree_head = 1 THEN wh.wa
       |               WHEN agree_head = 0 THEN wh.wd ELSE 0 END)
       |       + (CASE WHEN agree_lenb = 1 THEN wn.wa
       |               WHEN agree_lenb = 0 THEN wn.wd ELSE 0 END)
       |      AS BIGINT) AS score_fix
       |  FROM ag, w wl, w ws, w wh, w wn
       |  WHERE wl.field = 'lang' AND ws.field = 'source'
       |    AND wh.field = 'head' AND wn.field = 'lenb')
       |SELECT a.id_a, a.id_b, agree_lang, agree_source, agree_head,
       |       agree_lenb, n_agree, score_fix,
       |       CASE WHEN score_fix >= 131072 THEN 1
       |            WHEN score_fix >= -131072 THEN 0 ELSE -1 END AS decision
       |FROM ag a JOIN sc USING (id_a, id_b)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q235: the COMPOSED entity-resolution pipeline — the production
    * flow every tier above exists to serve, end-to-end in one oracled
    * query (round-10 verdict #5; the reference's analogue is the
    * composed datasets flow, datasets.py:336-465):
    *
    *   blocking (two passes) → cross-tier candidate dedup →
    *   Fellegi–Sunter scoring (q153's fields/weights, bit-identical) →
    *   link decision → connected components (q47's operator) →
    *   per-cluster survivorship (q154's operator) →
    *   cluster-quality audit (q220's clique/weakest-edge lens).
    *
    * Blocking pass 1 is the inverted head-fingerprint index (hot blocks
    * df-pruned at 50 — the q150 discipline, so a degenerate block costs
    * O(cap²) not O(n²)); pass 2 is sorted-neighborhood on the TAIL key
    * (q151's exact-rank machinery, window 3) — multi-pass SNM's whole
    * point: the 'zz '-prefixed replicas break the head but keep the
    * tail, so each pass catches dups the other structurally cannot.
    * Candidates from both passes union through one (id_a, id_b) groupBy
    * that also keeps per-tier provenance — the only cross-tier barrier,
    * and it's key-hashed, never global. Scoring, clustering, and
    * survivorship are the existing operators applied unchanged, so this
    * query gates their COMPOSITION (schema fit, label types, provenance
    * flow), not new math. Output: one row per duplicate cluster with
    * member/edge counts, clique flag, weakest link score, per-tier edge
    * counts, and the golden lang/source with donor ids.
    *
    * Scale shape: two blocking shuffles + one candidate-dedup shuffle +
    * the CC iterations (each id-keyed) + one survivorship aggregate;
    * weights broadcast; no corpus-wide window (exactRank is the
    * histogram path) and no all-pairs anywhere.
    */
  /** q235's two blocking passes over `records` (narrow key-only
    * relations — no payloads travel): inverted head-fingerprint index
    * (hot blocks df-pruned at 50, the q150 discipline) ∪ sorted
    * neighborhood on the tail key (q151's histogram exact-rank, the
    * spec's window), unioned through one (id_a, id_b) groupBy that keeps
    * per-tier provenance. Shared by the full runs (q235, q242) and the
    * incremental runs on the merged corpus (q236, q243) so the
    * candidate sets cannot drift.
    */
  private[graft] def fsBlockCandidates(records: DataFrame,
      spec: ErSpec): DataFrame =
    fsBlockCandidatesFrom(records,
      graft.ops.Ordering.exactRank(snmKeyed(records), "skey", "doc_id"),
      snmWindow = spec.snmWindow)

  /** The SNM key relation (doc_id, skey = tail key) — the thing the
    * maintained rank index is ordered by. */
  private[graft] def snmKeyed(records: DataFrame): DataFrame =
    records.select(col("doc_id"), col("f_tail").as("skey"))

  /** [[fsBlockCandidates]] with the SNM ranked relation (and optionally
    * the head histogram) supplied by the caller — the seam the
    * incremental path uses to rank via the MAINTAINED index
    * ([[graft.ops.Ordering.exactRankMerge]]) and to reuse the merged
    * `value_counts` for the head-block histogram instead of
    * re-aggregating the corpus (round-12 verdict #4). */
  private[graft] def fsBlockCandidatesFrom(records: DataFrame,
      ranked: DataFrame, headsOpt: Option[DataFrame] = None,
      snmWindow: Int): DataFrame = {
    // pass 1: inverted index on the head fingerprint, hot blocks pruned
    val heads = headsOpt.getOrElse(
      records.groupBy("f_head").agg(count(lit(1)).as("__c"))
        .filter(col("__c") <= 50).select("f_head"))
    val hkeyed = records.join(heads, "f_head").select("f_head", "doc_id")
    val headPairs = hkeyed.as("a").join(hkeyed.as("b"), "f_head")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(1).as("from_head"), lit(0).as("from_snm"))
    // pass 2: sorted neighborhood on the tail key, window `snmWindow`
    val wa = ranked.select(col("doc_id").as("__ida"), col("rank").as("rank_a"))
      .withColumn("j",
        explode(array((1 to snmWindow).map(lit): _*)))
      .withColumn("rank_b", col("rank_a") + col("j"))
    val wb = ranked.select(col("doc_id").as("__idb"), col("rank").as("rank_b"))
    val snmPairs = wa.join(wb, "rank_b")
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        lit(0).as("from_head"), lit(1).as("from_snm"))
    // cross-tier union + dedup with provenance — the composition barrier
    headPairs.unionByName(snmPairs)
      .groupBy("id_a", "id_b")
      .agg(max("from_head").as("from_head"), max("from_snm").as("from_snm"))
  }

  // ------------------------------------------------- ER field specs

  private val erFsFields = FsM.map { case (n, m, mc) =>
    Field(n, col(s"f_$n"), m, mc) }

  /** Reviewed-prior weights for the `body` fuzzy field (fuzzy agreement
    * has no value histogram, so no u-estimation): +12 / −6 bits in
    * 16.16 fixed point — strong evidence, as a 256-char edit-distance
    * agreement should be. Same literals on both engines. */
  private val BodyWaFix = 786432L // 12 << 16
  private val BodyWdFix = -393216L // -(6 << 16)
  private val BodyEditMax = 16

  /** One entity-resolution field set, as data: record source, compared
    * fields, agreement kernel, prior weight rows (field, w_agree_fix,
    * w_disagree_fix) for fields with no value histogram, SNM window.
    * Full scoring, generation-0 artifacts and the delta merge each have
    * one body taking [[ErKeys]] or [[ErPayload]]. */
  private[graft] final case class ErSpec(
      records: (SparkSession, String) => DataFrame,
      fields: Seq[Field],
      flag: DataFrame => DataFrame,
      priorWeights: Seq[(String, Long, Long)],
      snmWindow: Int) {
    /** The u-estimated fields: every compared field without a prior. */
    def estimated: Seq[Field] =
      fields.filterNot(f => priorWeights.exists(_._1 == f.name))
    def agreeCols: Seq[Column] = fields.map(f => col(s"agree_${f.name}"))
  }

  /** q235/q236/q240/q241: the four key fields by equality, window 3. */
  private[graft] val ErKeys = ErSpec(fsRecords, erFsFields,
    RecordLinkage.flagPairs(_, erFsFields), Nil, 3)

  /** q242/q243: the key fields plus `f_body` by bounded edit distance —
    * THE expensive comparison the incremental probe avoids repeating on
    * history pairs — over a widened SNM window (8). The lev_bounded
    * kernel (q128's verify tier) is value-identical to
    * `levenshtein(a,b) <= maxDist` but bands and early-exits instead of
    * the builtin's full |body|² DP (q242 67.8 s → see
    * OPTIMIZATION_r13.md). */
  private[graft] val ErPayload = ErSpec(fsPayloadRecords,
    erFsFields :+ Field("body", col("f_body"), 0L, 0L),
    pairs => RecordLinkage.flagPairs(pairs, erFsFields)
      .withColumn("agree_body",
        (graft.functions.TextExprs.levBounded(
          col("body_a"), col("body_b"), BodyEditMax) >= 0).cast("int")),
    Seq(("body", BodyWaFix, BodyWdFix)), 8)

  private def erSide(records: DataFrame, spec: ErSpec,
      side: String): DataFrame =
    records.select(col("doc_id").as(s"id_$side") +:
      spec.fields.map(f => f.expr.as(s"${f.name}_$side")): _*)

  /** Weights from the estimated fields' value `counts` plus the priors. */
  private def erWeights(spark: SparkSession, spec: ErSpec,
      counts: DataFrame): DataFrame = {
    import spark.implicits._
    val estimated = RecordLinkage.fieldWeightsFromCounts(counts,
      spec.estimated)
    if (spec.priorWeights.isEmpty) estimated
    else estimated.unionByName(spec.priorWeights
      .toDF("field", "w_agree_fix", "w_disagree_fix"))
  }

  private def erScorePairs(spec: ErSpec, cand: DataFrame,
      records: DataFrame, weights: DataFrame): DataFrame =
    RecordLinkage.scorePatterns(spec.flag(
      cand.join(erSide(records, spec, "a"), "id_a")
        .join(erSide(records, spec, "b"), "id_b")), weights, spec.fields)

  /** Candidates-artifact columns; the NEXT merge re-scores the patterns. */
  private def erCandCols(spec: ErSpec): Seq[Column] =
    Seq(col("id_a"), col("id_b"), col("from_head"), col("from_snm"),
      col("score_fix"), col("decision")) ++ spec.agreeCols

  /** Full scoring of the whole corpus: (persisted records, scored pairs). */
  private def erScoreFull(spark: SparkSession, spec: ErSpec,
      dir: String): (DataFrame, DataFrame) = {
    val records = spec.records(spark, dir)
      .persist() // feeds both blocking passes, u-estimation, and both pair sides
    val cand = fsBlockCandidates(records, spec)
    val weights = erWeights(spark, spec,
      RecordLinkage.valueCounts(records, spec.estimated))
    (records, erScorePairs(spec, cand, records, weights))
  }

  private def erClusters(edges: DataFrame): DataFrame =
    graft.graphs.ConnectedComponents.components(edges)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("component", "cluster_id")

  private def erGolden(records: DataFrame, labels: DataFrame): DataFrame =
    graft.ops.Survivorship.golden(
      records.join(labels, "doc_id").select(
        col("cluster_id"), col("doc_id").as("id"),
        (col("doc_id") % 11).as("ver"),
        when(col("f_lang") =!= "xx", col("f_lang")).as("lang"),
        col("f_source").as("source")),
      "cluster_id", "id", Seq("ver"), Seq("lang", "source"))

  /** q235's per-cluster report: golden record + link-edge audit. */
  private def erReport(golden: DataFrame, links: DataFrame,
      labels: DataFrame): DataFrame = {
    val edgeStats = links
      .join(labels.withColumnRenamed("doc_id", "id_a"), "id_a")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_link_edges"),
        min("score_fix").as("weakest_fix"),
        sum(col("from_head").cast(LongType)).as("n_from_head"),
        sum(col("from_snm").cast(LongType)).as("n_from_snm"))
    golden.join(edgeStats, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("n_link_edges"),
        (col("n_link_edges") * 2 ===
          col("n_members") * (col("n_members") - 1)).cast(IntegerType)
          .as("is_clique"),
        col("weakest_fix"), col("n_from_head"), col("n_from_snm"),
        col("lang"), col("lang_src"), col("source"), col("source_src"))
      .orderBy("cluster_id")
  }

  def q235DedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val (records, scored) = erScoreFull(spark, ErKeys, dir)
    val links = scored.filter(col("decision") === 1)
      .select("id_a", "id_b", "score_fix", "from_head", "from_snm")
      .persist() // feeds cluster formation AND the per-cluster edge audit
    val labels = erClusters(
      links.select(col("id_a").as("a"), col("id_b").as("b")))
    erReport(erGolden(records, labels), links, labels)
  }

  val q235Sql: String = {
    s"""WITH RECURSIVE $fsCorpusCtes,
       |${fsGoldChainFor("", "flds")},
       |es AS MATERIALIZED (
       |  SELECT lab.cluster_id, count(*)::BIGINT AS n_link_edges,
       |         min(score_fix) AS weakest_fix,
       |         CAST(sum(from_head) AS BIGINT) AS n_from_head,
       |         CAST(sum(from_snm) AS BIGINT) AS n_from_snm
       |  FROM links l JOIN lab ON lab.doc_id = l.id_a
       |  GROUP BY 1)
       |SELECT g.cluster_id, n_members, n_link_edges,
       |       CAST(n_link_edges * 2 = n_members * (n_members - 1)
       |         AS INTEGER) AS is_clique,
       |       weakest_fix, n_from_head, n_from_snm,
       |       lang, lang_src, source, source_src
       |FROM gold g JOIN es USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin
  }

  // ------------------------------------------------ q236 incremental ER

  /** The delta partition for q236's two-generation split: ~1/13 of the
    * fsRecords corpus plays "today's ingest batch" against the rest as
    * the already-clustered history. Applied to the FINAL record id so
    * planted duplicate pairs routinely straddle the split (replica in
    * the delta, original in history) — the cross-generation joins are
    * the whole point.
    */
  private[graft] def erIsDelta = col("doc_id") % 13 === 4

  /** Generation-0 build for q236 (registered in
    * [[graft.SparkEntry.prepare]] — Bench runs it outside the clock):
    * the FULL q235 pipeline over the HISTORY partition, persisting the
    * four artifacts a production nightly ER run maintains:
    *
    *   - `value_counts`  — per-(field, value) record counts, the
    *     ADDITIVE sufficient statistic for the Fellegi–Sunter
    *     u-probabilities (counts merge by sum, so the next generation's
    *     weights are EXACT without rescanning history);
    *   - `candidates`    — every blocked pair with provenance flags,
    *     per-field agreement PATTERN, score and decision (patterns are
    *     pair-content functions: re-scoring under next generation's
    *     weights is a broadcast map over 4 small ints, never a field
    *     re-comparison);
    *   - `labels`        — the connected-components star forest
    *     (doc_id, cluster_id), the mergeable checkpoint incremental CC
    *     extends;
    *   - `golden`        — the survivorship output per cluster, reused
    *     verbatim for clusters the delta does not touch.
    */
  def buildErGeneration(spark: SparkSession, dir: String): String =
    buildErGenerationAt(spark, dir, "er", !erIsDelta)

  /** [[buildErGeneration]] with the artifact tag and the history
    * predicate explicit — q240's two-generation build starts from a
    * history that excludes BOTH delta batches. */
  private[graft] def buildErGenerationAt(spark: SparkSession, dir: String,
      tag: String, histPred: Column): String =
    ScratchDirs.built(dir, tag) { base =>
      val hist = writeErScoring(spark, ErKeys, dir, base, histPred)
      erClusters(Load.parquet(spark, s"$base/candidates")
          .filter(col("decision") === 1)
          .select(col("id_a").as("a"), col("id_b").as("b")))
        .write.mode("overwrite").parquet(s"$base/labels")
      erGolden(hist, Load.parquet(spark, s"$base/labels"))
        .write.mode("overwrite").parquet(s"$base/golden")
      hist.unpersist()
    }

  /** Generation-0 scoring artifacts at `base` (fields, value_counts,
    * snm_rank, snm_hist, candidates) from the `histPred` records;
    * returns that history, persisted, for the caller to unpersist. */
  private[graft] def writeErScoring(spark: SparkSession, spec: ErSpec,
      dir: String, base: String, histPred: Column): DataFrame = {
    val hist = spec.records(spark, dir).filter(histPred).persist()
    // the record store itself: history FIELD VECTORS are a maintained
    // artifact (a production corpus never re-derives them per run), so
    // the probe re-normalizes only the delta's text — at sf1 the
    // fingerprint-normalization regex over 12/13 of the corpus was the
    // probe's single biggest avoidable cost
    hist.write.mode("overwrite").parquet(s"$base/fields")
    RecordLinkage.valueCounts(hist, spec.estimated)
      .write.mode("overwrite").parquet(s"$base/value_counts")
    // the maintained SNM sorted index (round-12 verdict #4): the ranked
    // relation + its key histogram are generation artifacts, so the
    // nightly merge extends them with delta corrections
    // (Ordering.exactRankMerge) instead of re-ranking the corpus
    graft.ops.Ordering.exactRank(snmKeyed(hist), "skey", "doc_id")
      .write.mode("overwrite").parquet(s"$base/snm_rank")
    snmKeyed(hist).groupBy("skey").agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$base/snm_hist")
    val weights = erWeights(spark, spec,
      Load.parquet(spark, s"$base/value_counts"))
    val cand = fsBlockCandidatesFrom(hist,
      Load.parquet(spark, s"$base/snm_rank"), snmWindow = spec.snmWindow)
    erScorePairs(spec, cand, hist, weights)
      .select(erCandCols(spec): _*)
      .write.mode("overwrite").parquet(s"$base/candidates")
    hist
  }

  /** q236: INCREMENTAL entity resolution — q235's composed pipeline run
    * the way a production nightly actually runs it (round-11 verdict
    * #4; the reference analogue is the SCD revision merge,
    * obsolete/prepare_data_for_es.py:28-241, whose whole point is not
    * re-processing unchanged rows): a ~1/13 delta batch arrives against
    * [[buildErGeneration]]'s clustered history, and the probe
    *
    *   1. updates the Fellegi–Sunter weights EXACTLY by sum-merging the
    *      history `value_counts` artifact with the delta's own counts
    *      (u-statistics are additive — no history rescan);
    *   2. re-runs only the KEY-ONLY blocking passes on the merged
    *      corpus (16-char keys + ids travel; SNM's global rank is the
    *      one inherently corpus-wide pass — at 100 TB that rank is a
    *      maintained sorted index, documented in SCALING.md);
    *   3. field-compares ONLY the delta-touched pairs (anti-join
    *      against the history candidate artifact); carried pairs
    *      re-score under the new weights from their persisted agreement
    *      PATTERNS — a broadcast map, no payloads;
    *   4. re-clusters via the star-forest checkpoint: unaffected old
    *      clusters enter as depth-1 stars; clusters that LOST an edge
    *      (hot-block crossings, SNM rank shifts, weight-flip decisions
    *      — all real in this corpus) are rebuilt from their surviving
    *      raw edges — the decremental path a pure union-find reuse
    *      cannot express;
    *   5. re-derives golden records ONLY for clusters whose membership
    *      changed; untouched clusters reuse the generation-0 rows.
    *
    * Oracle: full-recompute equality — q235Sql verbatim on the merged
    * corpus. Every shortcut above must be invisible in the output.
    */
  def q236IncrementalEr(spark: SparkSession, dir: String): DataFrame = {
    val base = buildErGeneration(spark, dir) // no-op when the untimed prepare ran
    // history fields come from the persisted record store; only the
    // delta's text pays the normalization regex (the doc_id filter
    // pushes below the projection into both union sides of fsRecords,
    // so the non-delta rows are pruned at the scan)
    erMergeStep(spark, base,
      fsRecords(spark, dir).filter(erIsDelta), rollTo = None)
  }

  /** [[erMerge]]'s result; `scored` carries `__hdec`, the pair's
    * generation-0 decision (NULL for new pairs). */
  private[graft] final case class ErMerge(records: DataFrame,
      vcMerged: DataFrame, ranked: DataFrame, scored: DataFrame)

  /** Delta scoring merge: fold `delta` (disjoint from the generation at
    * `base`) into counts, SNM index and blocking, then score carried
    * patterns ∪ newly flagged pairs in one scorePatterns pass. */
  private[graft] def erMerge(spark: SparkSession, spec: ErSpec, base: String,
      delta: DataFrame): ErMerge = {
    val records = Load.parquet(spark, s"$base/fields")
      .unionByName(delta).persist()
    // (1) exact weight update from additive value counts
    val vcMerged = Load.parquet(spark, s"$base/value_counts")
      .unionByName(RecordLinkage.valueCounts(delta, spec.estimated))
      .groupBy("field", "v").agg(sum("c").as("c"))
      // feeds the weights AND the head-block histogram; localCheckpoint
      // (not persist) because the relation is tiny (distinct
      // (field,value) pairs) and truncating its lineage here spares
      // both consumers the merged-counts subtree. LAZY (round 14): the
      // first consumer's job materializes it — an eager checkpoint was
      // one more driver job dispatch in a probe whose wall is job count
      .localCheckpoint(false)
    val weights = erWeights(spark, spec, vcMerged)
    // (2) key-only blocking on the merged corpus — with both corpus-wide
    // passes served from maintained artifacts (round-12 verdict #4):
    // the head-block histogram is a filter over the already-merged
    // value_counts (head is a scored field, same aggregate), and the
    // SNM rank comes from the persisted sorted index + delta
    // corrections (Ordering.exactRankMerge) — history is never
    // re-ranked and the corpus is never shuffled by tail key.
    val heads = vcMerged.filter(col("field") === "head" && col("c") <= 50)
      .select(col("v").as("f_head"))
    val ranked = graft.ops.Ordering.exactRankMerge(
        Load.parquet(spark, s"$base/snm_rank"),
        Load.parquet(spark, s"$base/snm_hist"),
        snmKeyed(delta), "skey", "doc_id")
      // feeds BOTH sides of the SNM pair join and (when rolling) the
      // next generation's index artifact; localCheckpoint — the merged
      // rank relation is 3 narrow columns and must materialize anyway,
      // and truncation stops the deep merge lineage from being
      // replicated per consumer in the plan. LAZY (round 14): the first
      // SNM-join job materializes it in-pass instead of a dedicated
      // checkpoint job
      .localCheckpoint(false)
    val candM = fsBlockCandidatesFrom(records, ranked, Some(heads),
      snmWindow = spec.snmWindow).persist()
    val candH = Load.parquet(spark, s"$base/candidates")
    // (3) carried pairs keep their persisted agreement patterns
    // (provenance comes from the merged blocking — a pair can gain or
    // lose a tier); only NEW pairs join the wide payloads. Routing is
    // ONE left join on the pair key (was inner + anti — the candH side
    // crossed the pair-key exchange twice through two projections);
    // membership rides an explicit lit(1) marker because a persisted
    // pattern can be genuinely NULL (null-fielded comparison), so
    // pattern nullness cannot route.
    // localCheckpoint (not persist): both branches scan it, and the
    // pair relation is narrow (keys + tier flags + small ints), so
    // truncating its lineage is cheap and each branch starts from the
    // materialized pairs. LAZY (round 14): the carried branch's first job
    // materializes it, saving the dedicated checkpoint dispatch
    // __hdec rides along: the OLD decision distinguishes carried links
    // that were old edges (both endpoints in one old cluster by
    // construction) from everything else — erMergeStep's raw-edge
    // routing exploits that to skip one corpus-scale labels join
    val markedM = candM.join(
      candH.select(Seq(col("id_a"), col("id_b"), lit(1).as("__h"),
        col("decision").as("__hdec")) ++ spec.agreeCols: _*),
      Seq("id_a", "id_b"), "left").localCheckpoint(false)
    val carried = markedM.filter(col("__h").isNotNull).drop("__h")
    val newPairs = markedM.filter(col("__h").isNull)
      .drop(Seq("__h", "__hdec") ++
        spec.fields.map(f => s"agree_${f.name}"): _*)
      .join(erSide(records, spec, "a"), "id_a")
      .join(erSide(records, spec, "b"), "id_b")
    // flag the new pairs FIRST, union with the carried patterns, score
    // ONCE (round 14): one weights broadcast and one score projection
    // instead of one per branch
    val patternCols = Seq(col("id_a"), col("id_b"), col("from_head"),
      col("from_snm")) ++ spec.agreeCols
    val scored = RecordLinkage.scorePatterns(
      carried.select(patternCols :+ col("__hdec"): _*).unionByName(
        spec.flag(newPairs)
          .select(patternCols :+ lit(null).cast("int").as("__hdec"): _*)),
      weights, spec.fields)
    ErMerge(records, vcMerged, ranked, scored)
  }

  /** One GENERATION-MERGE step — q236's probe factored so generations
    * COMPOSE: merge `delta` (a new record batch, disjoint from the
    * artifact generation at `base`) and, when `rollTo` is set, write the
    * NEXT generation's complete artifact set there (fields,
    * value_counts, candidates-with-patterns, labels, golden). The
    * rolled artifacts are EXACTLY what [[buildErGenerationAt]] would
    * produce from scratch on history∪delta (counts are additive,
    * patterns are content-pure, labels/golden are membership-pure), so
    * merge steps chain: tonight's output state is tomorrow's input
    * state — q240 proves the composition against the full-recompute
    * oracle.
    */
  private[graft] def erMergeStep(spark: SparkSession, base: String,
      delta: DataFrame, rollTo: Option[String]): DataFrame = {
    val ErMerge(records, vcMerged, ranked, scoredAll) =
      erMerge(spark, ErKeys, base, delta)
    val links = scoredAll.filter(col("decision") === 1)
      .select("id_a", "id_b", "score_fix", "from_head", "from_snm",
        "__hdec")
      .persist() // feeds CC, edge stats, and the removed-edge diff
    val candH = Load.parquet(spark, s"$base/candidates")
    // (4) decremental-aware incremental CC: an old link that did not
    // survive (pruned block / SNM shift / weight flip) invalidates its
    // old cluster's star — those clusters rebuild from raw edges
    val labelsH = Load.parquet(spark, s"$base/labels")
    val removed = candH.filter(col("decision") === 1)
      .select("id_a", "id_b")
      .join(links.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
    // id_a alone identifies the invalidated cluster: a removed pair had
    // decision=1 in the OLD generation, so its endpoints were connected
    // by that very edge and labelsH assigns both the SAME cluster_id —
    // the id_b union branch only re-derived it (round 14: one endpoint
    // projection + a half-sized distinct instead of union + distinct)
    val affected = labelsH.join(
        removed.select(col("id_a").as("doc_id")).distinct(), "doc_id")
      .select("cluster_id").distinct().withColumn("__aff", lit(1))
    val stars = labelsH.join(affected, Seq("cluster_id"), "left_anti")
      .select(col("doc_id").as("a"), col("cluster_id").as("b"))
    // raw edges: every current link EXCEPT those both of whose endpoints
    // sit in the SAME unaffected old cluster (the star already carries
    // that connectivity — this is the reuse). Split by __hdec (round
    // 14): a carried link whose OLD decision was 1 WAS an old edge, so
    // labelsH assigns both endpoints the SAME cluster — the exclusion
    // test collapses to "is that one cluster affected", ONE labels
    // lookup instead of two. That branch is the corpus-scale bulk of a
    // stable nightly (old edges that survived); the general two-lookup
    // path runs only on the delta-scale remainder (new pairs + carried
    // pairs whose old decision was not 1).
    val linksOld = links.filter(col("__hdec") === 1)
      .join(labelsH.select(col("doc_id").as("id_a"),
        col("cluster_id").as("__ca")), Seq("id_a"), "left")
      .join(affected.select(col("cluster_id").as("__ca"),
        col("__aff")), Seq("__ca"), "left")
      .filter(col("__aff").isNotNull)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val linksNew = links
      .filter(col("__hdec").isNull || col("__hdec") =!= 1)
      .join(labelsH.select(col("doc_id").as("id_a"),
        col("cluster_id").as("__ca")), Seq("id_a"), "left")
      .join(labelsH.select(col("doc_id").as("id_b"),
        col("cluster_id").as("__cb")), Seq("id_b"), "left")
      .join(affected.select(col("cluster_id").as("__ca"),
        col("__aff")), Seq("__ca"), "left")
      .filter(col("__ca").isNull || col("__cb").isNull ||
        col("__ca") =!= col("__cb") || col("__aff").isNotNull)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val rawEdges = linksOld.unionByName(linksNew)
    // persist the CC input: components() evaluates its edge relation
    // twice (the eager dedup checkpoint AND the node spine) — uncached,
    // the full stars∪rawEdges tree re-executed both times (measured:
    // the probe ran ~2× q235 at sf0.1 before this)
    val ccInput = stars.unionByName(rawEdges).persist()
    // localCheckpoint (components' own lineage discipline): labels feed
    // members, edge stats, AND touch detection — without truncation each
    // consumer re-executes the stars∪rawEdges tree. LAZY (round 14):
    // the members join materializes it in-pass
    val labels = erClusters(ccInput).localCheckpoint(false)
    // (5) survivorship only where membership changed: a new cluster is
    // UNTOUCHED iff its members are exactly one old cluster's members
    // (same labeled set, same old size) — then its min-id label, hence
    // its golden row, is unchanged by construction. Membership status
    // needs only (cluster_id, doc_id), which is `labels` VERBATIM —
    // members = records ⋈ labels adds payload fields the status agg
    // never reads (round 14: the corpus-wide records join now runs only
    // for TOUCHED clusters' golden recompute, the actual incremental
    // contract — at 100 TB that join is corpus-sized, touched is not)
    val goldenH = Load.parquet(spark, s"$base/golden")
    val status = labels.select(col("cluster_id"), col("doc_id").as("id"))
      .join(labelsH.select(col("doc_id").as("id"),
        col("cluster_id").as("__old")), Seq("id"), "left")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("__n"), count(col("__old")).as("__nl"),
        countDistinct(col("__old")).as("__nc"), min("__old").as("__oldc"))
      .join(goldenH.select(col("cluster_id").as("__oldc"),
        col("n_members").as("__oldn")), Seq("__oldc"), "left")
      .withColumn("__untouched",
        col("__nl") === col("__n") && col("__nc") === 1 &&
          col("__oldn") === col("__n"))
      .persist() // read twice: the touched filter and the reuse filter
    val touched = status.filter(!col("__untouched")).select("cluster_id")
    val golden = erGolden(records, labels.join(touched, "cluster_id"))
      .unionByName(goldenH.join(
        status.filter(col("__untouched")).select("cluster_id"),
        "cluster_id"))
    // roll the generation forward: the written set is bit-identical to
    // a from-scratch build on history∪delta (see scaladoc), so the next
    // merge consumes it exactly as q236 consumes generation 0
    rollTo.foreach { g =>
      records.write.mode("overwrite").parquet(s"$g/fields")
      vcMerged.write.mode("overwrite").parquet(s"$g/value_counts")
      scoredAll.select(erCandCols(ErKeys): _*)
        .write.mode("overwrite").parquet(s"$g/candidates")
      labels.write.mode("overwrite").parquet(s"$g/labels")
      golden.write.mode("overwrite").parquet(s"$g/golden")
      // the maintained SNM index rolls forward too: merged ranks are
      // already corrected, the histogram is additive
      ranked.write.mode("overwrite").parquet(s"$g/snm_rank")
      Load.parquet(spark, s"$base/snm_hist")
        .unionByName(
          snmKeyed(delta).groupBy("skey").agg(count(lit(1)).as("c")))
        .groupBy("skey").agg(sum("c").as("c"))
        .write.mode("overwrite").parquet(s"$g/snm_hist")
    }
    erReport(golden, links, labels)
  }

  /** Second delta batch for q240 — disjoint from [[erIsDelta]]. */
  private[graft] def erIsDelta2 = col("doc_id") % 13 === 9

  /** Two-generation build for q240 (prepare hook): generation 0 from a
    * history that excludes BOTH deltas, then ONE [[erMergeStep]] that
    * absorbs delta 1 and ROLLS the artifact set to generation 1. The
    * timed q240 probe is then the steady-state nightly: the second
    * night's merge against artifacts that were themselves produced by a
    * merge, not by a from-scratch build.
    */
  def buildErGenerations2(spark: SparkSession, dir: String): String =
    ScratchDirs.built(dir, "er2g1") { g1 =>
      val g0 = buildErGenerationAt(spark, dir, "er2g0",
        !erIsDelta && !erIsDelta2)
      // constructing the merge output is enough: the roll writes are
      // eager actions inside erMergeStep; the returned relation is the
      // night-1 report, not needed here
      erMergeStep(spark, g0,
        fsRecords(spark, dir).filter(erIsDelta), rollTo = Some(g1))
        .write.format("noop").mode("overwrite").save()
    }

  /** q240: MULTI-GENERATION incremental ER — the induction step q236
    * only asserts once: night 0 builds, night 1 merges delta 1 and
    * rolls its artifacts, night 2 (the timed/verified part) merges
    * delta 2 against night 1's ROLLED state. Oracle: q235Sql verbatim —
    * the composition of two incremental merges must be indistinguishable
    * from one from-scratch run on the full corpus, which is precisely
    * the fixpoint property that lets a production pipeline run
    * incrementally forever instead of only for one privileged delta.
    */
  def q240IncrementalEr2Gen(spark: SparkSession, dir: String): DataFrame = {
    val g1 = buildErGenerations2(spark, dir) // no-op when the untimed prepare ran
    erMergeStep(spark, g1,
      fsRecords(spark, dir).filter(erIsDelta2), rollTo = None)
  }

  /** q241: the COMPLETE production nightly — incremental ER merge
    * composed with the document-sink index lifecycle (round-12 verdict
    * #5; reference analogue: the dump_to_es.py:43-94 tail every
    * pipeline run ends with — revision sweep + first-seen carry-over —
    * fed by the prepare_data_for_es.py revision merge). Night 0 indexes
    * the history generation's golden records at revision 1 with a
    * deterministic first-seen stamp; the nightly then (a) runs q236's
    * incremental merge against the maintained artifacts, (b) flags each
    * merged golden record as changed/unchanged against the generation-0
    * golden artifact, and (c) re-indexes the merged goldens at revision
    * 2 through [[graft.sinks.DocumentSink.index]], whose carry-over
    * keeps night-0 stamps for clusters that already existed and whose
    * revision sweep removes clusters that dissolved (absorbed by a
    * delta-bridged merge). Output: the store read back through the K3
    * collate shape — so the hash gate covers ER-merge equality AND all
    * three sink semantics at once.
    *
    * Scale posture: every relation here is |clusters|-sized (≪ corpus);
    * the carry-over and changed-flag joins are key-only on cluster_id.
    * The store rewrite is the parquet stand-in for a Delta/Iceberg
    * MERGE, exactly as in q45.
    */
  def q241NightlyErSink(spark: SparkSession, dir: String): DataFrame = {
    val base = buildErGeneration(spark, dir) // no-op when the untimed prepare ran
    val store = ScratchDirs.fresh(dir, "ernight") + "/store"
    // JSON-stable golden payload: to_json drops null fields, so the
    // nullable survivorship columns are coalesced to sentinels on BOTH
    // sides of the oracle compare
    def shaped(g: DataFrame): DataFrame = g.select(
      col("cluster_id"),
      col("n_members"),
      coalesce(col("lang"), lit("-")).as("lang"),
      coalesce(col("lang_src"), lit(-1L)).as("lang_src"),
      coalesce(col("source"), lit("-")).as("source"),
      coalesce(col("source_src"), lit(-1L)).as("source_src"))
    val g0 = shaped(Load.parquet(spark, s"$base/golden"))
    val b1 = g0.select(
      col("cluster_id").as("doc_id"),
      col("n_members"), col("lang"), col("lang_src"),
      col("source"), col("source_src"),
      lit(0).as("changed"),
      lit(1L).as("revision"),
      // deterministic first-seen stamp: cluster_id seconds after epoch
      col("cluster_id").cast(TimestampType).as("create_timestamp"))
    DocumentSink.index(spark, b1, store, currentRevision = 1L)
    val g1 = shaped(q236IncrementalEr(spark, dir))
    val prev = g0.select(col("cluster_id") +:
      g0.columns.filter(_ != "cluster_id")
        .map(c => col(c).as(s"__p_$c")).toSeq: _*)
    val b2 = g1.join(prev, Seq("cluster_id"), "left")
      .select(
        col("cluster_id").as("doc_id"),
        col("n_members"), col("lang"), col("lang_src"),
        col("source"), col("source_src"),
        when(col("__p_n_members").isNull ||
          col("__p_n_members") =!= col("n_members") ||
          col("__p_lang") =!= col("lang") ||
          col("__p_lang_src") =!= col("lang_src") ||
          col("__p_source") =!= col("source") ||
          col("__p_source_src") =!= col("source_src"), lit(1))
          .otherwise(lit(0)).as("changed"),
        lit(2L).as("revision"),
        // a LATER stamp that carry-over must discard for carried clusters
        (col("cluster_id") + 1000000000L).cast(TimestampType)
          .as("create_timestamp"))
    val swept = DocumentSink.index(spark, b2, store, currentRevision = 2L)
    val out = swept.select(
      col("doc_id"), col("revision"),
      col("n_members"), col("lang"), col("lang_src"),
      col("source"), col("source_src"), col("changed"),
      unix_timestamp(col("create_timestamp")).as("created_s"))
    DocumentSink.collate(out, kind = "golden").orderBy("doc_id")
  }

  /** Full-recompute oracle for [[q241NightlyErSink]]: TWO copies of the
    * entire FS chain — history corpus (doc_id % 13 <> 4) and merged
    * corpus — joined on cluster_id. Survivors are exactly the merged
    * generation's clusters (the sweep), created_s is the history stamp
    * when the cluster existed at night 0 (the carry-over) and the
    * night-1 stamp otherwise, and `changed` diffs the two golden
    * payloads. No artifact is trusted anywhere in this statement.
    */
  val q241Sql: String = {
    def n(c: String) = s"coalesce($c, -1)"
    def s(c: String) = s"coalesce($c, '-')"
    s"""WITH RECURSIVE $fsCorpusCtes,
       |hflds AS MATERIALIZED (SELECT * FROM flds WHERE doc_id % 13 <> 4),
       |${fsGoldChainFor("h", "hflds")},
       |${fsGoldChainFor("m", "flds")}
       |SELECT m.cluster_id AS doc_id,
       |  'golden' AS doc_kind,
       |  CAST(2 AS BIGINT) AS revision,
       |  CAST(1.0 AS DOUBLE) AS score,
       |  '{"n_members":' || m.n_members ||
       |  ',"lang":"' || ${s("m.lang")} ||
       |  '","lang_src":' || ${n("m.lang_src")} ||
       |  ',"source":"' || ${s("m.source")} ||
       |  '","source_src":' || ${n("m.source_src")} ||
       |  ',"changed":' || CASE WHEN h.cluster_id IS NULL
       |       OR h.n_members <> m.n_members
       |       OR ${s("h.lang")} <> ${s("m.lang")}
       |       OR ${n("h.lang_src")} <> ${n("m.lang_src")}
       |       OR ${s("h.source")} <> ${s("m.source")}
       |       OR ${n("h.source_src")} <> ${n("m.source_src")}
       |     THEN 1 ELSE 0 END ||
       |  ',"created_s":' || CASE WHEN h.cluster_id IS NOT NULL
       |       THEN m.cluster_id ELSE m.cluster_id + 1000000000 END ||
       |  '}' AS value
       |FROM mgold m LEFT JOIN hgold h USING (cluster_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- q242/q243 payload-heavy ER

  /** q242/q243's report: scored pairs with their patterns, pair order. */
  private def erPairReport(scored: DataFrame): DataFrame =
    scored.select(Seq(col("id_a"), col("id_b"), col("from_head"),
        col("from_snm")) ++ ErPayload.agreeCols ++
        Seq(col("n_agree"), col("score_fix"), col("decision")): _*)
      .orderBy("id_a", "id_b")

  /** q242: the PAYLOAD-HEAVY Fellegi–Sunter scoring pass, full
    * recompute — q235's key-only field set extended with `f_body`
    * (256-char normalized ASCII prefix) compared by bounded edit
    * distance, over a widened SNM window (8 vs 3). This is the
    * production MDM shape — long fuzzy comparison fields dominate the
    * wall (edit distance is O(|body|²) per pair; the 4 key equalities
    * are nanoseconds) — and therefore the configuration where q243's
    * carried-pattern shortcut MUST win: the full run pays levenshtein
    * on every blocked pair, every night. Benched beside q243 so the
    * artifact ships both walls (round-12 verdict #1).
    */
  def q242ErPayloadFull(spark: SparkSession, dir: String): DataFrame =
    erPairReport(erScoreFull(spark, ErPayload, dir)._2)

  /** Generation-0 build for q243 (prepare hook, untimed): history
    * partition scored in full — including the levenshtein pass — and
    * persisted with per-field agreement patterns, plus the same
    * maintained artifacts q236 rolls (additive counts, SNM rank index
    * + histogram, record store). */
  private[graft] def buildErPayloadGeneration(spark: SparkSession,
      dir: String): String = ScratchDirs.built(dir, "erp") { base =>
    writeErScoring(spark, ErPayload, dir, base, !erIsDelta).unpersist()
  }

  /** q243: the INCREMENTAL twin of q242 — same output, but the nightly
    * probe (a 1/13 delta against the generation-0 artifacts) pays the
    * levenshtein pass ONLY for delta-touched pairs: carried pairs
    * re-score from their persisted agreement patterns (a broadcast map
    * over 5 small ints), blocking runs key-only off the maintained SNM
    * index ([[graft.ops.Ordering.exactRankMerge]]) and the merged value
    * counts. Where q236 showed the bookkeeping overhead can exceed the
    * savings when fields are 4 cheap equalities, HERE the avoided work
    * is ~85% of an O(|body|²)-per-pair comparison pass — the measured
    * demonstration (round-12 verdict #1) that the nightly-merge design
    * wins exactly where the reference's production case lives (long
    * fuzzy fields). Oracle: [[q242Sql]] verbatim — full-recompute
    * equality on the merged corpus.
    */
  def q243ErPayloadIncremental(spark: SparkSession,
      dir: String): DataFrame = {
    val base = buildErPayloadGeneration(spark, dir) // no-op when prepare ran
    erPairReport(erMerge(spark, ErPayload, base,
      fsPayloadRecords(spark, dir).filter(erIsDelta)).scored)
  }

  /** Shared oracle for q242 AND q243 (full-recompute equality): the
    * q235 blocking + weight CTEs (window widened to 8), a body-prefix
    * relation, and the 5-field score with DuckDB's own `levenshtein`
    * — bodies are ASCII-only by construction so both engines count
    * identical units.
    */
  val q242Sql: String = {
    s"""WITH RECURSIVE $fsCorpusCtes,
       |pbdy AS MATERIALIZED (
       |  SELECT doc_id,
       |         substring(regexp_replace(tnorm, '[^a-z0-9 ]', '', 'g'),
       |                   1, 256) AS f_body
       |  FROM fl0),
       |${fsGoldChainFor("", "flds", snmWindow = ErPayload.snmWindow)},
       |ag AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b, c.from_head, c.from_snm,
       |         CAST(a.f_lang = b.f_lang AS INTEGER) AS agree_lang,
       |         CAST(a.f_source = b.f_source AS INTEGER) AS agree_source,
       |         CAST(a.f_head = b.f_head AS INTEGER) AS agree_head,
       |         CAST(a.f_lenb = b.f_lenb AS INTEGER) AS agree_lenb,
       |         CASE WHEN levenshtein(pa.f_body, pq.f_body)
       |                   <= $BodyEditMax
       |              THEN 1 ELSE 0 END AS agree_body
       |  FROM cand c
       |  JOIN flds a ON a.doc_id = c.id_a
       |  JOIN flds b ON b.doc_id = c.id_b
       |  JOIN pbdy pa ON pa.doc_id = c.id_a
       |  JOIN pbdy pq ON pq.doc_id = c.id_b),
       |sc AS (
       |  SELECT id_a, id_b,
       |    CAST(coalesce(agree_lang, 0) + coalesce(agree_source, 0)
       |       + coalesce(agree_head, 0) + coalesce(agree_lenb, 0)
       |       + coalesce(agree_body, 0) AS BIGINT) AS n_agree,
       |    CAST((CASE WHEN agree_lang = 1 THEN wl.wa
       |               WHEN agree_lang = 0 THEN wl.wd ELSE 0 END)
       |       + (CASE WHEN agree_source = 1 THEN ws.wa
       |               WHEN agree_source = 0 THEN ws.wd ELSE 0 END)
       |       + (CASE WHEN agree_head = 1 THEN wh.wa
       |               WHEN agree_head = 0 THEN wh.wd ELSE 0 END)
       |       + (CASE WHEN agree_lenb = 1 THEN wn.wa
       |               WHEN agree_lenb = 0 THEN wn.wd ELSE 0 END)
       |       + (CASE WHEN agree_body = 1 THEN $BodyWaFix
       |               WHEN agree_body = 0 THEN $BodyWdFix ELSE 0 END)
       |      AS BIGINT) AS score_fix
       |  FROM ag, w wl, w ws, w wh, w wn
       |  WHERE wl.field = 'lang' AND ws.field = 'source'
       |    AND wh.field = 'head' AND wn.field = 'lenb')
       |SELECT a.id_a, a.id_b, a.from_head, a.from_snm,
       |       agree_lang, agree_source, agree_head, agree_lenb,
       |       agree_body, n_agree, score_fix,
       |       CASE WHEN score_fix >= 131072 THEN 1
       |            WHEN score_fix >= -131072 THEN 0 ELSE -1 END AS decision
       |FROM ag a JOIN sc USING (id_a, id_b)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q220: dedup-cluster QUALITY audit — the QA pass a pipeline runs
    * before acting on near-dup clusters: connected components happily
    * chain A~B~C into one cluster even when A and C are nothing alike
    * (the false-merge failure mode of transitive dedup), so per cluster
    * this reports the weakest edge and whether the cluster is a CLIQUE
    * at the threshold (n_edges = size·(size−1)/2). A keep-one-per-
    * cluster policy is only safe on cliques with a strong weakest edge;
    * everything else needs the span/edit verify tiers. Edges are the
    * exact-Jaccard tier (θ = 0.8) over MinHash candidates — the oracle
    * brute-forces ALL pairs, so a candidate-tier recall miss surfaces
    * as a row mismatch (q34's contract) — and the cluster labels are
    * [[graft.graphs.ConnectedComponents]]. Both intermediates persist:
    * each feeds two consumers, and without the pin the LSH tail would
    * re-run per consumer. Jaccard stays the single-division double both
    * engines compute identically from identical integer set sizes
    * (q34's hash-gated precedent). Output: clusters of size ≥ 2 only.
    */
  def q220ClusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val edges = Dedup.ngramJaccardPairs(d, "text", "doc_id",
      threshold = 0.8).persist()
    val clusters = graft.graphs.ConnectedComponents
      .dedupClusters(edges.select("id_a", "id_b"),
        d.select(col("doc_id").as("id")))
      .persist()
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("size"))
    val stats = edges
      .join(clusters.select(col("id").as("id_a"), col("cluster_id")),
        Seq("id_a"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        min("jaccard").as("min_edge_jaccard"),
        max("jaccard").as("max_edge_jaccard"))
    sizes.filter(col("size") >= 2).join(stats, Seq("cluster_id"))
      .withColumn("is_clique",
        (col("n_edges") * 2 === col("size") * (col("size") - 1)).cast("int"))
      .withColumn("weak_link",
        (col("min_edge_jaccard") < 0.85).cast("int"))
      .orderBy("cluster_id")
  }

  val q220Sql: String =
    s"""WITH RECURSIVE dsrc AS (SELECT doc_id AS id, text FROM documents),
       |${bitsetCtes("dsrc")},
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    bit_count(a.bv & b.bv)::DOUBLE
       |      / (a.sz + b.sz - bit_count(a.bv & b.bv)) AS j
       |  FROM bs a JOIN bs b ON a.id < b.id
       |    AND 5 * least(a.sz, b.sz) >= 4 * greatest(a.sz, b.sz)),
      |e AS MATERIALIZED (SELECT id_a AS a, id_b AS b, j FROM pairs WHERE j >= 0.8),
      |ue AS MATERIALIZED (
      |  SELECT a, b FROM e UNION SELECT b, a FROM e
      |  UNION SELECT a, a FROM e UNION SELECT b, b FROM e),
      |reach(s, t) AS (
      |  SELECT a, b FROM ue
      |  UNION
      |  SELECT r.s, u.b FROM reach r JOIN ue u ON r.t = u.a),
      |comp AS MATERIALIZED (SELECT s AS id, min(t) AS cluster_id FROM reach GROUP BY s),
      |lab AS MATERIALIZED (
      |  SELECT d.doc_id AS id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
      |sz AS MATERIALIZED (SELECT cluster_id, count(*)::BIGINT AS size
      |       FROM lab GROUP BY 1),
      |es AS MATERIALIZED (
      |  SELECT l.cluster_id, count(*)::BIGINT AS n_edges,
      |         min(e.j) AS mn, max(e.j) AS mx
      |  FROM e JOIN lab l ON l.id = e.a GROUP BY 1)
      |SELECT s.cluster_id, s.size, es.n_edges,
      |       es.mn AS min_edge_jaccard, es.mx AS max_edge_jaccard,
      |       CAST(es.n_edges * 2 = s.size * (s.size - 1) AS INTEGER)
      |         AS is_clique,
      |       CAST(es.mn < 0.85 AS INTEGER) AS weak_link
      |FROM sz s JOIN es USING (cluster_id)
      |WHERE s.size >= 2 ORDER BY cluster_id""".stripMargin

  /** q221: int8-quantization RECALL audit — the acceptance test a
    * pipeline runs before switching its ANN candidate tier from float32
    * to the 4×-smaller int8 codes ([[graft.similarity.Embeddings]]): for
    * a bounded probe set (16 query vectors), score the corpus twice in
    * ONE broadcast-join pass — exact float cosine and quantized-code
    * cosine ([[graft.similarity.Embeddings.cosineInt8]], the scales
    * cancel so it is integer code math) — and report per query how many
    * of the exact top-5 the int8 top-5 retains (hits, recall_pct) plus
    * whether the top-1 survives. Both rank windows share the single
    * query_id exchange (one shuffle, two in-partition sorts). The oracle
    * replays quantization bit-for-bit: scale = max|v|/127 and
    * round(v/scale) are the same IEEE double ops in both engines (round
    * is half-away-from-zero in both; a shortest-repr double can never
    * cross the .5 boundary), and the dot products are the q40-proven
    * left-fold. Counts are integers → hash-stable. At 100 TB the probe
    * set stays bounded (sampled queries broadcast), the corpus is
    * scanned once, and per-partition output is capped by the rank
    * filter — the audit costs one pass regardless of corpus size.
    */
  def q221Int8Recall(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.{Embeddings => E}
    import org.apache.spark.sql.expressions.Window
    val e = Load.table(spark, dir, "embeddings").select("vec_id", "embedding")
    // zero vectors have no direction (cosine undefined, and their int8
    // struct carries scale 0 as the signal) — exclude them from both
    // sides rather than let a NaN sim8 float to rank 1.
    // fanOut: the 16×(float + int8 cosine) scoring pass is narrow and a
    // single-row-group input pins it to one task (measured 6 tasks /
    // 3.4 s of CPU at sf0.1); at 100 TB file splits make this a no-op
    val corpus = graft.ops.Par.fanOut(e).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("__cv"),
      E.quantizeInt8(col("embedding")).as("__cq"))
      .filter(col("__cq").getField("scale") > 0)
    val probes = broadcast(e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"),
        E.quantizeInt8(col("embedding")).as("__qq"))
      .filter(col("__qq").getField("scale") > 0))
    val scored = corpus.join(probes, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Ann.cosine(col("__qv"), col("__cv")).as("sim"),
        E.cosineInt8(col("__qq"), col("__cq")).as("sim8"))
    val wE = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val w8 = Window.partitionBy("query_id")
      .orderBy(col("sim8").desc, col("neighbor_id"))
    scored
      .withColumn("re", row_number().over(wE))
      .withColumn("r8", row_number().over(w8))
      .groupBy("query_id")
      .agg(
        sum(when(col("re") <= 5 && col("r8") <= 5, 1L).otherwise(0L))
          .as("hits"),
        max(when(col("re") === 1 && col("r8") === 1, 1).otherwise(0))
          .as("top1_agree"))
      .withColumn("recall_pct", col("hits") * 20)
      .select("query_id", "hits", "recall_pct", "top1_agree")
      .orderBy("query_id")
  }

  val q221Sql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)),
      |                        'max') / 127.0 AS scale
      |  FROM embeddings),
      |qz AS (
      |  SELECT vec_id, v, scale,
      |         CASE WHEN scale > 0
      |              THEN list_transform(v, x -> round(x / scale))
      |              ELSE list_transform(v, x -> 0.0) END AS qv
      |  FROM v),
      |p AS (SELECT vec_id AS query_id, v AS pv, qv AS pq
      |      FROM qz WHERE vec_id < 16 AND scale > 0),
      |s AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(pv, c.v)
      |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(c.v, c.v))) AS sim,
      |    list_dot_product(pq, c.qv)
      |      / (sqrt(list_dot_product(pq, pq)) * sqrt(list_dot_product(c.qv, c.qv))) AS sim8
      |  FROM p CROSS JOIN qz c WHERE c.vec_id <> query_id AND c.scale > 0),
      |r AS (
      |  SELECT query_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS re,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim8 DESC, neighbor_id) AS r8
      |  FROM s)
      |SELECT query_id,
      |       sum(CASE WHEN re <= 5 AND r8 <= 5 THEN 1 ELSE 0 END)::BIGINT AS hits,
      |       sum(CASE WHEN re <= 5 AND r8 <= 5 THEN 1 ELSE 0 END)::BIGINT * 20 AS recall_pct,
      |       max(CASE WHEN re = 1 AND r8 = 1 THEN 1 ELSE 0 END) AS top1_agree
      |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin

  /** q225: dedup disparate-impact audit — near-dup keep-one removes
    * documents at DIFFERENT rates across languages (boilerplate-heavy
    * or template-translated languages cluster more), a documented bias
    * of corpus dedup that shifts the training mixture silently. Per
    * language: corpus size, removed count under the q220 edge tier
    * (exact Jaccard ≥ 0.8 over MinHash candidates → connected
    * components → keep min-id), and the exact removal per-mille on the
    * integer grid. The oracle brute-forces all pairs (q220's contract:
    * a candidate-tier recall miss surfaces as a mismatch) and replays
    * the min-reachable-id labeling. Scale shape: the pair tier is the
    * banded/capped q32 path; the impact report is ONE lang-keyed
    * aggregation of the ≤|corpus| label relation — the audit adds no
    * pairwise work of its own.
    */
  def q225DedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents")
      .select("doc_id", "text", "lang")
    val edges = Dedup.ngramJaccardPairs(d, "text", "doc_id", threshold = 0.8)
    val clusters = graft.graphs.ConnectedComponents
      .dedupClusters(edges.select("id_a", "id_b"),
        d.select(col("doc_id").as("id")))
    d.select(col("doc_id").as("id"), col("lang"))
      .join(clusters.select("id", "is_canonical"), Seq("id"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("is_canonical"), 0L).otherwise(1L)).as("n_removed"))
      .withColumn("removal_per_mille",
        expr("(n_removed * 1000) div n_docs"))
      .select("lang", "n_docs", "n_removed", "removal_per_mille")
      .orderBy("lang")
  }

  val q225Sql: String =
    s"""WITH RECURSIVE dsrc AS (SELECT doc_id AS id, text FROM documents),
       |${bitsetCtes("dsrc")},
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    bit_count(a.bv & b.bv)::DOUBLE
       |      / (a.sz + b.sz - bit_count(a.bv & b.bv)) AS j
       |  FROM bs a JOIN bs b ON a.id < b.id
       |    AND 5 * least(a.sz, b.sz) >= 4 * greatest(a.sz, b.sz)),
      |e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs WHERE j >= 0.8),
      |ue AS MATERIALIZED (
      |  SELECT a, b FROM e UNION SELECT b, a FROM e
      |  UNION SELECT a, a FROM e UNION SELECT b, b FROM e),
      |reach(s, t) AS (
      |  SELECT a, b FROM ue
      |  UNION
      |  SELECT r.s, u.b FROM reach r JOIN ue u ON r.t = u.a),
      |comp AS MATERIALIZED (SELECT s AS id, min(t) AS cluster_id FROM reach GROUP BY s),
      |lab AS MATERIALIZED (
      |  SELECT d.doc_id AS id, d.lang,
      |         coalesce(c.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |       sum(CASE WHEN id <> cluster_id THEN 1 ELSE 0 END)::BIGINT
      |         AS n_removed,
      |       (sum(CASE WHEN id <> cluster_id THEN 1 ELSE 0 END)::BIGINT
      |         * 1000) // count(*) AS removal_per_mille
      |FROM lab GROUP BY lang ORDER BY lang""".stripMargin

  /** q226: blocking-recall eval — the measurement that justifies (or
    * indicts) a blocking key before a pipeline trusts it at scale: for
    * planted near-dup pairs whose mutation site is controlled by id
    * parity (even → token APPENDED, survives the 24-char prefix key;
    * odd → token PREPENDED, shifts the whole sort key), report per
    * window size w ∈ {1,2,4,8,16} and per site the exact count of
    * pairs whose rank distance under q151's sorted-neighborhood key is
    * ≤ w, and the recall per-mille on the integer grid. Tail mutations
    * should read ~1000‰ at w=1 and head mutations near 0‰ even at
    * w=16 — the known failure mode of prefix blocking, quantified.
    * Scale shape: ONE global rank (q151's range exchange), one planted
    * self-join on the id arithmetic, and the w fan-out runs on the
    * |docs|-row planted relation — no candidate materialization at all.
    */
  def q226BlockingRecall(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val copies = d.select((col("doc_id") + 100000L).as("doc_id"),
      when(col("doc_id") % 2 === 0, concat(col("text"), lit(" qq")))
        .otherwise(concat(lit("qq "), col("text"))).as("text"))
    val keyed = d.unionByName(copies).select(col("doc_id"),
      substring(graft.functions.HashExprs.fingerprintNormalize(col("text")),
        1, 24).as("skey"))
    val ranked = graft.ops.Ordering.exactRank(keyed, "skey", "doc_id")
    val planted = ranked.filter(col("doc_id") < 100000L)
      .select(col("doc_id"), col("rank").as("__r1"))
      .join(ranked.select((col("doc_id") - 100000L).as("doc_id"),
        col("rank").as("__r2")), Seq("doc_id"))
      .select(
        when(col("doc_id") % 2 === 0, lit("tail")).otherwise(lit("head"))
          .as("site"),
        abs(col("__r2") - col("__r1")).as("__dist"))
    planted
      .crossJoin(broadcast(spark.range(1).select(
        explode(array(lit(1L), lit(2L), lit(4L), lit(8L), lit(16L)))
          .as("w"))))
      .groupBy("w", "site")
      .agg(count(lit(1)).cast("long").as("n_planted"),
        sum(when(col("__dist") <= col("w"), 1L).otherwise(0L))
          .as("captured"))
      .withColumn("recall_per_mille",
        expr("(captured * 1000) div n_planted"))
      .select("w", "site", "n_planted", "captured", "recall_per_mille")
      .orderBy("w", "site")
  }

  val q226Sql: String =
    """WITH uni AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |         CASE WHEN doc_id % 2 = 0 THEN text || ' qq'
      |              ELSE 'qq ' || text END
      |  FROM documents),
      |k AS (
      |  SELECT doc_id,
      |         substring(regexp_replace(regexp_replace(lower(text),
      |           '[^a-z0-9 ֐-׿؀-ۿ]', '', 'g'), ' +', ' ', 'g'), 1, 24) AS skey
      |  FROM uni),
      |r AS (
      |  SELECT doc_id, skey,
      |         CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS rnk
      |  FROM k),
      |planted AS (
      |  SELECT CASE WHEN a.doc_id % 2 = 0 THEN 'tail' ELSE 'head' END AS site,
      |         abs(b.rnk - a.rnk) AS dist
      |  FROM r a JOIN r b ON b.doc_id = a.doc_id + 100000),
      |ws AS (SELECT unnest([1, 2, 4, 8, 16]) AS w)
      |SELECT CAST(w AS BIGINT) AS w, site,
      |       count(*)::BIGINT AS n_planted,
      |       sum(CASE WHEN dist <= w THEN 1 ELSE 0 END)::BIGINT AS captured,
      |       (sum(CASE WHEN dist <= w THEN 1 ELSE 0 END)::BIGINT * 1000)
      |         // count(*) AS recall_per_mille
      |FROM planted CROSS JOIN ws
      |GROUP BY w, site ORDER BY w, site""".stripMargin

  /** q231: dedup threshold-sensitivity sweep — the evidence behind
    * choosing θ: per candidate threshold θ ∈ {0.80, 0.85, 0.90, 0.95},
    * in ONE pass over the q220 edge tier (exact Jaccard ≥ 0.8 over
    * MinHash candidates), the pair count, the number of documents
    * touched by at least one ≥θ pair, and the affected share of the
    * corpus (per-mille, integer grid). A pipeline reads this table to
    * see how much the removal set shrinks as θ tightens — without
    * re-running the candidate tier per θ. The sweep floor stays at the
    * tier's design threshold 0.8 (banding recall at 16×4 bands is
    * ~1-2·10⁻⁴ miss per pair there; sweeping below the design point
    * would put band-miss noise inside a hash-gated artifact). Scale
    * shape: pair tier = q32/q34's banded/capped path; the sweep is a
    * ×4 fan-out of the PAIR relation plus one distinct per (θ, doc).
    */
  def q231ThresholdSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id", threshold = 0.8)
      .persist() // ×4 θ fan-out + the doc explode both read it
    val thetas = broadcast(spark.range(1).select(
      explode(array(lit(800L), lit(850L), lit(900L), lit(950L)))
        .as("theta_milli")))
    val hits = pairs.crossJoin(thetas)
      .filter(col("jaccard") * 1000 >= col("theta_milli"))
    val nPairs = hits.groupBy("theta_milli")
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    val nDocs = hits
      .select(col("theta_milli"), explode(array(col("id_a"), col("id_b")))
        .as("id"))
      .distinct()
      .groupBy("theta_milli")
      .agg(count(lit(1)).cast("long").as("n_docs_affected"))
    val tot = d.agg(count(lit(1)).cast("long").as("__n"))
    thetas
      .join(nPairs, Seq("theta_milli"), "left")
      .join(nDocs, Seq("theta_milli"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_affected"))
      .crossJoin(broadcast(tot))
      .withColumn("affected_per_mille",
        expr("(n_docs_affected * 1000) div __n"))
      .select("theta_milli", "n_pairs", "n_docs_affected",
        "affected_per_mille")
      .orderBy("theta_milli")
  }

  val q231Sql: String =
    s"""WITH dsrc AS (SELECT doc_id AS id, text FROM documents),
       |${bitsetCtes("dsrc")},
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    bit_count(a.bv & b.bv)::DOUBLE
       |      / (a.sz + b.sz - bit_count(a.bv & b.bv)) AS j
       |  FROM bs a JOIN bs b ON a.id < b.id
       |    AND 5 * least(a.sz, b.sz) >= 4 * greatest(a.sz, b.sz)),
      |e AS MATERIALIZED (SELECT id_a, id_b, j FROM pairs WHERE j >= 0.8),
      |th AS (SELECT unnest([800, 850, 900, 950]) AS theta_milli),
      |hits AS (
      |  SELECT th.theta_milli, e.id_a, e.id_b
      |  FROM e CROSS JOIN th WHERE e.j * 1000 >= th.theta_milli),
      |np AS (SELECT theta_milli, count(*)::BIGINT AS n_pairs
      |       FROM hits GROUP BY 1),
      |nd AS (
      |  SELECT theta_milli, count(*)::BIGINT AS n_docs_affected FROM (
      |    SELECT DISTINCT theta_milli, id FROM (
      |      SELECT theta_milli, id_a AS id FROM hits
      |      UNION ALL SELECT theta_milli, id_b FROM hits) u) v
      |  GROUP BY 1),
      |tot AS (SELECT count(*)::BIGINT AS n FROM documents)
      |SELECT CAST(th.theta_milli AS BIGINT) AS theta_milli,
      |       coalesce(np.n_pairs, 0) AS n_pairs,
      |       coalesce(nd.n_docs_affected, 0) AS n_docs_affected,
      |       (coalesce(nd.n_docs_affected, 0) * 1000) // tot.n
      |         AS affected_per_mille
      |FROM th
      |LEFT JOIN np USING (theta_milli)
      |LEFT JOIN nd USING (theta_milli)
      |CROSS JOIN tot
      |ORDER BY theta_milli""".stripMargin

  /** q234: dedup survivor-quality audit — keep-min-id canonical
    * selection is quality-blind, so per near-dup cluster (≥ 2, q220's
    * edge tier + CC) this reports whether the canonical is actually the
    * best member under the q21 quality score (desc, doc_id tie-break)
    * and which member is: `regret` = 1 means the keep-one policy
    * discarded a strictly better copy. The output is ids and flags only
    * (the double scores never reach the artifact — both engines compare
    * the same IEEE doubles, q21's gated arithmetic). A pipeline with a
    * high regret rate should switch its canonical rule from min-id to
    * argmax-quality. Scale shape: pair/CC tier as q220/q225; the audit
    * joins the |docs| label relation to the narrow score projection and
    * takes one bounded per-cluster argmax window.
    */
  def q234SurvivorQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Load.table(spark, dir, "documents").select("doc_id", "text")
    val edges = Dedup.ngramJaccardPairs(d, "text", "doc_id", threshold = 0.8)
    val clusters = graft.graphs.ConnectedComponents
      .dedupClusters(edges.select("id_a", "id_b"),
        d.select(col("doc_id").as("id")))
    val scored = d.select(col("doc_id").as("id"),
      graft.text.TextAnalysis.qualityScore(col("text")).as("__q"))
    val labeled = clusters.join(scored, Seq("id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("__q").desc, col("id"))
    labeled
      .withColumn("__rk", row_number().over(w))
      .withColumn("__sz", count(lit(1))
        .over(Window.partitionBy("cluster_id")))
      .filter(col("__sz") >= 2)
      .groupBy("cluster_id")
      .agg(max("__sz").cast("long").as("size"),
        min(when(col("is_canonical"), col("id"))).as("canonical_id"),
        min(when(col("__rk") === 1, col("id"))).as("best_id"),
        // regret: the best member strictly beats the canonical — rank 1
        // not canonical AND not merely an id tie at equal quality
        max(when(col("__rk") === 1 && !col("is_canonical"), 1)
          .otherwise(0)).as("__best_not_canon"))
      .withColumn("regret", col("__best_not_canon"))
      .select("cluster_id", "size", "canonical_id", "best_id", "regret")
      .orderBy("cluster_id")
  }

  val q234Sql: String = {
    val sw = graft.text.TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE dsrc AS (SELECT doc_id AS id, text FROM documents),
       |${bitsetCtes("dsrc")},
       |prs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    bit_count(a.bv & b.bv)::DOUBLE
       |      / (a.sz + b.sz - bit_count(a.bv & b.bv)) AS j
       |  FROM bs a JOIN bs b ON a.id < b.id
       |    AND 5 * least(a.sz, b.sz) >= 4 * greatest(a.sz, b.sz)),
       |e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM prs WHERE j >= 0.8),
       |ue AS MATERIALIZED (
       |  SELECT a, b FROM e UNION SELECT b, a FROM e
       |  UNION SELECT a, a FROM e UNION SELECT b, b FROM e),
       |reach(s, t) AS (
       |  SELECT a, b FROM ue
       |  UNION
       |  SELECT r.s, u.b FROM reach r JOIN ue u ON r.t = u.a),
       |comp AS MATERIALIZED (SELECT s AS id, min(t) AS cluster_id FROM reach GROUP BY s),
       |lab AS MATERIALIZED (
       |  SELECT d.doc_id AS id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |qt AS (
       |  SELECT doc_id AS id,
       |    len(text) AS n,
       |    len(string_split_regex(trim(text), '\\s+')) AS ntok,
       |    (len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / len(text) AS alpha,
       |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($sw)))::DOUBLE
       |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS swr
       |  FROM documents),
       |q AS (
       |  SELECT id,
       |    (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 ELSE 0.5 END) * 0.25
       |    + (CASE WHEN ntok > 0 AND n::DOUBLE/ntok >= 3 AND n::DOUBLE/ntok <= 12 THEN 1.0 ELSE 0.5 END) * 0.25
       |    + alpha * 0.25
       |    + least(swr * 4, 1.0) * 0.25 AS quality
       |  FROM qt),
       |m AS (
       |  SELECT lab.cluster_id, lab.id, q.quality,
       |         row_number() OVER (PARTITION BY lab.cluster_id
       |                            ORDER BY q.quality DESC, lab.id) AS rk,
       |         count(*) OVER (PARTITION BY lab.cluster_id) AS sz,
       |         min(lab.id) OVER (PARTITION BY lab.cluster_id) AS canon
       |  FROM lab JOIN q USING (id))
       |SELECT cluster_id, CAST(max(sz) AS BIGINT) AS size,
       |       min(CASE WHEN id = canon THEN id END) AS canonical_id,
       |       min(CASE WHEN rk = 1 THEN id END) AS best_id,
       |       max(CASE WHEN rk = 1 AND id <> canon THEN 1 ELSE 0 END)
       |         AS regret
       |FROM m WHERE sz >= 2
       |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q234_survivor_quality" -> (q234SurvivorQuality _),
    "q231_threshold_sensitivity" -> (q231ThresholdSensitivity _),
    "q226_blocking_recall" -> (q226BlockingRecall _),
    "q225_dedup_impact" -> (q225DedupImpact _),
    "q221_int8_recall" -> (q221Int8Recall _),
    "q220_cluster_quality" -> (q220ClusterQuality _),
    "q215_source_overlap" -> (q215SourceOverlapMatrix _),
    "q239_overlap_tier_envelope" -> (q239OverlapTierEnvelope _),
    "q153_fellegi_sunter" -> (q153FellegiSunter _),
    "q235_dedup_pipeline" -> (q235DedupPipeline _),
    "q236_incremental_er" -> (q236IncrementalEr _),
    "q240_incremental_er_2gen" -> (q240IncrementalEr2Gen _),
    "q241_er_nightly_sink" -> (q241NightlyErSink _),
    "q242_er_payload_full" -> (q242ErPayloadFull _),
    "q243_er_payload_incremental" -> (q243ErPayloadIncremental _),
    "q151_sorted_neighborhood" -> (q151SortedNeighborhood _),
    "q150_winnow_pairs" -> (q150WinnowPairs _),
    "q149_corpus_overlap" -> (q149CorpusOverlap _),
    "q134_preference_pairs" -> (q134PreferencePairs _),
    "q128_edit_verify" -> (q128EditVerify _),
    "q127_bitext_mine" -> (q127BitextMine _),
    "q125_mmr_diversify" -> (q125MmrDiversify _),
    "q124_pq_codes" -> (q124PqCodes _),
    "q122_cms_frequency" -> (q122CmsFrequency _),
    "q114_kmv_distinct" -> (q114KmvDistinct _),
    "q164_hll_distinct" -> (q164HllDistinct _),
    "q169_containment" -> (q169Containment _),
    "q30_exact_dedup" -> q30Exact,
    "q31_fingerprint_dedup" -> q31Fingerprint,
    "q32_minhash_pairs" -> q32Minhash,
    "q33_simhash_pairs" -> q33Simhash,
    "q34_ngram_jaccard" -> q34Jaccard,
    "q35_embed_neardup" -> q35EmbedNearDup,
    "q36_incremental_dedup" -> q36IncrementalDedup,
    "q40_ann_brute" -> q40AnnBrute,
    "q41_ann_srp" -> q41AnnSrp,
    "q42_ann_topk_heap" -> q42AnnTopKHeap,
    "q103_hard_negatives" -> (q103HardNegatives _),
    "q110_embedding_outliers" -> (q110EmbeddingOutliers _),
    "q43_ann_ivf" -> q43AnnIvf,
    "q43b_ann_ivf_reload" -> (q43bAnnIvfReload _),
    "q62_sparse_cosine" -> q62SparseCosine,
    "q73_semdedup" -> q73SemDedup,
    "q83_semantic_decontaminate" -> q83SemanticDecontaminate)

  val oracles: Map[String, String] = Map(
    "q234_survivor_quality" -> q234Sql,
    "q231_threshold_sensitivity" -> q231Sql,
    "q226_blocking_recall" -> q226Sql,
    "q225_dedup_impact" -> q225Sql,
    "q221_int8_recall" -> q221Sql,
    "q220_cluster_quality" -> q220Sql,
    "q215_source_overlap" -> q215Sql,
    "q239_overlap_tier_envelope" -> q239Sql,
    "q153_fellegi_sunter" -> q153Sql,
    "q235_dedup_pipeline" -> q235Sql,
    // full-recompute equality: the incremental probe must be invisible
    "q236_incremental_er" -> q235Sql,
    "q240_incremental_er_2gen" -> q235Sql,
    "q241_er_nightly_sink" -> q241Sql,
    "q242_er_payload_full" -> q242Sql,
    "q243_er_payload_incremental" -> q242Sql,
    "q151_sorted_neighborhood" -> q151Sql,
    "q150_winnow_pairs" -> q150Sql,
    "q149_corpus_overlap" -> q149Sql,
    "q134_preference_pairs" -> q134Sql,
    "q128_edit_verify" -> q128Sql,
    "q127_bitext_mine" -> q127Sql,
    "q125_mmr_diversify" -> q125Sql,
    "q124_pq_codes" -> q124Sql,
    "q122_cms_frequency" -> q122Sql,
    "q114_kmv_distinct" -> q114Sql,
    "q164_hll_distinct" -> q164Sql,
    "q169_containment" -> q169Sql,
    "q30_exact_dedup" -> q30Sql,
    "q31_fingerprint_dedup" -> q31Sql,
    "q32_minhash_pairs" -> q32Sql,
    "q33_simhash_pairs" -> q33Sql,
    "q34_ngram_jaccard" -> q34Sql,
    "q35_embed_neardup" -> q35Sql,
    "q36_incremental_dedup" -> q36Sql,
    "q40_ann_brute" -> q40Sql,
    "q41_ann_srp" -> q41Sql,
    "q42_ann_topk_heap" -> q40Sql,
    "q103_hard_negatives" -> q103Sql,
    "q110_embedding_outliers" -> q110Sql,
    "q43_ann_ivf" -> q41Sql,
    "q43b_ann_ivf_reload" -> q41Sql,
    "q62_sparse_cosine" -> q62Sql,
    "q73_semdedup" -> q73Sql,
    "q83_semantic_decontaminate" -> q83Sql)
}
