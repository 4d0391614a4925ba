package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Concat, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One per-row kernel as Catalyst sees it: the SQL name `name` calls the
  * static method `method` of the kernel object `owner` through Spark's
  * generic `StaticInvoke` node, the way Spark's own built-ins reach their
  * helpers (`luhn_check`, `url_encode`). Under whole-stage codegen the
  * generated Java is one static call; interpreted mode calls the same
  * method by reflection.
  *
  * Any NULL argument gives a NULL result. `nullOut` marks a kernel that
  * may itself return null (a boxed or object null), or whose result was
  * always declared nullable; otherwise the result is nullable exactly
  * when an argument is. `bind` maps the call's arguments onto the
  * method's, one for one (identity for all but `bpe_merge`).
  */
final class Kernel private[functions] (val name: String, owner: AnyRef,
    val method: String, val dataType: DataType, nullOut: Boolean,
    bind: Seq[Expression] => Seq[Expression]) {
  import org.apache.spark.sql.{GraftBridge => EU}

  val staticObject: Class[_] = owner.getClass

  /** The kernel method's parameter types (one method of that name). */
  val params: Seq[Class[_]] = staticObject.getMethods.filter(_.getName == method) match {
    case Array(m) => m.getParameterTypes.toSeq
    case ms => throw new IllegalStateException(s"$name: ${ms.length} methods named $method")
  }

  /** Callable from SQL: every parameter is a value a SQL expression yields. */
  def sqlCallable: Boolean = params.forall(Kernel.SqlParams.contains)

  def expr(args: Seq[Expression]): Expression = {
    require(args.size == params.size, s"$name takes ${params.size} arguments, got ${args.size}")
    StaticInvoke(staticObject, dataType, method, bind(args), returnNullable = nullOut)
  }

  /** The Column call: columns pass through, other values become literals.
    * An object value (a case class, a `Seq`, an array) is an `ObjectType`
    * literal, so two calls are equal exactly when the values are. */
  def apply(args: Any*): Column = EU.column(expr(args.map {
    case c: Column => EU.expression(c)
    case v @ (_: Int | _: Long | _: String) => Literal(v)
    case s: Seq[_] => Literal(s, ObjectType(classOf[Seq[_]]))
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }))
}

object Kernel {
  private val SqlParams: Set[Class[_]] = Set(classOf[Int], classOf[Long], classOf[UTF8String], classOf[ArrayData])
}

/** The kernel table: every scalar kernel the library reaches from Column
  * code (the wrappers in `HashExprs`, `TextExprs`, …), from SQL
  * ([[graft.GraftExtensions]] registers each SQL-callable entry) and by
  * name from the plan inspector. Aggregates are not kernels: `KmvSketch`,
  * `KmvUnion`, `BoundedCollectLong` and `FreqItems` stay
  * `TypedImperativeAggregate`s.
  */
object Kernels {
  private val entries = Vector.newBuilder[Kernel]
  private def kernel(name: String, owner: AnyRef, method: String, dataType: DataType,
      nullOut: Boolean = false, bind: Seq[Expression] => Seq[Expression] = identity): Kernel = {
    val k = new Kernel(name, owner, method, dataType, nullOut, bind)
    entries += k
    k
  }
  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)

  val simhash64 = kernel("simhash64", HashKernels, "simhash64OrNull", LongType, nullOut = true)
  val minhashSig = kernel("minhash_sig", HashKernels, "minhashSigOrNull", longs, nullOut = true)
  val minhashSigOph = kernel("minhash_sig_oph", HashKernels, "minhashSigOphOrNull",
    ArrayType(IntegerType, containsNull = false), nullOut = true)
  val shingleHash64 = kernel("shingle_hash64", HashKernels, "shingleHash64", longs, nullOut = true)
  val winnowHash64 = kernel("winnow_hash64", HashKernels, "winnowHash64", longs, nullOut = true)
  val sortedIntersectCount =
    kernel("sorted_intersect_count", HashKernels, "sortedIntersectCount", IntegerType)
  val topTokenFraction = kernel("top_token_fraction", HashKernels, "topTokenFraction", DoubleType)
  val fingerprintNormalize =
    kernel("fingerprint_normalize", HashKernels, "fingerprintNormalize", StringType)

  val compressionRatio =
    kernel("compression_ratio", TextKernels, "compressionRatio", DoubleType, nullOut = true)
  val levBounded = kernel("lev_bounded", TextKernels, "levBounded", IntegerType, nullOut = true)
  val charEntropyFix = kernel("char_entropy_fix", TextKernels, "charEntropyFix", LongType, nullOut = true)
  val repetitionProfile =
    kernel("repetition_profile", TextKernels, "repetitionProfile", longs, nullOut = true)
  val wordGrams = kernel("word_grams", TextKernels, "wordGrams", strings, nullOut = true)
  val wordGramHash64 = kernel("word_gram_hash64", TextKernels, "wordGramHash64", longs, nullOut = true)

  val cosineSim = kernel("cosine_sim", VectorKernels, "cosine", DoubleType)
  val srpBucket = kernel("srp_bucket", VectorKernels, "srpBucket", LongType)
  val nearestCentroid = kernel("nearest_centroid", VectorKernels, "nearestCentroid", IntegerType)
  val sparseDotLong = kernel("sparse_dot_long", VectorKernels, "sparseDotLong", LongType)

  val log2fix = kernel("log2fix", FixedLogKernel, "log2fix", LongType)
  val pow2NegFix = kernel("pow2_neg_fix", FixedLogKernel, "pow2NegFix", LongType)

  /** SQL and Column callers give the rule's separator; the kernel takes the
    * merged token, which constant folding turns into one literal. */
  val bpeMerge = kernel("bpe_merge", BpeKernels, "merge", ArrayType(StringType, containsNull = true),
    bind = { case Seq(tokens, l, r, sep) => Seq(tokens, l, r, Concat(Seq(l, sep, r))) })
  val bpeEncode = kernel("bpe_encode", BpeEncodeKernel, "encodeWord", strings)
  val bpeEncodeTokens = kernel("bpe_encode_tokens", BpeEncodeKernel, "encodeArray",
    ArrayType(StringType, containsNull = true))
  val wordpieceEncode = kernel("wordpiece_encode", WordPieceKernel, "encodeWord", strings)
  val unigramEncode = kernel("unigram_encode", UnigramKernel, "encodeWord", strings)

  val multiReplace = kernel("multi_replace", MultiReplaceKernel, "replace", StringType)
  val cdcChunks = kernel("cdc_chunks", CdcKernels, "chunks", strings)
  val unicodeNormalize = kernel("unicode_normalize", NormalizeKernel, "normalize", StringType)
  val spanCorrupt = kernel("span_corrupt", SpanCorruptKernel, "corrupt", StructType(Seq(
    StructField("inp", strings, nullable = false),
    StructField("tgt", strings, nullable = false),
    StructField("k", IntegerType, nullable = false))))
  val urlParts = kernel("url_parts", UrlKernels, "parts",
    StructType(Seq("protocol", "authority", "path", "query", "host").map(StructField(_, StringType))),
    nullOut = true)
  val morton2 = kernel("morton2", ZOrderKernels, "morton2", LongType)
  val kmvHash62 = kernel("kmv_hash62", KmvHash62, "hashJava", LongType)
  val kmvEstimate = kernel("kmv_estimate", KmvEstimate, "estimate", LongType)

  /** Every entry, in declaration order (keep this after the entries). */
  val all: Vector[Kernel] = entries.result()

  private val byCall: Map[(Class[_], String), Kernel] =
    all.map(k => (k.staticObject, k.method) -> k).toMap

  /** The entry a `StaticInvoke` of `method` on `staticObject` calls. */
  def called(staticObject: Class[_], method: String): Option[Kernel] =
    byCall.get((staticObject, method))
}

/** Tables a kernel derives from a literal argument (a BPE merge list, a
  * vocabulary, a blocklist), built once per JVM per distinct argument and
  * shared by every task. A long-lived session running many distinct
  * arguments would accumulate them, so past 64 entries the memo resets;
  * correctness never depends on a hit.
  */
private[functions] object KernelTables {
  private val memo = new java.util.concurrent.ConcurrentHashMap[AnyRef, AnyRef]()

  def apply[K <: AnyRef, T <: AnyRef](key: K)(build: K => T): T = {
    if (memo.size > 64) memo.clear()
    memo.computeIfAbsent(key, k => build(k.asInstanceOf[K])).asInstanceOf[T]
  }
}
