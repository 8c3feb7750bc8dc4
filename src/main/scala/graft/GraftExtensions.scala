package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Expression, ExpressionInfo}
import graft.functions.expressions.{CosineSimilarity, MinHashSignature, ShingleHashes}

/** SQL surface for the library's native expressions, via the standard
  * `SparkSessionExtensions` hook — the (c) tier of SURVEY §7.4's extension
  * ladder. Lets SQL-only users (`spark.sql`, thrift, notebooks) call the
  * codegen'd kernels directly:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   SELECT cosine_similarity(a.embedding, b.embedding) FROM …
  *   SELECT shingle_hashes(text, 3) FROM documents
  *   SELECT hamming64(sh_a, sh_b) FROM simhashes
  *
  * For a session that already exists (the round driver owns session
  * construction), [[GraftExtensions.register]] installs the same functions
  * as temp functions through the session's registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // the optimizer rules (summary views, manifest-served aggregates,
    // bloom-pruned joins), in the order install() also enforces on
    // existing sessions; each is inactive until something is registered.
    // injectOptimizerRule passes each rule constructor its owning session.
    graft.plans.PlanShapes.rules.foreach { case (_, build) =>
      ext.injectOptimizerRule(build)
    }
  }
}

object GraftExtensions {

  private def one(name: String, clazz: Class[_], usage: String,
                  builder: Seq[Expression] => Expression)
    : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name, usage, ""),
      builder)

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${args.length}")

  /** Foldable-literal extraction shared by every builder that takes a
    * constant argument — one place for the contract (non-NULL, right type,
    * analysis-time failure), so the functions can't drift. */
  private def intLit(fn: String, what: String, e: Expression): Int =
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $what must be a literal")
    else e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long =>
        if (l.longValue() != l.intValue()) throw new IllegalArgumentException(
          s"$fn: $what out of int range, got $l")
        l.intValue()
      case null => throw new IllegalArgumentException(
        s"$fn: $what must not be NULL")
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }

  private def boolLit(fn: String, what: String, e: Expression): Boolean =
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $what must be a literal")
    else e.eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case null => throw new IllegalArgumentException(
        s"$fn: $what must not be NULL")
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a boolean literal, got $other")
    }

  /** The injectable function set (name, info, builder). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    one("cosine_similarity", classOf[CosineSimilarity],
      "cosine_similarity(a, b) - cosine similarity of two float vectors " +
        "(codegen'd; 0.0 for zero-norm inputs)",
      args => { arity("cosine_similarity", 2, args)
        CosineSimilarity(args(0), args(1)) }),
    one("shingle_hashes", classOf[ShingleHashes],
      "shingle_hashes(text, n) - xxhash64 of every n-token shingle, in " +
        "window order with duplicates (n must be a literal integer)",
      args => { arity("shingle_hashes", 2, args)
        ShingleHashes(args(0), intLit("shingle_hashes", "n", args(1))) }),
    one("minhash_signature", classOf[MinHashSignature],
      "minhash_signature(hashes, k) - k-wide MinHash signature from an " +
        "array of shingle hashes (k must be a literal integer; empty " +
        "arrays yield the sentinel signature)",
      args => { arity("minhash_signature", 2, args)
        MinHashSignature(args(0), intLit("minhash_signature", "k", args(1))) }),
    one("hamming64", classOf[BitwiseCount],
      "hamming64(a, b) - Hamming distance between two 64-bit fingerprints " +
        "(bit_count(a ^ b))",
      args => { arity("hamming64", 2, args)
        BitwiseCount(BitwiseXor(args(0), args(1))) }),
    one("signature_agreement",
      classOf[graft.functions.expressions.SignatureAgreement],
      "signature_agreement(a, b) - fraction of positions where two " +
        "array<bigint> MinHash signatures agree (the Jaccard estimate; " +
        "codegen'd)",
      args => { arity("signature_agreement", 2, args)
        graft.functions.expressions.SignatureAgreement(args(0), args(1)) }),
    one("collect_top_k",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK],
      "collect_top_k(item, k, reverse) - bounded-heap top-k aggregate: the " +
        "k largest items under struct ordering (smallest when reverse), " +
        "sorted best-first. The engine's own kernel (public but " +
        "SQL-surface-less in Spark 4.1); see graft.operators.TopK",
      args => { arity("collect_top_k", 3, args)
        val k = intLit("collect_top_k", "k", args(1))
        // k >= 1 at analysis time: BoundedPriorityQueue(0) would otherwise
        // throw from java.util.PriorityQueue on an EXECUTOR mid-query
        if (k < 1) throw new IllegalArgumentException(
          s"collect_top_k: k must be >= 1, got $k")
        val rev = boolLit("collect_top_k", "reverse", args(2))
        // `new`: the companion with `apply` is private[aggregate] in 4.1
        new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
          args(0), k, rev, 0, 0) }),
    one("int8_quantize",
      classOf[graft.functions.expressions.Int8Quantize],
      "int8_quantize(vec) - symmetric int8 quantization of a float vector " +
        "in one fused pass: struct(qvec array<tinyint>, scale float) with " +
        "q_i = round_half_up(127 * x_i / max|x|); zero vectors yield " +
        "all-zero/0.0 (codegen'd)",
      args => { arity("int8_quantize", 1, args)
        graft.functions.expressions.Int8Quantize(args(0)) }),
    one("top_freq_frac",
      classOf[graft.functions.expressions.TopFreqFrac],
      "top_freq_frac(hashes) - fraction of an array<bigint> taken by its " +
        "most frequent element (the Gopher-style repetition signal over " +
        "shingle hashes; empty arrays yield 0.0; codegen'd)",
      args => { arity("top_freq_frac", 1, args)
        graft.functions.expressions.TopFreqFrac(args(0)) }),
    one("hilbert_index",
      classOf[graft.functions.expressions.HilbertIndex],
      "hilbert_index(a, b, order) - Hilbert curve index of two order-bit " +
        "coordinates (adjacency-true space-filling clustering key; order " +
        "must be a literal in [1,31]; codegen'd loop kernel)",
      args => { arity("hilbert_index", 3, args)
        val order = intLit("hilbert_index", "order", args(2))
        if (order < 1 || order > 31) throw new IllegalArgumentException(
          s"hilbert_index: order must be in [1,31], got $order")
        graft.functions.expressions.HilbertIndex(args(0), args(1), order) }))

  /** Install on an EXISTING session (the extensions hook only runs at
    * session construction, which the round driver owns). */
  def register(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftBridge.registerFunctions(spark, functions)
}
