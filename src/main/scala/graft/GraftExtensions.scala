package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.expressions._

/** Catalyst extension registering graft's native expressions in the SQL
  * function registry, so `spark.sql("SELECT str_q2b(text) ...")` works —
  * the `SparkSessionExtensions` route is how a library ships custom
  * expressions without forking Spark. On a `SparkSession.Builder`:
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)       // programmatic, or
  * builder.config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Scalar k-parameters (shingle width) arrive as literal int arguments
  * and are bound at resolution time; non-literal k is rejected with an
  * analysis-time error rather than a runtime one.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Opt-in optimizer rule (inert unless spark.graft.approxDistinct
    // .enabled=true): exact distinct counts → HLL++ sketches.
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // Planner strategy for the custom bounded-heap top-k operator
    // (inert unless a plan contains BoundedTopKNode; the BoundedTopK
    // API also self-registers via ExperimentalMethods for sessions
    // built without extensions).
    ext.injectPlannerStrategy(_ => graft.plans.BoundedTopKStrategy)
  }
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, usage: String, arity: Int)
                (build: PartialFunction[Seq[Expression], Expression]): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      (args: Seq[Expression]) =>
        build.applyOrElse(args, (a: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name takes $arity argument(s), got ${a.length}")))

  private def litInt(e: Expression, fnName: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fnName requires a literal integer k argument, got $other")
  }

  /** The registry payload — also consumable directly via
    * `sessionState.functionRegistry.registerFunction` for an
    * already-built session (what the spec does). */
  val functions: Seq[FunctionDescription] = Seq(
    fn("str_q2b", "str_q2b(str) - full-width CJK to half-width normalization", 1) {
      case Seq(c) => StrQ2B(c)
    },
    fn("dot_product", "dot_product(a, b) - sequential-fold dot product of two float/double arrays", 2) {
      case Seq(a, b) => DotProduct(a, b)
    },
    fn("l2_squared", "l2_squared(a, b) - squared L2 distance of two float/double arrays", 2) {
      case Seq(a, b) => L2Squared(a, b)
    },
    fn("l2_normalize", "l2_normalize(a) - unit-L2-normalize a float/double array", 1) {
      case Seq(a) => L2Normalize(a)
    },
    fn("char_ngram_hashes", "char_ngram_hashes(str, k) - distinct 64-bit hashes of k-char shingles", 2) {
      case Seq(c, k) => CharNgramHashes(c, litInt(k, "char_ngram_hashes"))
    },
    fn("word_ngram_hashes", "word_ngram_hashes(str, k) - distinct 64-bit hashes of k-word shingles", 2) {
      case Seq(c, k) => WordNgramHashes(c, litInt(k, "word_ngram_hashes"))
    },
    fn("minhash_sig", "minhash_sig(hashes, n) - n-entry MinHash signature over a bigint-array of shingle hashes", 2) {
      case Seq(c, n) => MinHashSig(c, litInt(n, "minhash_sig"))
    },
    fn("simhash48", "simhash48(hashes, bits) - SimHash of a bigint-array of token hashes", 2) {
      case Seq(c, b) => SimHash48(c, litInt(b, "simhash48"))
    },
    fn("poly_fingerprint", "poly_fingerprint(str) - rolling-hash document fingerprint over whitespace tokens", 1) {
      case Seq(c) => PolyFingerprint(c)
    },
    fn("word_gram_keys", "word_gram_keys(str, n) - distinct polynomial word-n-gram keys over md5 token hashes", 2) {
      case Seq(c, n) => WordGramKeys(c, litInt(n, "word_gram_keys"))
    },
    fn("word_gram_strings", "word_gram_strings(str, n) - distinct space-joined word n-grams, first-occurrence order", 2) {
      case Seq(c, n) => WordGramStrings(c, litInt(n, "word_gram_strings"))
    },
    fn("sq8_sim", "sq8_sim(query, vec, mn, mx) - asymmetric SQ8 similarity of a full-precision query against a per-dimension [mn,mx]-quantized vector", 4) {
      case Seq(q, v, mn, mx) => Sq8Sim(q, v, mn, mx)
    },
    fn("jaccard_sim", "jaccard_sim(a, b) - set Jaccard of two bigint-arrays (= size(array_intersect)/size(array_union))", 2) {
      case Seq(a, b) => JaccardSim(a, b)
    },
    fn("set_intersect_size", "set_intersect_size(a, b) - |A∩B| of two bigint- or string-arrays (= size(array_intersect))", 2) {
      case Seq(a, b) => SetIntersectSize(a, b)
    },
    fn("trunc_hashes", "trunc_hashes(a, bits) - elementwise low-bits truncation of a bigint-array to smallint (16) or int (32), preserving order and length", 2) {
      case Seq(a, b) => TruncHashes(a, litInt(b, "trunc_hashes"))
    },
    fn("jaccard_upper", "jaccard_upper(a, b) - provable upper bound on the exact Jaccard of the pre-truncation sets, from two trunc_hashes arrays", 2) {
      case Seq(a, b) => JaccardUpperBound(a, b)
    },
  )
}
