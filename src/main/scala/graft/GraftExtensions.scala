package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomMightContainExpr, HashedShinglesExpr, LshBucket, MinhashSigExpr, Simhash16Expr, VecDot}
import graft.parse.PyToJson

/** Engine extension point, installed by [[Sessions.builder]] via
  * `withExtensions` (also usable standalone with
  * `spark.sql.extensions=graft.GraftExtensions`). Registers:
  *  - the [[graft.plans.TopKPerGroup]] planner strategy (per-group top-k
  *    as a partial/final bounded-heap exec pair);
  *  - one optimizer rule, [[graft.plans.TopKWindowRewrite]], which thins
  *    a row_number window + rn <= k filter through TopKPerGroup;
  *  - graft's custom Catalyst expressions and generator in the session's
  *    FunctionRegistry, callable from the DataFrame API
  *    (`call_function`) and `spark.sql`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
    ext.injectFunction((
      new FunctionIdentifier("py_to_json"),
      new ExpressionInfo(
        classOf[PyToJson].getName, null, "py_to_json",
        "_FUNC_(str) - Converts a Python-literal value (single quotes, None, " +
          "True/False, tuples/sets) to canonical JSON; NULL on parse failure.",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => PyToJson(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(
        classOf[VecDot].getName, null, "vec_dot",
        "_FUNC_(a, b) - Dot product of two float arrays as a left fold in " +
          "double precision (bit-stable across engines).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(
        classOf[LshBucket].getName, null, "lsh_bucket",
        "_FUNC_(vec) - 8-bit random-hyperplane LSH bucket of a float " +
          "vector (deterministic hyperplanes, engine-stable).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => LshBucket(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("hashed_shingles"),
      new ExpressionInfo(
        classOf[HashedShinglesExpr].getName, null, "hashed_shingles",
        "_FUNC_(text) - Hashed word-3-gram shingles (60-bit md5 token " +
          "hashes combined arithmetically), engine-stable.",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => HashedShinglesExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(
        classOf[MinhashSigExpr].getName, null, "minhash_sig",
        "_FUNC_(hashes) - 32-permutation MinHash signature over a shingle-" +
          "hash array (mod 2^31-1, engine-stable closed-form coefficients).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => MinhashSigExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(
        classOf[Simhash16Expr].getName, null, "simhash16",
        "_FUNC_(text) - 16-bit set SimHash over distinct tokens (60-bit " +
          "md5 token hashes, engine-stable).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => Simhash16Expr(children.head, distinct = true)))
    ext.injectFunction((
      new FunctionIdentifier("simhash16_weighted"),
      new ExpressionInfo(
        classOf[Simhash16Expr].getName, null, "simhash16_weighted",
        "_FUNC_(text) - 16-bit TF-weighted SimHash over all tokens " +
          "(a token appearing k times votes k).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => Simhash16Expr(children.head, distinct = false)))
    ext.injectFunction((
      new FunctionIdentifier("simhash60_weighted"),
      new ExpressionInfo(
        classOf[Simhash16Expr].getName, null, "simhash60_weighted",
        "_FUNC_(text) - 60-bit TF-weighted SimHash (full strHash token-" +
          "hash width): the streaming ingest dedup key — birthday-safe " +
          "to ~2^30 distinct docs per watermark window where the 16-bit " +
          "form collides after a few hundred.",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) =>
        Simhash16Expr(children.head, distinct = false, bits = 60)))
    ext.injectFunction((
      new FunctionIdentifier("pos_tokens"),
      new ExpressionInfo(
        classOf[graft.functions.PosTokensGen].getName, null, "pos_tokens",
        "_FUNC_(text) - Generator: one (pos, tok) row per whitespace " +
          "token, single-pass; exactly posexplode(split(text, ' ')).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) =>
        graft.functions.PosTokensGen(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[BloomMightContainExpr].getName, null, "bloom_might_contain",
        "_FUNC_(probe, filter) - Membership probe of a BIGINT against a " +
          "foldable serialized bloom filter; codegen-fused (no UDF).",
        "", "", "", "", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) =>
        BloomMightContainExpr(children(0), children(1))))
  }
}
