package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType

/** SQL registration for graft's native Catalyst expressions, so `spark.sql`
  * users get the same codegen'd kernels as the Column API
  * ([[VectorExpressions]]) — `graft_cosine`, `graft_dot`, and the
  * DataSketches-backed `graft_hll_distinct` aggregate.
  *
  * Two registration paths, one builder list:
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (cluster deploys: every session the builder creates has the functions);
  *  - [[GraftFunctions.register]] for an already-running session
  *    (notebooks, tests).
  */
object GraftFunctions {

  private def info(name: String, clazz: Class[_], usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  /** (name, ExpressionInfo, builder) for every graft SQL function. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", classOf[CosineSimilarity],
        "graft_cosine(a, b) - cosine similarity of two array<float> vectors (codegen'd)"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", classOf[DotProduct],
        "graft_dot(a, b) - dot product of an array<float> with an array<double> (codegen'd)"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("graft_hll_distinct"),
      info("graft_hll_distinct", classOf[HllDistinct],
        "graft_hll_distinct(x) - mergeable DataSketches HLL distinct-count aggregate"),
      (es: Seq[Expression]) => HllDistinct(es.head)),
    (FunctionIdentifier("graft_srp_sig"),
      info("graft_srp_sig", classOf[SrpSignature],
        "graft_srp_sig(v) - 64-bit signed-random-projection signature of an array<float> vector (codegen'd, fused plane loop)"),
      (es: Seq[Expression]) => SrpSignature(es.head)),
    (FunctionIdentifier("graft_cms_sketch"),
      info("graft_cms_sketch", classOf[CmsSketchAgg],
        "graft_cms_sketch(x) - mergeable count-min-sketch frequency aggregate (serialized sketch bytes)"),
      (es: Seq[Expression]) => CmsSketchAgg(es.head)),
    (FunctionIdentifier("graft_int8_codes"),
      info("graft_int8_codes", classOf[Int8Codes],
        "graft_int8_codes(v) - comma-joined int8 linear-quantization codes of an array<float> vector (codegen'd, fused min/max + quantize loop)"),
      (es: Seq[Expression]) => Int8Codes(es.head)),
    (FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg", classOf[BloomAgg],
        "graft_bloom_agg(key) - mergeable Bloom-filter build over a bigint key column (serialized bitmap bytes; 2^20 bits, 5 hashes)"),
      (es: Seq[Expression]) => BloomAgg(es.head)),
    (FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains", classOf[BloomContains],
        "graft_bloom_contains(bf, key) - codegen'd Bloom membership probe (false = definitely absent)"),
      (es: Seq[Expression]) => BloomContains(es(0), es(1))),
    (FunctionIdentifier("graft_rollhash"),
      info("graft_rollhash", classOf[RollingHash],
        "graft_rollhash(s) - rolling polynomial content hash (base 31, mod 1e9+7) over a string's characters (codegen'd, one linear pass)"),
      (es: Seq[Expression]) => RollingHash(es.head)),
    (FunctionIdentifier("graft_kll_quantile"),
      info("graft_kll_quantile", classOf[KllQuantile],
        "graft_kll_quantile(x, rank) - mergeable DataSketches KLL quantile aggregate (rank must be a literal in [0,1])"),
      // through a cast: a `0.5` literal parses as a DECIMAL, which is no
      // java.lang.Number
      (es: Seq[Expression]) => KllQuantile(es(0),
        Cast(es(1), DoubleType).eval().asInstanceOf[Double])),
    (FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", classOf[ShingleHashes],
        "graft_shingle_hashes(s, w) - array of every width-w character-shingle rollhash of a string, one linear pass (w must be a literal >= 1)"),
      (es: Seq[Expression]) => ShingleHashes(es(0),
        es(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", classOf[MinHashSignature],
        "graft_minhash_sig(shingles) - fused 32-minhash signature of an array<bigint> of shingle ids (seeded affine family mod 2^31-1)"),
      (es: Seq[Expression]) => MinHashSignature(es.head)),
  )

  /** Register every graft function into an existing session (temp-function
    * scope: this session only, no catalog persistence). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}

/** Injectable extensions entry point:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  * Installs the SQL function surface plus the optimizer rules
  * ([[graft.plans.RangeBinJoinRule]] — opt-in via its conf key). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.RangeBinJoinRule)
  }
}
