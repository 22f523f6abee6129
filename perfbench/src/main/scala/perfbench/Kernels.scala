package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** The `functions` layer: each SQL function of `GraftFunctions.functions`
  * timed alone over a cached input, so its time is the kernel's and not
  * the scan's. Inputs are the generated tables replicated to a fixed size:
  * 50k embedding rows, 20k document texts and 600k lineitem keys, each in
  * one partition so a kernel's time is one core's. */
object Kernels {
  /** The generated tables the kernel inputs come from. */
  val tables: Seq[String] = Seq("lineitem", "documents", "embeddings")

  private def times(df: DataFrame, n: Int): DataFrame =
    df.withColumn("rep", explode(sequence(lit(1), lit(n)))).drop("rep")

  def time(spark: SparkSession, dir: String): Seq[Metric] = {
    GraftFunctions.register(spark)
    val vecs = times(Tables.embeddings(spark, dir).select("embedding"), 50000 / 500)
      .withColumn("rev", reverse(col("embedding"))).cache()
    val texts = times(Tables.documents(spark, dir).select("text"), 20000 / 500)
      .withColumn("sh", expr("graft_shingle_hashes(text, 5)")).cache()
    val keys0 = Tables.lineitem(spark, dir).select("l_partkey", "l_orderkey", "l_extendedprice")
    val bloom = keys0.selectExpr("graft_bloom_agg(l_partkey)").head().getAs[Array[Byte]](0)
    val keys = times(keys0, math.max(1, 600000 / keys0.count().toInt)).cache()
    Seq(vecs, texts, keys).foreach(_.count())

    def noop(df: DataFrame, e: String): () => Unit =
      () => df.selectExpr(s"$e AS r").write.mode("overwrite").format("noop").save()
    def agg(df: DataFrame, e: String): () => Unit = () => df.selectExpr(e).collect()
    val cases: Map[String, () => Unit] = Map(
      "graft_cosine" -> noop(vecs, "graft_cosine(embedding, rev)"),
      "graft_dot" -> noop(vecs, "graft_dot(embedding, rev)"),
      "graft_hll_distinct" -> agg(keys, "graft_hll_distinct(l_partkey)"),
      "graft_srp_sig" -> noop(vecs, "graft_srp_sig(embedding)"),
      "graft_cms_sketch" -> agg(keys, "graft_cms_sketch(l_partkey)"),
      "graft_int8_codes" -> noop(vecs, "graft_int8_codes(embedding)"),
      "graft_bloom_agg" -> agg(keys, "graft_bloom_agg(l_partkey)"),
      "graft_bloom_contains" -> (() => keys.select(call_function("graft_bloom_contains",
        lit(bloom), col("l_orderkey"))).write.mode("overwrite").format("noop").save()),
      "graft_rollhash" -> noop(texts, "graft_rollhash(text)"),
      "graft_kll_quantile" -> agg(keys, "graft_kll_quantile(l_extendedprice, 0.5D)"),
      "graft_shingle_hashes" -> noop(texts, "graft_shingle_hashes(text, 5)"),
      "graft_minhash_sig" -> noop(texts, "graft_minhash_sig(sh)"),
    )
    val out = GraftFunctions.functions.map { case (id, _, _) =>
      val run = cases.getOrElse(id.funcName,
        sys.error(s"no kernel input for ${id.funcName}; add one to Kernels"))
      run() // warm
      Metric(s"kernel_s.${id.funcName}", (1 to 3).map(_ => Stats.time(run())._2).min, "s")
    }
    Seq(vecs, texts, keys).foreach(_.unpersist(blocking = true))
    out
  }
}
