package graft

import graft.functions.VectorExpressions.{cosineSim, dot, srpSig}
import org.apache.spark.sql.functions._

/** Native codegen'd vector expressions vs the HOF reference formulation. */
class VectorExprSpec extends SparkSuite {
  import spark.implicits._

  test("cosineSim matches the HOF formulation bit-for-bit on real data") {
    val e = Tables.embeddings(spark, sf001).limit(200)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    val pairs = a.join(b, col("a_id") < col("b_id") && col("b_id") < col("a_id") + 10)
    val hof =
      "aggregate(zip_with(av, bv, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), CAST(0 AS DOUBLE), (acc, x) -> acc + x) / " +
        "(sqrt(aggregate(av, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * " +
        "sqrt(aggregate(bv, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val diffs = pairs
      .withColumn("native", cosineSim(col("av"), col("bv")))
      .withColumn("ref", expr(hof))
      .filter(col("native") =!= col("ref"))
      .count()
    assert(diffs == 0, "codegen'd cosine must be bit-identical to the HOF fold")
  }

  test("cosineSim: self-similarity is 1, null propagates") {
    val e = Tables.embeddings(spark, sf001).limit(50)
    val self = e.withColumn("c", round(cosineSim(col("embedding"), col("embedding")), 9))
    assert(self.filter(col("c") =!= 1.0).count() == 0)
    val withNull = e.withColumn("c", cosineSim(col("embedding"), lit(null).cast("array<float>")))
    assert(withNull.filter(col("c").isNotNull).count() == 0)
  }

  test("dot matches a hand computation") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val got = df.select(dot(col("v"), typedLit(Seq(2.0, -1.0, 0.5)))).head.getDouble(0)
    assert(got == 1.0 * 2.0 + 2.0 * -1.0 + 3.0 * 0.5)
  }

  test("length mismatch raises a clear error, not truncation or AIOOBE") {
    def rootMessages(t: Throwable): List[String] =
      Option(t).toList.flatMap(e => Option(e.getMessage).toList ++ rootMessages(e.getCause))
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val exCos = intercept[Throwable] { df.select(cosineSim(col("a"), col("b"))).collect() }
    assert(rootMessages(exCos).exists(_.contains("graft_cosine: vector length mismatch (3 vs 2)")))
    val exDot = intercept[Throwable] {
      df.select(dot(col("a"), typedLit(Seq(1.0, 2.0)))).collect()
    }
    assert(rootMessages(exDot).exists(_.contains("graft_dot: vector length mismatch (3 vs 2)")))
  }

  test("zero-norm vectors yield NaN (documented 0/0 semantics)") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val got = df.select(cosineSim(col("a"), col("b"))).head.getDouble(0)
    assert(got.isNaN)
  }

  test("srp signature: codegen path equals driver-side kernel; wrong dim raises") {
    import graft.functions.SrpPlanes
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 20).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val got = vecs.toDF("id", "v").select(col("id"), srpSig(col("v")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == SrpPlanes.signature(v), s"codegen/eval divergence for vec $id")
    }
    // a vector and its negation flip every decided bit (no zero dots here)
    val negs = vecs.map { case (id, v) => (id, v.map(x => -x)) }
    val gotNeg = negs.toDF("id", "v").select(col("id"), srpSig(col("v")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, _) => assert((got(id) ^ gotNeg(id)) == -1L) }
    val ex = intercept[Throwable] {
      Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v").select(srpSig(col("v"))).collect()
    }
    def msgs(t: Throwable): List[String] =
      Option(t).toList.flatMap(e => Option(e.getMessage).toList ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("graft_srp_sig: expected 64-dim vector, got 2")))
  }

  test("int8 codes: codegen'd expression equals the interpreted HOF lambda exactly") {
    import graft.queries.Analytics
    val native = Analytics.qQuantizeInt8(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val hof = Analytics.quantizeInt8Hof(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(native.nonEmpty && native.length == hof.length)
    native.zip(hof).foreach { case ((nid, nsc, nq), (hid, hsc, hq)) =>
      assert(nid == hid && nsc == hsc && nq == hq,
        s"vec $nid: codegen'd codes diverge from the HOF reference")
    }
    // every code is a valid int8 and round-trips within one quantization step
    native.take(50).foreach { case (_, scale, q) =>
      q.split(',').foreach { c =>
        val v = c.toInt
        assert(v >= -128 && v <= 127, s"code $v outside int8 range")
      }
      assert(scale > 0.0)
    }
    val ex = intercept[Throwable] {
      import spark.implicits._
      Seq((1L, Array(2.5f, 2.5f))).toDF("id", "v")
        .select(graft.functions.VectorExpressions.int8Codes(col("v"))).collect()
    }
    def msgs(t: Throwable): List[String] =
      Option(t).toList.flatMap(e => Option(e.getMessage).toList ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("degenerate")), "constant vector must raise")
  }

  test("rollHash matches the HOF formulation bit-for-bit on real data") {
    // the quadratic-per-doc lambda the expression replaced — kept here as
    // the reference model so the linear kernel can never drift from it
    val hof = "aggregate(sequence(1, length(text)), CAST(0 AS BIGINT), " +
      "(acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)"
    val diffs = Tables.documents(spark, sf001)
      .withColumn("native", graft.functions.TextExpressions.rollHash(col("text")))
      .withColumn("ref", expr(hof))
      .filter(col("native") =!= col("ref"))
      .count()
    assert(diffs == 0, "codegen'd rolling hash must equal the HOF fold")
  }

  test("rollHash: code-point semantics (non-ASCII + surrogate pair), null propagates") {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, "café"), (3L, "a😀b"), (4L, ""))
      .toDF("id", "text")
    val hof = "aggregate(sequence(1, length(text)), CAST(0 AS BIGINT), " +
      "(acc, i) -> (acc * 31 + ascii(substring(text, i, 1))) % 1000000007)"
    val rows = df
      .withColumn("native", graft.functions.TextExpressions.rollHash(col("text")))
      .withColumn("ref", expr(hof))
      .collect()
    rows.foreach(r => assert(r.getLong(2) == r.getLong(3),
      s"code-point fold must match ascii(substring(..)) on '${r.getString(1)}'"))
    assert(df.filter(col("id") === 4L)
      .select(graft.functions.TextExpressions.rollHash(col("text")))
      .head.getLong(0) == 0L, "empty string folds to the seed")
    val nulls = df.withColumn("t2", when(col("id") === 1L, col("text")))
      .select(graft.functions.TextExpressions.rollHash(col("t2"))).collect()
    assert(nulls.count(_.isNullAt(0)) == 3, "null input must propagate")
  }

  test("minhash: ids outside [0, P) take the legacy-% branch; congruent ids agree across branches") {
    // The kernel folds ids in [0, P) with Mersenne shifts and keeps Java %
    // for the rest (negative residues included). Pin both against the
    // plain % formula, on the driver-side kernel and the codegen'd SQL one.
    import graft.functions.MinHash.{MersennePrime => P, hashA, hashB, signature}
    def reference(ids: Seq[Long]): Seq[Long] = hashA.indices.map(j =>
      ids.map(s => ((s % P) * hashA(j) + hashB(j)) % P).min)
    def kernel(ids: Seq[Long]): Seq[Long] = signature(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(ids.toArray[Any])).toSeq
    val legacy = Seq(P, P + 5, 1L << 40, Long.MaxValue, -1L, -12345L)
    assert(kernel(legacy) == reference(legacy))
    val below = 12345L
    assert(kernel(Seq(below)) == reference(Seq(below)), "the hot path must equal the % formula")
    assert(kernel(Seq(below + P)) == kernel(Seq(below)),
      "an id and its +P twin must hash alike on the two branches")
    graft.functions.GraftFunctions.register(spark)
    val viaSql = Seq(Tuple1(legacy), Tuple1(Seq(below)), Tuple1(Seq(below + P))).toDF("ids")
      .select(expr("graft_minhash_sig(ids)")).collect().map(_.getSeq[Long](0)).toSeq
    assert(viaSql == Seq(reference(legacy), reference(Seq(below)), reference(Seq(below))))
  }
}
