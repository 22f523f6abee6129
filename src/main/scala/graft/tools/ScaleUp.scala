package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives an order-of-magnitude-larger bench corpus from a driver SF dir
  * by unioning `copies` key-shifted replicas of every table — the sweep
  * that grounds the "plans hold at 100×" claims with a measured 10×
  * (BENCH at the derived dir vs the source dir, PERF.md).
  *
  * Semantics of the derivation (NOT a naive duplicate):
  *  - every key domain shifts by `copy * (max_id + 1)` CONSISTENTLY across
  *    tables (custkey in customer+orders, orderkey in orders+lineitem,
  *    part/supp in part/supplier+lineitem, doc_id shared by documents and
  *    embeddings.vec_id), so referential structure and join selectivity
  *    are preserved exactly;
  *  - dimension tables (region, nation) stay fixed — as at real scale;
  *  - document TEXT goes through a per-copy BIJECTIVE letter substitution
  *    (an affine permutation of the alphabet per copy, upper and lower
  *    case; copy 0 is identity; affine maps for the first 312 copies,
  *    seeded Fisher–Yates shuffles beyond — unbounded copy count), so
  *    overlap across copies is ZERO at EVERY granularity —
  *    word bigrams AND character shingles — and near-dup pair mass grows
  *    LINEARLY like a real corpus. (The previous word-suffix scheme only
  *    de-overlapped word n-grams: character 5-gram MinHash still saw
  *    word-interior shingles shared across copies, which manufactured
  *    ~0.5-similar cross-copy doc pairs and quadratic LSH candidate mass
  *    — an artifact of the derivation, not a property of real corpora.)
  *    The substitution preserves length (n_chars), all within-copy
  *    equality/Jaccard/edit-distance structure, and per-copy token
  *    frequency distributions exactly;
  *  - embeddings rotate their lanes by the copy index (a permutation, so
  *    norms and within-copy geometry are untouched) — cross-copy cosine
  *    near-dups vanish instead of exploding;
  *  - events keep their time range (10× events in the same window =
  *    denser activity, the realistic direction for user analytics).
  */
object ScaleUp {
  /** Derivation-recipe version, stamped into `<dst>/_derivation_version`
    * on every FULL derivation. Consumers whose assertions depend on the
    * recipe (ScaleSpec's ER recall floor reads the customer table's
    * cross-copy de-duplication, added in v2) check the stamp and skip
    * with a clear message on mismatch — a corpus left on disk by an older
    * recipe would otherwise fail for a data-staleness reason
    * indistinguishable from a code regression (PERF.md records exactly
    * that failure mode: 14,630/14,852 planted pairs at 100× against a
    * pre-v2 corpus). Bump when the derivation semantics change.
    * v3: the per-copy balance offset is splitmix64-hashed instead of
    * linear in the copy index — the linear shift correlated balance bins
    * with key digits (both linear in c) and neutered the ER re-blocking's
    * digit segments at 1000×. */
  val DerivationVersion = 3

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "benchdata/sf1x"
    val copies = if (args.length > 2) args(2).toInt else 10
    // Optional 4th arg: comma-separated table subset. The embedding
    // rotation family bounds that table's copy count (2·dim orthogonal
    // maps) while every other table replicates cleanly at ANY multiplier
    // (documents since the Fisher–Yates extension below) — a subset
    // derivation skips tables a probe doesn't read, so a 1000× lineitem
    // needn't pay a 1000× embeddings write or trip its injectivity bound.
    // Excluded tables are not written and their bounds are not enforced.
    // Always derive from the DRIVER SF dir, never from a derived dir:
    // re-deriving documents from a derived corpus would compose letter
    // maps into a small group (~copies²/312 coincidences = manufactured
    // cross-copy exact dups, the artifact class the substitution exists
    // to prevent).
    val include: String => Boolean = {
      if (args.length > 3) { val ts = args(3).split(",").toSet; ts.contains }
      else _ => true
    }
    val spark = graft.Session.local(32, "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def tbl(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1
    val custStride = maxOf(tbl("customer"), "c_custkey")
    val orderStride = maxOf(tbl("orders"), "o_orderkey")
    val partStride = maxOf(tbl("part"), "p_partkey")
    val suppStride = maxOf(tbl("supplier"), "s_suppkey")
    val userStride = maxOf(tbl("events"), "user_id")
    val eventStride = maxOf(tbl("events"), "event_id")
    val docStride = maxOf(tbl("documents"), "doc_id")

    // union of `copies` shifted replicas: one explode drives all copies in
    // a single pass over the source. The source repartitions BEFORE the
    // explode (a source-sized shuffle, megabytes) and the exploded frame
    // writes straight out of each task — repartitioning AFTER the explode
    // shuffles the DERIVED corpus (measured: the 1000× lineitem exchange
    // wrote 46 GB of shuffle blocks and ran the sandbox out of disk; the
    // pre-explode shape shuffles 11 MB for the same output). The sf0.1
    // parquet reads as ONE split (small files), so without the source
    // shuffle a single task would emit every derived row anyway.
    def replicate(df: DataFrame, shifts: Map[String, Long], parts: Int): DataFrame = {
      val withC = df.repartition(parts)
        .withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
      shifts.foldLeft(withC) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("__c") * stride)
      }
    }
    // output parallelism (= file count) grows with the multiplier so a
    // 1000× table still writes data-parallel without 1000-file litter —
    // and saturates at local[32] as soon as the multiplier allows, so
    // probe ratios across derived dirs compare equal read parallelism
    // (an 8-file 100× dir reads 8-way while a 32-file 1000× dir reads
    // 32-way, which confounds any scaling ratio taken between them)
    def np(parts: Int): Int = math.max(parts, math.min(32, copies))
    def write(df: => DataFrame, n: String): Unit = if (include(n)) {
      df.drop("__c").write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"wrote $n")
    }

    // Per-copy bijective letter substitution (shared by documents text
    // and customer names). Copies 0..311 use the affine permutation
    // π_c(i) = (a·i + b) mod 26 over alphabet positions, a coprime to 26
    // (12 units × 26 shifts = 312 distinct bijections; copy 0 =
    // identity), UNCHANGED from earlier rounds so a re-derived 100×
    // corpus stays value-identical to the recorded boards. Two DISTINCT
    // affine maps agree on the solution set of (a1-a2)·i ≡ b2-b1
    // (mod 26), size gcd(a1-a2, 26) ∈ {0, 2} when solvable — tokens
    // drawn only from a pair's ≤2 fixed letters could collide across
    // copies (measured zero in the fixture vocabulary). Copies ≥ 312
    // extend the family with a seeded Fisher–Yates shuffle of the
    // alphabet (splitmix64 stream keyed on the copy index —
    // deterministic, no RNG state), unlocking 1000×+ derivations: two
    // independent random permutations agree on k letters with
    // P(k) ≈ e⁻¹/k! (P(≥5) ≈ 0.3%), and a cross-copy shared shingle
    // additionally needs a fixture token drawn ONLY from that agreement
    // set — the same vanishing-overlap argument as the affine family,
    // slightly weaker in the tail and accepted for derivation tooling.
    // All maps are length-preserving, so n_chars stays valid as-is.
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val alphaL = ('a' to 'z').mkString
    val alphaU = ('A' to 'Z').mkString
    def perm(c: Int): String = {
      if (c < units.length * 26) {
        val a = units(c / 26); val b = c % 26
        alphaL.indices.map(i => alphaL((a * i + b) % 26)).mkString
      } else {
        val arr = ('a' to 'z').toArray
        var x = 0L
        def next(): Long = {
          x += 0x9E3779B97F4A7C15L + c.toLong * 0xC2B2AE3D27D4EB4FL
          var z = x
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^ (z >>> 31)
        }
        var i = arr.length - 1
        while (i > 0) {
          val j = java.lang.Long.remainderUnsigned(next(), i + 1L).toInt
          val t = arr(i); arr(i) = arr(j); arr(j) = t; i -= 1
        }
        new String(arr)
      }
    }
    // the per-copy (from, to) pairs ride a broadcast map table instead
    // of a copies-arm CASE chain: StringTranslate accepts non-foldable
    // match/replace expressions (rebuilding its 52-entry dict when they
    // change), and a join keeps the plan size flat at any copy count
    def letterMaps: DataFrame = spark.createDataFrame(
      (0 until copies).map { c =>
        val p = perm(c)
        (c.toLong, alphaL + alphaU, p + p.toUpperCase)
      }).toDF("__mc", "__from", "__to")

    write(tbl("region").repartition(1), "region")
    write(tbl("nation").repartition(1), "nation")
    // Customer gets the same cross-copy de-duplication the documents
    // table has always had: a raw key-shifted replica repeats every
    // c_name and c_acctbal VERBATIM per copy, which manufactures
    // `copies`-sized identical-record atoms — at 100× the ER blocking
    // probe would measure C(100,2) duplicate pairs per original (a
    // derivation artifact; a real 100× corpus has ~100× the entities,
    // not 100 exact clones of each) and atom-dense balance bins that
    // purge. So per copy: letters of c_name go through the same
    // bijective substitution as document text (digits untouched —
    // within-copy name structure and lengths are preserved exactly), and
    // balance cents shift by a SPLITMIX64-HASHED per-copy offset inside
    // the source's own [min, max] span — distribution support and
    // within-copy diffs preserved (mod wrap), cross-copy atoms gone.
    // The offset is hashed, NOT linear in the copy index (v2 used
    // copy·9973): keys shift linearly in the copy, so a linear cents
    // shift makes balance and key BOTH linear in c — a narrow balance
    // bin then selects a narrow copy band, the key's middle digits go
    // near-constant inside every ER block, and the PassJoin digit
    // segments lose their discriminating power (measured at 1000×:
    // 178 raw pairs/row, 73% of it from one digit segment). A real
    // corpus has NO balance↔key correlation; the hash removes the
    // manufactured one. Copy 0 is the identity for both maps, as
    // everywhere in this derivation.
    if (include("customer")) {
      val balBounds = tbl("customer")
        .agg(min(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("mn"),
          max(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("mx")).head
      val (balMn, balSpan) = (balBounds.getLong(0), balBounds.getLong(1) - balBounds.getLong(0) + 1)
      def balOffset(c: Int): Long = if (c == 0) 0L else {
        var z = c.toLong * 0x9E3779B97F4A7C15L + 0xC2B2AE3D27D4EB4FL
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        java.lang.Long.remainderUnsigned(z ^ (z >>> 31), balSpan)
      }
      val balMaps = spark.createDataFrame(
        (0 until copies).map(c => (c.toLong, balOffset(c)))).toDF("__bc", "__bo")
      val cust = replicate(tbl("customer"), Map("c_custkey" -> custStride), np(4))
        .join(broadcast(letterMaps), col("__c") === col("__mc"))
        .join(broadcast(balMaps), col("__c") === col("__bc"))
        .withColumn("c_name", expr("translate(c_name, __from, __to)"))
        .withColumn("c_acctbal", expr(
          s"CAST(pmod(CAST(round(c_acctbal * 100) AS BIGINT) - ${balMn}L + __bo, ${balSpan}L) + ${balMn}L AS DOUBLE) / 100.0"))
        .drop("__mc", "__from", "__to", "__bc", "__bo")
      write(cust, "customer")
    }
    write(replicate(tbl("supplier"), Map("s_suppkey" -> suppStride), np(1)), "supplier")
    write(replicate(tbl("part"), Map("p_partkey" -> partStride), np(4)), "part")
    write(replicate(tbl("orders"),
      Map("o_orderkey" -> orderStride, "o_custkey" -> custStride), np(8)), "orders")
    write(replicate(tbl("lineitem"),
      Map("l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride), np(16)), "lineitem")
    write(replicate(tbl("events"),
      Map("event_id" -> eventStride, "user_id" -> userStride), np(8)), "events")
    if (include("documents")) {
      val docs = replicate(tbl("documents"), Map("doc_id" -> docStride), np(8))
        .join(broadcast(letterMaps), col("__c") === col("__mc"))
        .withColumn("text", expr("translate(text, __from, __to)"))
        .drop("__mc", "__from", "__to")
      write(docs, "documents")
    }
    // Lane rotation by (copy mod dim), composed with a per-GROUP sign
    // vector (group = copy div dim) — both orthogonal maps, so norms and
    // within-copy geometry are untouched. Groups 0 and 1 are all-(+1) and
    // all-(−1), UNCHANGED from earlier rounds (re-derived ≤2·dim corpora
    // stay byte-identical to the recorded boards); groups ≥ 2 use a
    // splitmix64-keyed per-lane sign mask, unlocking 1000×+ embedding
    // derivations. Cross-copy cosine between two copies sharing a
    // rotation is (agree − disagree)/dim over their sign masks, so the
    // no-manufactured-near-dups property needs every mask PAIR to
    // disagree on a healthy lane fraction — which is not assumed from
    // randomness but CHECKED at derivation time below (pairwise Hamming
    // distance ≥ dim/4 across all groups including the two constant
    // masks; LARGE Hamming is fine — it means cosine near −1, the
    // designed whole-flip direction, and every consumer gates on
    // positive cosine); a violating copy count fails loudly instead of
    // silently re-introducing the quadratic near-dup artifact.
    if (include("embeddings")) {
    val embDim = tbl("embeddings")
      .selectExpr("size(embedding)").head.getInt(0)
    val nGroups = (copies + embDim - 1) / embDim
    def signMask(g: Int): Array[Float] = g match {
      case 0 => Array.fill(embDim)(1.0f)
      case 1 => Array.fill(embDim)(-1.0f)
      case _ =>
        var x = 0L
        def next(): Long = {
          x += 0x9E3779B97F4A7C15L + g.toLong * 0x94D049BB133111EBL
          var z = x
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^ (z >>> 31)
        }
        Array.tabulate(embDim)(i => if (((next() >>> (i % 63)) & 1L) == 0L) 1.0f else -1.0f)
    }
    val masks = (0 until nGroups).map(signMask)
    for (i <- masks.indices; j <- 0 until i) {
      val ham = masks(i).zip(masks(j)).count { case (a, b) => a != b }
      require(ham >= embDim / 4,
        s"sign masks $j/$i too close (Hamming $ham of $embDim): cross-copy " +
          "cosine would not vanish — pick a different copy count")
    }
    val signMaps = spark.createDataFrame(
      masks.zipWithIndex.map { case (m, g) => (g.toLong, m.toSeq) })
      .toDF("__mg", "__sv")
    val emb = replicate(tbl("embeddings"), Map("vec_id" -> docStride), np(8))
      .withColumn("__k", expr("CAST(pmod(__c, size(embedding)) AS INT)"))
      .join(broadcast(signMaps), expr("__c div size(embedding)") === col("__mg"))
      .withColumn("embedding", expr(
        "zip_with(CASE WHEN __k = 0 THEN embedding ELSE " +
          "concat(slice(embedding, __k + 1, size(embedding) - __k), " +
          "slice(embedding, 1, __k)) END, __sv, (x, s) -> x * s)"))
      .drop("__k", "__mg", "__sv")
    write(emb, "embeddings")
    }
    // Stamp the recipe version — FULL derivations only: a subset re-derive
    // into an existing dir leaves a mixture (fresh tables beside stale
    // ones), so the old stamp must keep gating consumers of the untouched
    // tables.
    if (args.length <= 3) {
      val marker = java.nio.file.Paths.get(dst, "_derivation_version")
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker,
        s"$DerivationVersion\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"stamped derivation version $DerivationVersion")
    }
    spark.stop()
    println(s"scaled $src x$copies -> $dst")
  }
}
