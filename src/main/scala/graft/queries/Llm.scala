package graft.queries

import graft.{Caches, Tables}
import graft.functions.{ScoredKey, SimHash, TopKAggregator}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY.md §2 B.10) + UDF/UDAF/UDTF surface
  * (B.11): the operations a training-data pipeline runs at 100 TB.
  *
  * Scale design, per operator:
  *  - exact dedup: shuffle on content hash — linear, no pairwise compare.
  *  - near dedup: MinHash signatures + LSH banding turn O(n²) pair search
  *    into a shuffle on (band, band_hash); only bucket-colliding candidates
  *    get exact Jaccard verification (equi-join on (doc, shingle)).
  *  - top-k similarity: probes broadcast against the corpus, per-partition
  *    scoring, TakeOrdered per probe. At real scale the corpus side gets
  *    LSH/IVF-bucketed first (see q_dedup_near's banding for the pattern);
  *    brute force is the correctness baseline.
  *  - text analysis: per-row expressions + hash aggs, all codegen'd.
  */
object Llm {

  // --------------------------------------------------------- exact dedup
  /** Content-hash dedup: keep min doc_id per sha256(text). */
  def qDedupExact(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies", "content_hash")
      .orderBy("keeper_id")

  /** Normalize-then-dedup: canonicalize text (lowercase, collapse runs of
    * whitespace, trim) BEFORE content-hashing, so case/spacing variants of
    * the same document collapse — the preprocessing step that makes exact
    * dedup catch what byte-level hashing misses. */
  def qDedupNormalized(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .withColumn("canon", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .groupBy(sha2(col("canon"), 256).as("canon_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_variants"))
      .select("keeper_id", "n_variants", "canon_hash")
      .orderBy("keeper_id")

  // ------------------------------------------------- MinHash + LSH near-dup
  // family constants live in graft.functions.MinHash — the single source
  // the fused signature kernel, this pipeline, and the oracle generator
  // all read, so none of the three can drift
  private val NumHashes = graft.functions.MinHash.NumHashes
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands
  private val MersennePrime = graft.functions.MinHash.MersennePrime
  /** Max docs per LSH band bucket before the bucket is dropped from
    * candidate generation (see [[nearDupPairs]]). Constant, deliberately
    * not corpus-relative: per-bucket join work is then bounded at cap²/2
    * pairs at any scale. */
  private[graft] val BucketCap = 500
  /** Signature-estimate sieve threshold: candidate pairs whose estimated
    * Jaccard (fraction of agreeing minhashes) falls below this skip exact
    * verification. 0.55 (≥ 17/32 agreeing hashes) against a 0.8 output
    * target: exact binomial P(true J = 0.8 estimating < 17/32) ≈ 1.4e-4,
    * falling to 3.5e-6 at J = 0.85. Swept in r14 (PERF.md,
    * `tools.NearSweep`, cap × sieve grid at 10× and 100×): output pairs
    * were IDENTICAL at every grid point (2,560 / 25,598), and at 100× the
    * 0.55 → 0.65 move buys only ~6% wall (the pipeline is signature-scan
    * bound there, not verification-bound), so the default keeps the
    * ~40× tighter boundary-recall guarantee. */
  private[graft] val SieveFrac = 0.55
  /** Fixed hash family seeds (see [[graft.functions.MinHash]] — 31-bit
    * bounded, deterministic across runs/JVMs/engines). */
  private val (hashA, hashB) =
    (graft.functions.MinHash.hashA, graft.functions.MinHash.hashB)

  /** Character 5-gram shingles per document (NOT deduplicated), pre-hashed
    * to longs. explode(sequence) + a codegen'd substring instead of
    * a transform(...) lambda (higher-order lambdas are interpreted —
    * CodegenFallback — and dominated the near-dup runtime), and hashing at
    * the source means no downstream shuffle ever carries shingle strings.
    *
    * The shingle id is the codegen'd [[graft.functions.RollingHash]]
    * (base-31 polynomial over code points, mod 1e9+7) rather than
    * xxhash64: the value is ENGINE-SHARED arithmetic, so the DuckDB
    * oracle re-derives every shingle id and the whole pipeline replays
    * (round-17; xxhash64 was the one non-replayable stage). A 5-char
    * shingle folds to < 127·(31⁴+…+1) ≈ 1.26e8 — the mod never wraps, so
    * collisions come only from the base-31 carry structure (measured at
    * sf0.01/sf0.1: distinct 5-gram strings == distinct rollhash ids,
    * 1,981 and 2,041 — zero colliding pairs), and the minhash family
    * below is universal over ANY distinct-id set, so dispersion of the
    * ids themselves is irrelevant to LSH quality.
    *
    * All of a document's shingle hashes come from the ONE-PASS
    * [[graft.functions.ShingleHashes]] kernel (value-identical to
    * rollhash(substring(text, i+1, 5)) per position, locked in LlmSpec) —
    * explode(sequence) + per-position substring would re-scan the string
    * per position and allocate a String per shingle. */
  private def shingles(docs: DataFrame): DataFrame =
    // length >= 5 guard kept as a cheap scan-side prune (a shorter doc
    // yields an empty hash array anyway — the kernel guards n < width)
    docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.shingleHashes(col("text"), 5)).as("sh"))

  /** Near-duplicate pairs: 5-gram shingles -> 32 MinHashes -> 8 bands of 4
    * -> bucket join -> exact-Jaccard verify >= 0.8. FULL-REPLAY ORACLED
    * since round 17: the pipeline was always deterministic (seeded hash
    * family, fixed layout); the one barrier was xxhash64 at the shingle
    * and band sites, which DuckDB lacks. Shingle ids are now the
    * engine-shared [[graft.functions.RollingHash]] and band buckets the
    * lossless minhash pack (see [[bandsOfSig]]), so the oracle re-derives
    * shingles → 32 minhashes → band buckets → bucket-cap purge →
    * candidates → estimate sieve → exact Jaccard, and every emitted pair
    * hash-matches. Scalatest additionally asserts recall 1.0 on exact
    * duplicates and the bucket-cap purge trade. */
  def qDedupNear(s: SparkSession, sf: String): DataFrame =
    nearDupPairs(Tables.documents(s, sf))

  /** (band_idx, band_hash) rows per doc from a cached signature frame —
    * the pipeline's banding step; the bucket-cap and band-layout findings
    * are in PERF.md, "Round 15: q_dedup_near band-layout frontier". */
  private[graft] def bandsOfSig(sig: DataFrame, nBands: Int = Bands): DataFrame = {
    // public-API guard (nearDupPairs threads nBands through here): a band
    // count that doesn't divide NumHashes would silently drop the trailing
    // minhash columns from every band, and nBands > NumHashes would give
    // rowsPer = 0 (a zero-arg xxhash64 per band) — both degenerate the LSH
    // layout without any error, so reject them loudly instead
    require(nBands > 0 && NumHashes % nBands == 0,
      s"bandsOfSig: nBands must be a positive divisor of NumHashes=$NumHashes, got $nBands")
    val rowsPer = NumHashes / nBands
    // The band key is the LOSSLESS two-minhashes-per-long pack (the sieve's
    // shuffle idiom: every minhash < 2³¹ after mod the Mersenne prime, so
    // m₂ⱼ | m₂ⱼ₊₁ << 32 loses nothing), carried as a struct — band equality
    // is then EXACTLY "all rowsPer minhashes equal", not a hash image of it,
    // which (a) removes the only false-positive source a band hash has and
    // (b) makes the bucket key plain BIGINT arithmetic the DuckDB oracle
    // replays verbatim (round-17; the previous xxhash64 band hash was
    // engine-private). Struct keys group/join natively; the shuffle carries
    // rowsPer/2 longs instead of 1 — 8 extra bytes per band row at the
    // production 8×4 layout.
    val bandStructs = (0 until nBands).map { b =>
      val rows = (b * rowsPer until (b + 1) * rowsPer).map(i => col(s"m$i"))
      val packed = rows.grouped(2).zipWithIndex.map { case (pair, j) =>
        val lo = pair.head
        val hi = if (pair.size > 1) pair(1) else lit(0L)
        lo.bitwiseOR(shiftleft(hi, 32)).as(s"k$j")
      }.toSeq
      struct(lit(b).as("band_idx"), struct(packed: _*).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band_idx").as("band_idx"), col("bd.band_hash").as("band_hash"))
  }

  /** Signature frame (doc_id, m0..m31) from a raw shingle frame — the
    * 32-way min-aggregate REFERENCE shape; the pipeline itself rides the
    * fused per-row kernel ([[sigOf]]), and LlmSpec locks the two
    * bit-identical. The stage split it measured is in PERF.md, "Round 17:
    * q_dedup_near converted to a full-replay oracle". */
  private[graft] def sigFromShingles(shRaw: DataFrame): DataFrame = {
    val hashed = shRaw.withColumn("h", pmod(col("sh"), lit(MersennePrime)))
    val minhashAggs = (0 until NumHashes).map { i =>
      min(pmod(col("h") * lit(hashA(i)) + lit(hashB(i)), lit(MersennePrime))).as(s"m$i")
    }
    hashed.groupBy("doc_id").agg(minhashAggs.head, minhashAggs.tail: _*)
  }

  /** Signature frame for a (doc_id, text) frame — the production path
    * since round 17: the fused [[graft.functions.MinHashSignature]]
    * kernel turns the signature into per-row MAP work (scan → 32-col
    * project), eliminating the explode + 32-way min hash-aggregate whose
    * buffer table was the dominant near-dup stage at every decade. No
    * repartition needed: map work parallelizes with the scan, and a doc
    * with no 5-gram (length < 5) has NO signature row, exactly like the
    * groupBy route. Its candidate-mass measurements are in PERF.md,
    * "Round 17: q_dedup_near converted to a full-replay oracle". */
  private[graft] def sigOf(docs: DataFrame): DataFrame = {
    import graft.functions.TextExpressions.{minHashSig, shingleHashes}
    docs.filter(length(col("text")) >= 5)
      .repartition(col("doc_id"))
      .select(col("doc_id"), minHashSig(shingleHashes(col("text"), 5)).as("ms"))
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => col("ms").getItem(i).as(s"m$i")): _*)
  }

  /** Raw repartitioned shingle frame — the input of [[sigFromShingles]],
    * the reference shape LlmSpec locks the fused signature against. */
  private[graft] def sigShingles(docs: DataFrame): DataFrame =
    shingles(docs.repartition(col("doc_id")))

  /** Core near-dup pipeline over any (doc_id, text) frame (tested directly
    * on hand-built frames in LlmSpec). `bucketCap`/`sieveFrac` default to
    * the production constants; `tools.NearSweep` threads alternatives
    * through to measure the recall/wall frontier — every emitted pair is
    * exact-verified regardless, so the knobs can only affect RECALL
    * (which pairs are discovered), never precision. */
  def nearDupPairs(docs: DataFrame,
      bucketCap: Int = BucketCap, sieveFrac: Double = SieveFrac,
      nBands: Int = Bands): DataFrame = {
    // Signatures ride the fused per-row kernel (sigOf): scan → shingle
    // array → 32 minhashes in one codegen'd map stage — no exploded
    // shingle stream, no 32-way min hash-aggregate (the r16 shape; the
    // agg buffer table was the dominant stage at every decade). MinHash
    // mins are multiplicity-invariant, so the kernel streams raw
    // (non-distinct) shingles; exact sets are materialized only for the
    // (orders-of-magnitude smaller) candidate subset below.
    // cache: sig is tiny (one 33-col row per doc) but its lineage is the
    // full-corpus signature scan, and it feeds FIVE consumers (bucket
    // sizes, band left/right, estimate sieve a/b) — uncached, Spark
    // recomputes the whole pipeline per consumer
    val sig = Caches.registered(sigOf(docs))
    // Oversized-bucket cap: a band bucket of n docs generates n²/2
    // candidate pairs, and real corpora produce giant buckets (boilerplate
    // / templated docs whose low-information bands collide en masse — the
    // round-11 10× sweep measured a 2,288-doc bucket and 70M raw pairs,
    // enough to spill-sort the disk away; sf0.1 already carries ~230-doc
    // buckets of the same shape). Buckets larger than [[BucketCap]] are
    // dropped BEFORE the self-join, bounding per-bucket work at cap²/2
    // regardless of corpus size — the standard production LSH-dedup trade.
    // Recall cost is negligible for the target band (J >= 0.8 collides per
    // band with p = 0.8⁴ ≈ 0.41; missing all 7 remaining bands ≈ 2.5%,
    // and an exact duplicate collides in EVERY band, so it is only lost if
    // all nBands of its buckets are oversized — meaning thousands of docs
    // with the full signature, i.e. the pair is boilerplate, not signal).
    // Census FIRST (bounded count state), THEN collect: the oversized-
    // bucket purge must happen BEFORE any membership is materialized — a
    // collect_set-then-filter shape would gather a boilerplate bucket's
    // entire million-doc membership into one aggregation buffer just to
    // drop it (the hot-key funnel in aggregate-buffer costume). After the
    // anti-join every surviving bucket is ≤ bucketCap by construction, so
    // the collected array is BOUNDED state (the q_market_basket rule),
    // and the a < b pairs come from a codegen'd posexplode + suffix-slice
    // explode over the sorted members instead of a self-join — one fewer
    // shuffle of the band frame than the census + keep-join + self-join
    // shape, with the identical candidate set (guide §2.4). The hot side
    // of the anti-join is tiny by construction (> cap postings per purged
    // key), so the planner/AQE broadcasts it.
    val bands = bandsOfSig(sig, nBands)
    val hotBuckets = bands.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bn")).filter(col("bn") > bucketCap)
      .select("band_idx", "band_hash")
    val candidates = bands.join(hotBuckets, Seq("band_idx", "band_hash"), "left_anti")
      .groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .select(posexplode(col("ids")).as(Seq("i", "a_id")), col("ids"))
      .select(col("a_id"), explode(expr("slice(ids, i + 2, size(ids))")).as("b_id"))
      .distinct()
    // cheap sieve before exact verification: estimate Jaccard from the
    // signatures already in hand (fraction of agreeing minhashes) and keep
    // only pairs estimated >= 0.55 — same-vocab corpora produce tens of
    // thousands of low-similarity band collisions that would otherwise all
    // pay the exact shingle-join price. P(true j>=0.8 estimated < 0.55 over
    // 32 hashes) ~ 7e-5, and exact duplicates always estimate 1.0.
    // The sieve joins are the pipeline's largest shuffle (candidate pairs
    // × two signature sides; 9.7M pairs at the 100× probe), so the join
    // sides carry the signature PACKED two-hashes-per-long: every minhash
    // is < 2³¹ (mod a 31-bit Mersenne prime), so (m₂ⱼ | m₂ⱼ₊₁ << 32) is
    // lossless in 16 columns — half the shuffled bytes, identical
    // per-hash agreement arithmetic recovered by shift/mask (all codegen;
    // 100× sieve stage ~18.5 → ~10 s, PERF.md "Round 17: q_dedup_near
    // converted to a full-replay oracle").
    val packs = NumHashes / 2
    def packed(idCol: String, p: String) =
      sig.select(col("doc_id").as(idCol) +:
        (0 until packs).map(j =>
          (col(s"m${2 * j}").bitwiseOR(shiftleft(col(s"m${2 * j + 1}"), 32)))
            .as(s"$p$j")): _*)
    val sigA = packed("a_id", "a_p")
    val sigB = packed("b_id", "b_p")
    val estMatches = (0 until NumHashes).map { i =>
      val (a, b) = (col(s"a_p${i / 2}"), col(s"b_p${i / 2}"))
      val (ha, hb) =
        if (i % 2 == 0) (a.bitwiseAND(lit(0xffffffffL)), b.bitwiseAND(lit(0xffffffffL)))
        else (shiftrightunsigned(a, 32), shiftrightunsigned(b, 32))
      when(ha === hb, 1).otherwise(0)
    }.reduce(_ + _)
    val strong = Caches.registered(
      candidates.join(sigA, Seq("a_id")).join(sigB, Seq("b_id"))
        .filter(estMatches >= (NumHashes * sieveFrac).toInt)
        .select("a_id", "b_id"))
    // exact verification on the sieved candidates only, as per-doc SET
    // ARRAYS instead of an exploded (doc, shingle) stream: each candidate
    // doc's distinct shingle set rides ONE codegen'd kernel row
    // (array_distinct over the one-pass shingle kernel), the pair joins
    // attach two arrays, and |A∩B| is a per-row array_intersect — which
    // replaces the stream shape's explode + DISTINCT shuffle + per-doc
    // count aggregate + (doc, shingle) equi-join + per-pair count
    // aggregate (FOUR exchanges of shingle-mass rows) with two joins of
    // doc-count-bounded array rows (round 17; alternating stash A/B
    // min-of-5 at sf0.1: stream shape 3.4–5.5 s vs array shape
    // 2.1–2.6 s across four same-box rounds, and min-of-3 at the 10×
    // corpus 9.9 → 4.6 s; oracle hash-green at all three SFs). Values are
    // identical: distinct-array size ≡ distinct-stream count per doc,
    // array_intersect cardinality ≡ the equi-join's per-pair match count,
    // and the jaccard arithmetic is the same integer-ratio division. The
    // semi-join still lands BEFORE the kernel, so the full corpus never
    // materializes shingle arrays; the length filter mirrors shingles()'s
    // scan-side prune (a doc without a 5-gram cannot be a candidate —
    // it has no signature row — so the filter is shape, not semantics).
    val candDocs = strong.select(col("a_id").as("doc_id"))
      .union(strong.select(col("b_id").as("doc_id"))).distinct()
    val arrs = Caches.registered(
      docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .filter(length(col("text")) >= 5)
        .select(col("doc_id"), array_distinct(
          graft.functions.TextExpressions.shingleHashes(col("text"), 5)).as("shs")))
    strong
      .join(arrs.select(col("doc_id").as("a_id"), col("shs").as("shs_a")), Seq("a_id"))
      .join(arrs.select(col("doc_id").as("b_id"), col("shs").as("shs_b")), Seq("b_id"))
      .withColumn("n_inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard",
        col("n_inter") / (size(col("shs_a")) + size(col("shs_b")) - col("n_inter")))
      .filter(col("jaccard") >= 0.8)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  // --------------------------------------------------- similarity search
  /** Brute-force cosine top-5 for a BOUNDED probe set (every 50th vector
    * below an absolute id cap, so the broadcast side stays ≤ [[ProbeCap]]/50
    * rows at any corpus size — a `% 50` rule alone would grow the broadcast
    * with the corpus). Probes are broadcast (tiny side); scoring is
    * per-partition over the corpus with no shuffle until the per-probe
    * top-k — work is n·|probes|, linear in the corpus. The cosine is the
    * native codegen'd [[graft.functions.VectorExpressions.cosineSim]]
    * expression (bit-identical accumulation order to the HOF/oracle
    * formulation). */
  val ProbeCap = 2500L
  /** Shared bounded probe rule, mirrored verbatim in the q_sim_topk oracle
    * and reused by the bucketed ANN paths (q_sim_lsh / q_sim_ivf) so all
    * three search operators answer the same probe workload. */
  def probeFilter: Column = col("vec_id") % 50 === 0 && col("vec_id") < ProbeCap
  def qSimTopk(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.VectorExpressions.cosineSim
    val emb = Tables.embeddings(s, sf)
    val probes = emb.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec"))
    val scored = corpus.crossJoin(broadcast(probes))
      .withColumn("cos", round(cosineSim(col("pvec"), col("nvec")), 6))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "neighbor_id", "cos")
      .orderBy("probe_id", "rnk")
  }

  /** Hard-negative mining: for each probe vector, the top-3 most similar
    * corpus vectors carrying a DIFFERENT label — the contrastive-learning
    * pair miner (the negatives that look most like the anchor are the ones
    * worth training against). Same bounded-probe workload, codegen'd
    * cosine, and broadcast-probe shape as [[qSimTopk]] (work n·|probes|,
    * linear in the corpus; at full scale the label-aware candidate
    * generation rides the LSH/IVF bucketed paths exactly as top-k search
    * does); the label predicate lands BEFORE the per-probe heap so
    * same-label vectors never occupy top-k slots. */
  def qHardNegatives(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.VectorExpressions.cosineSim
    val emb = Tables.embeddings(s, sf)
    val probes = emb.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("embedding").as("pvec"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("label").as("neg_label"), col("embedding").as("nvec"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    corpus.crossJoin(broadcast(probes))
      .filter(col("neg_label") =!= col("probe_label"))
      .withColumn("cos", round(cosineSim(col("pvec"), col("nvec")), 6))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select("probe_id", "probe_label", "rnk", "neighbor_id", "neg_label", "cos")
      .orderBy("probe_id", "rnk")
  }

  /** Keep-latest-record dedup: one row per user, the most recent event
    * (the "newest version wins" pipeline primitive; deterministic via the
    * (ts desc, event_id desc) tiebreak). */
  def qDedupLatest(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  // -------------------------------------------------------- text analysis
  /** Global top-20 tokens (the reference's keyed counting applied to text). */
  def qTextTokens(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(20)

  def qTextStats(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("CAST(sum(n_chars) AS DOUBLE) / count(*)").as("avg_chars"),
        expr("CAST(sum(n_tokens) AS DOUBLE) / count(*)").as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Text + vector modalities flowing through one plan. */
  def qMultimodal(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf); val e = Tables.embeddings(s, sf)
    d.join(e, d("doc_id") === e("vec_id"))
      .filter(col("lang") === "en" && col("label") < 5 && col("text").like("%spark%"))
      .select(
        col("doc_id"), col("label"), col("n_chars"),
        expr("sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))").as("emb_norm"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ UDF/UDAF/UDTF
  /** Scala UDF exhibit: simhash64 fingerprint (see [[SimHash]]). Oracled
    * since round 13: the UDF's hash is built from SQL-replayable pieces
    * (rollhash + small-multiplier xorshift rounds), so the DuckDB CTE
    * re-derives every fingerprint from the raw text — the
    * `graft_rollhash` discipline applied to a UDF. */
  def qUdfScalar(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .select(col("doc_id"), SimHash.simhash(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Typed Aggregator exhibit: bounded-buffer top-3 orders per priority. */
  def qUdafTopk(s: SparkSession, sf: String): DataFrame = {
    val topk = udaf(new TopKAggregator(3))
    Tables.orders(s, sf)
      .groupBy("o_orderpriority")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(
        col("o_orderpriority"), (col("pos") + 1).as("rn"),
        col("col.key").as("o_orderkey"), col("col.score").as("o_totalprice"))
      .orderBy("o_orderpriority", "rn")
  }

  /** Count-min-sketch token frequencies per source: one fixed-size
    * mergeable sketch per group ([[graft.functions.CmsSketchAgg]] over
    * Spark's own CountMinSketch), probed at a fixed word list. The 100 TB
    * shape for "how often does token X appear per slice" when exact
    * counting would shuffle an unbounded, stopword-skewed key space:
    * sketches aggregate partially map-side and merge by counter addition,
    * so the output is byte-identical at any partitioning (tested). The
    * probe step deserializes per (group, word) — 20 rows here; scan-scale
    * consumers deserialize once per partition. NOT oracled (DuckDB has no
    * CMS); scalatest pins overcount-only ≤ eps·N and partition invariance. */
  def qAggCms(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.CmsSketchAgg
    val probeWords = Seq("the", "data", "spark", "value")
    val toks = Tables.documents(s, sf)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("token"))
    val est = udf((b: Array[Byte], w: String) => CmsSketchAgg.estimate(b, w))
    toks.groupBy("source").agg(CmsSketchAgg.cmsSketch(col("token")).as("sk"))
      .select(col("source"), explode(typedLit(probeWords)).as("word"), col("sk"))
      .withColumn("est_count", est(col("sk"), col("word")))
      .select("source", "word", "est_count")
      .orderBy("source", "word")
  }

  /** UDTF-shape generator: text -> one row per 5-char shingle position.
    * No custom Generator needed — explode(transform(sequence(...))). */
  def qUdtfShingles(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      // length >= 5 guard mirrors the oracle's empty range(0, len - 4)
      // for short docs; see [[shingles]] on sequence() auto-descent
      .filter(col("doc_id") < 20 && length(col("text")) >= 5)
      .select(col("doc_id"),
        posexplode(expr("transform(sequence(0, length(text) - 5), i -> substring(text, i + 1, 5))")))
      .select(col("doc_id"), col("pos"), col("col").as("shingle"))
      .orderBy("doc_id", "pos")

  /** Incremental-ingestion dedup: an incoming batch (every 10th doc as the
    * stand-in delta) checked against the existing corpus by content hash —
    * the dedup that runs on every ingestion tick, not the full-corpus
    * backfill. One equi-join on the hash; at 100 TB the corpus side is a
    * pre-built hash index (bucketed by hash), so only the small delta
    * shuffles. */
  def qDedupIncremental(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf)
    val batch = d.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
      .select(sha2(col("text"), 256).as("h")).distinct()
      .withColumn("hit", lit(1))
    batch.join(corpus, Seq("h"), "left")
      .select(col("doc_id"), when(col("hit").isNull, 1).otherwise(0).as("is_new"))
      .orderBy("doc_id")
  }

  /** Boilerplate-prefix dedup: documents sharing an identical 16-word head
    * are clustered on the prefix hash (templated pages — mirror notices,
    * license headers, scraped navigation — share heads while their tails
    * differ, so exact/normalized dedup misses them and near-dup MinHash
    * pays signature cost this O(1)-per-doc probe avoids). One
    * map-side-combinable groupBy on the 32-byte hash; the ≥2 filter rides
    * the aggregate (no second pass). Canonical keeper = min doc_id. */
  def qDedupPrefix(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .select(col("doc_id"), col("n_chars"),
        sha2(expr("array_join(slice(split(text, ' '), 1, 16), ' ')"), 256).as("prefix_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).cast("int").as("n_docs"),
        min("doc_id").as("canonical_doc_id"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .filter(col("n_docs") >= 2)
      .orderBy("prefix_hash")

  /** Dedup health report: the duplicate-cluster size distribution (how
    * many content-hash clusters exist at each multiplicity, the doc mass
    * they hold, and the removable extra copies) — the corpus-quality
    * summary a pipeline publishes after every dedup pass, where a fat
    * tail at high multiplicities flags template/boilerplate ingestion.
    * Two map-side-combinable groupBys (hash → size, size → histogram);
    * output is bounded by the largest multiplicity, not the corpus. The
    * audited corpus is documents plus a deterministic re-ingestion slice
    * (doc_id % 97 = 0 re-crawled) so the multiplicity tail is non-empty
    * at every SF — the driver fixture carries exact duplicates only at
    * sf0.1, and an all-singletons histogram would certify nothing (the
    * same vacuity q_decontaminate's derived eval set fixed in round 10). */
  def qDedupClusterStats(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf)
    d.unionAll(d.filter(col("doc_id") % 97 === 0))
      .groupBy(sha2(col("text"), 256).as("h")).agg(count(lit(1)).as("n_copies"))
      .groupBy("n_copies").agg(count(lit(1)).as("n_clusters"))
      .select(col("n_copies"), col("n_clusters"),
        (col("n_copies") * col("n_clusters")).as("n_docs"),
        ((col("n_copies") - 1) * col("n_clusters")).as("extra_copies"))
      .orderBy("n_copies")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_cluster_stats" -> qDedupClusterStats _,
    "q_dedup_prefix" -> qDedupPrefix _,
    "q_dedup_incremental" -> qDedupIncremental _,
    "q_dedup_exact" -> qDedupExact _,
    "q_dedup_normalized" -> qDedupNormalized _,
    "q_dedup_latest" -> qDedupLatest _,
    "q_dedup_near" -> qDedupNear _,
    "q_sim_topk" -> qSimTopk _,
    "q_hard_negatives" -> qHardNegatives _,
    "q_text_tokens" -> qTextTokens _,
    "q_text_stats" -> qTextStats _,
    "q_multimodal" -> qMultimodal _,
    "q_udf_scalar" -> qUdfScalar _,
    "q_udaf_topk" -> qUdafTopk _,
    "q_agg_cms" -> qAggCms _,
    "q_udtf_shingles" -> qUdtfShingles _,
  )

  // Shared oracle CTE: the full simhash64 fingerprint replay — the
  // 31-polynomial rollhash per token (q_text_fingerprint's kernel),
  // three xorshift-multiply widening rounds in HUGEINT mod 2^64 (the
  // multipliers are < 2^32 so every product stays < 2^96), per-bit ±1
  // majority vote, then the signed-BIGINT reassembly. Used verbatim by
  // BOTH the q_udf_scalar oracle and q_dedup_simhash's (in VectorOps),
  // so the fingerprint definition can never drift between them. `fp`
  // carries the signed fingerprint plus the unsigned image `ufp` for
  // band extraction.
  private[queries] val simhashFpSql =
    """toks AS (
      |  SELECT doc_id, t AS tok
      |  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
      |  WHERE length(t) >= 1),
      |th AS (
      |  SELECT doc_id,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(tok) + 1), i -> CAST(ascii(substring(tok, CAST(i AS INT), 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS HUGEINT) AS rh
      |  FROM toks),
      |mx AS (
      |  SELECT doc_id,
      |    rh * 2654435761 AS z1,
      |    xor(z1, z1 // 536870912) AS z2,
      |    (z2 * 1540483477) % 18446744073709551616 AS z3,
      |    xor(z3, z3 // 4294967296) AS z4,
      |    (z4 * 2246822519) % 18446744073709551616 AS z5,
      |    xor(z5, z5 // 536870912) AS h
      |  FROM th),
      |cnt AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (h >> CAST(b AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS c
      |  FROM mx, UNNEST(range(0, 64)) AS r(b)
      |  GROUP BY 1, 2),
      |fpu AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN c > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INT)
      |                  ELSE CAST(0 AS HUGEINT) END) AS fp
      |  FROM cnt GROUP BY 1),
      |fp AS (
      |  SELECT d.doc_id, coalesce(f.fp, 0) AS ufp,
      |         CAST(CASE WHEN coalesce(f.fp, 0) >= CAST(1 AS HUGEINT) << 63
      |                   THEN coalesce(f.fp, 0) - (CAST(1 AS HUGEINT) << 64)
      |                   ELSE coalesce(f.fp, 0) END AS BIGINT) AS fingerprint
      |  FROM documents d LEFT JOIN fpu f USING (doc_id))""".stripMargin

  // Full near-dup LSH replay (round 17): the entire pipeline is
  // engine-shared arithmetic — rollhash shingle ids (the simhashFpSql
  // list_reduce idiom), the seeded 32-hash affine minhash family
  // interpolated as literals (every product < 2^62, plain BIGINT), the
  // lossless two-per-long band pack, the ≤ BucketCap purge, the ≥ 17/32
  // estimate sieve, and the exact distinct-shingle Jaccard — so DuckDB
  // re-derives the exact candidate set and every emitted pair
  // hash-matches. Generated from the SAME constants the Spark pipeline
  // reads (hashA/hashB/Bands/RowsPerBand/BucketCap/SieveFrac): the two
  // sides cannot drift independently.
  private[queries] def nearDupOracleSql: String = {
    val P = MersennePrime
    val minhashCols = (0 until NumHashes)
      .map(i => s"min((sh * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i")
      .mkString(",\n      ")
    val nKeys = (RowsPerBand + 1) / 2
    val keyCols = (0 until nKeys).map(j => s"k$j").mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val ks = (b * RowsPerBand until (b + 1) * RowsPerBand).grouped(2)
        .zipWithIndex.map { case (pair, j) =>
          val hiTerm = if (pair.size > 1) s" + m${pair(1)} * 4294967296" else ""
          s"m${pair.head}$hiTerm AS k$j"
        }.mkString(", ")
      s"SELECT doc_id, $b AS band_idx, $ks FROM sig"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString("\n           + ")
    val sieveMin = (NumHashes * SieveFrac).toInt
    s"""WITH shp AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 6), j -> CAST(ascii(substring(text, CAST(i + j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS sh
       |  FROM documents, UNNEST(range(0, CAST(length(text) AS INT) - 4)) AS t(i)
       |  WHERE length(text) >= 5),
       |sig AS (
       |  SELECT doc_id,
       |      $minhashCols
       |  FROM shp GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |okb AS (SELECT band_idx, $keyCols FROM bands
       |        GROUP BY band_idx, $keyCols HAVING count(*) <= $BucketCap),
       |bok AS (SELECT b.doc_id, b.band_idx, $keyCols
       |        FROM bands b JOIN okb USING (band_idx, $keyCols)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bok a JOIN bok b USING (band_idx, $keyCols)
       |         WHERE a.doc_id < b.doc_id),
       |strong AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN sig sa ON sa.doc_id = a_id
       |  JOIN sig sb ON sb.doc_id = b_id
       |  WHERE $agree >= $sieveMin),
       |cd AS (SELECT DISTINCT doc_id
       |       FROM (SELECT a_id AS doc_id FROM strong
       |             UNION ALL SELECT b_id FROM strong)),
       |shd AS (SELECT DISTINCT s.doc_id, s.sh FROM shp s JOIN cd USING (doc_id)),
       |sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |inter AS (
       |  SELECT st.a_id, st.b_id, count(*) AS n_inter
       |  FROM strong st
       |  JOIN shd x ON x.doc_id = st.a_id
       |  JOIN shd y ON y.doc_id = st.b_id AND y.sh = x.sh
       |  GROUP BY st.a_id, st.b_id)
       |SELECT i.a_id, i.b_id,
       |       CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) AS jaccard
       |FROM inter i
       |JOIN sz za ON za.doc_id = i.a_id
       |JOIN sz zb ON zb.doc_id = i.b_id
       |WHERE CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_dedup_near" -> nearDupOracleSql,
    "q_udf_scalar" ->
      s"""WITH $simhashFpSql
         |SELECT doc_id, fingerprint FROM fp ORDER BY doc_id""".stripMargin,
    "q_dedup_cluster_stats" ->
      """WITH u AS (SELECT text FROM documents
        |           UNION ALL SELECT text FROM documents WHERE doc_id % 97 = 0),
        |c AS (SELECT sha256(text) AS h, count(*) AS n_copies FROM u GROUP BY 1)
        |SELECT n_copies, count(*) AS n_clusters,
        |       CAST(n_copies * count(*) AS BIGINT) AS n_docs,
        |       CAST((n_copies - 1) * count(*) AS BIGINT) AS extra_copies
        |FROM c GROUP BY n_copies ORDER BY n_copies""".stripMargin,
    "q_dedup_prefix" ->
      """WITH p AS (SELECT doc_id, n_chars,
        |             sha256(array_to_string(string_split(text, ' ')[1:16], ' ')) AS prefix_hash
        |           FROM documents)
        |SELECT prefix_hash, CAST(count(*) AS INT) AS n_docs,
        |       min(doc_id) AS canonical_doc_id,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM p GROUP BY prefix_hash HAVING count(*) >= 2
        |ORDER BY prefix_hash""".stripMargin,
    "q_dedup_incremental" ->
      """SELECT b.doc_id, CASE WHEN c.h IS NULL THEN 1 ELSE 0 END AS is_new
        |FROM (SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 10 = 0) b
        |LEFT JOIN (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 10 <> 0) c
        |       ON b.h = c.h
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, sha256(text) AS content_hash
        |FROM documents GROUP BY sha256(text) ORDER BY keeper_id""".stripMargin,
    "q_dedup_normalized" ->
      """WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS canon FROM documents)
        |SELECT min(doc_id) AS keeper_id, count(*) AS n_variants, sha256(canon) AS canon_hash
        |FROM c GROUP BY sha256(canon) ORDER BY keeper_id""".stripMargin,
    "q_dedup_latest" ->
      """SELECT user_id, event_id, ts, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH probes AS (
        |  SELECT vec_id AS probe_id, label AS probe_label, embedding::DOUBLE[] AS pvec
        |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < $ProbeCap
        |), corpus AS (
        |  SELECT vec_id AS neighbor_id, label AS neg_label, embedding::DOUBLE[] AS nvec
        |  FROM embeddings
        |), scored AS (
        |  SELECT probe_id, probe_label, neighbor_id, neg_label,
        |         round(list_sum(list_transform(range(1, 65), i -> pvec[i] * nvec[i])) /
        |               (sqrt(list_sum(list_transform(pvec, x -> x * x))) *
        |                sqrt(list_sum(list_transform(nvec, x -> x * x)))), 6) AS cos
        |  FROM corpus, probes WHERE neg_label <> probe_label)
        |SELECT probe_id, probe_label,
        |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk,
        |       neighbor_id, neg_label, cos
        |FROM scored QUALIFY rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,
    "q_sim_topk" ->
      s"""WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pvec FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < $ProbeCap
        |), corpus AS (
        |  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nvec FROM embeddings
        |), scored AS (
        |  SELECT probe_id, neighbor_id,
        |         round(list_sum(list_transform(range(1, 65), i -> pvec[i] * nvec[i])) /
        |               (sqrt(list_sum(list_transform(pvec, x -> x * x))) *
        |                sqrt(list_sum(list_transform(nvec, x -> x * x)))), 6) AS cos
        |  FROM corpus, probes)
        |SELECT probe_id,
        |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk,
        |       neighbor_id, cos
        |FROM scored QUALIFY rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    "q_text_tokens" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_multimodal" ->
      """SELECT doc_id, label, n_chars,
        |       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS emb_norm
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |WHERE lang = 'en' AND label < 5 AND text LIKE '%spark%'
        |ORDER BY doc_id""".stripMargin,
    "q_udaf_topk" ->
      """SELECT o_orderpriority,
        |       row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |       o_orderkey, o_totalprice
        |FROM orders QUALIFY rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q_udtf_shingles" ->
      """SELECT doc_id, CAST(i AS INT) AS pos, substring(text, CAST(i AS INT) + 1, 5) AS shingle
        |FROM documents, UNNEST(range(0, CAST(length(text) AS INT) - 4)) AS t(i)
        |WHERE doc_id < 20 ORDER BY doc_id, pos""".stripMargin,
  )
}
