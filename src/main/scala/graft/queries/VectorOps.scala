package graft.queries

import graft.{Caches, SessionConfs, Tables}
import graft.functions.SimHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector / fingerprint near-duplicate + ANN operators (builder mandate
  * beyond SURVEY.md §2 B.10): embedding-cosine near-dup, SRP-LSH bucketed
  * similarity search, SimHash-banded near-dup.
  *
  * Scale design: the oracled q_dedup_embcos is the brute-force correctness
  * baseline (quadratic — fine at test scale, documented as such); the LSH
  * variants are the 100 TB path: signatures are per-row map work, banding
  * turns pair search into an equi-join shuffle on (band, bucket), and only
  * bucket-colliding candidates are scored exactly.
  */
object VectorOps {

  /** Embedding near-dup, brute force: all pairs with cosine >= 0.45
    * (this corpus is near-orthogonal random; max pairwise cosine ~0.6).
    *
    * Expressed as a broadcast self-join scored by the codegen'd
    * [[graft.functions.VectorExpressions.cosineSim]] expression: the build
    * side is a Spark `broadcast()` (planner-managed, torn down with the
    * plan — no driver-held state, unlike a hand-rolled `collect()`), the
    * probe side streams per partition, and the cosine loop runs inside
    * WholeStageCodegen with the same sequential-fold accumulation order as
    * the SQL/oracle formulation, so results are bit-equal. Quadratic by
    * construction — the documented test-scale baseline; the 100 TB path is
    * q_sim_lsh's banding, which bounds the pair space by bucket.
    *
    * The `vec_id < BruteForceCap` rule (mirrored in the oracle) bounds the
    * exactness audit to an absolute corpus slice — same treatment as
    * q_sim_topk's probe cap: at any corpus size the broadcast side is at
    * most Cap rows and the pair space at most Cap²/2 ≈ 8M dots, so the
    * query stays runnable at 100 TB while remaining exhaustive at every
    * test SF (embeddings ≤ 2000 rows). */
  val BruteForceCap = 4096
  def qDedupEmbcos(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.VectorExpressions.dot
    // norms are pair-invariant, so hoist them out of the O(n²) join: one
    // interpreted HOF fold per VECTOR (bit-identical to the oracle's
    // sqrt(Σx²) fold), leaving only the codegen'd dot per PAIR — 3x fewer
    // flops in the quadratic stage
    val e = Tables.embeddings(s, sf)
      .filter(col("vec_id") < BruteForceCap)
      .withColumn("nrm",
      sqrt(expr("aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
    // repartition the probe side: a single-file corpus otherwise pins the
    // whole pair scan to one input partition regardless of session cores
    val a = e.repartition(col("vec_id"))
      .select(col("vec_id").as("a_id"), col("embedding").as("av"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("bv"), col("nrm").as("nb"))
    // the WHOLE predicate lives in the join condition, cheap conjunct
    // first: a_id < b_id short-circuits half the pair space before the
    // 64-dim dot runs (a separate .filter(cos >= …) gets pushed into the
    // join AHEAD of the cheap test — measured 2x slower); the survivors
    // (a handful of rows) recompute the dot once more in the projection.
    //
    // round() on a double is BigDecimal-backed (RoundBase allocates and
    // re-scales per evaluation) and dominated the pair scan when it ran
    // per pair. The raw-cosine guard in front is SOUND: round(c, 6) ≥ 0.45
    // (HALF_UP) requires the exact decimal of c ≥ 0.4499995, and every
    // such double compares > 0.4499, so no qualifying pair is dropped —
    // the BigDecimal path now runs only for the boundary band + survivors
    // while the verdict stays the identical rounded comparison.
    val rawCos = dot(col("av"), col("bv")) / (col("na") * col("nb"))
    val cosExpr = round(rawCos, 6)
    a.join(broadcast(b),
        col("a_id") < col("b_id") && rawCos >= 0.4499 && cosExpr >= 0.45)
      .select(col("a_id"), col("b_id"), cosExpr.as("cos"))
      .orderBy("a_id", "b_id")
  }

  // ---- SRP-LSH (random hyperplane signatures for cosine) ----------------
  // 64 planes in 4 bands of 16 bits: 2^16 = 65,536 buckets PER BAND, the
  // same banding geometry q_dedup_simhash uses. Bucket count is a property
  // of the signature width, independent of corpus size, so expected random
  // collisions per band are n²/65,536 — at 16-bit bands a corpus must reach
  // ~65k vectors before random co-bucketing averages one partner per
  // vector, and widening PlaneBits (or re-banding the same 64-bit
  // signature) restores sparsity at any larger n. The previous 16-plane /
  // 4-bit geometry capped buckets at 16 per band, which made candidates
  // ~n²/4 — quadratic at every scale.
  private val NumPlanes = graft.functions.SrpPlanes.NumPlanes
  private val PlaneBits = 16 // 4 bands x 16 bits

  /** 64-bit SRP signature of a vector column: the single-pass codegen'd
    * [[graft.functions.SrpSignature]] expression (one fused loop for all
    * 64 plane dots — 64 separate DotProduct expressions would re-read the
    * vector per plane). */
  private def srpSignature(v: Column): Column =
    graft.functions.VectorExpressions.srpSig(v)

  /** Bands of the signature as (band_idx, bucket) rows. */
  private def bandRows(df: DataFrame, idCol: String): DataFrame = {
    val bands = (0 until NumPlanes / PlaneBits).map { bIdx =>
      struct(lit(bIdx).as("band_idx"),
        shiftright(col("sig"), bIdx * PlaneBits).bitwiseAND(lit((1L << PlaneBits) - 1)).as("bucket"))
    }
    df.select(col(idCol), explode(array(bands: _*)).as("bd"))
      .select(col(idCol), col("bd.band_idx").as("band_idx"), col("bd.bucket").as("bucket"))
  }

  /** SRP band rows for an arbitrary (id, embedding) frame — exposed so
    * tests can measure the candidate-pair space directly (the sub-quadratic
    * growth claim is asserted, not just stated, in ExtraOpsSpec). */
  private[graft] def srpBands(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    bandRows(df.select(col(idCol), srpSignature(col(vecCol)).as("sig")), idCol)

  /** All unordered candidate pairs (a_id < b_id) the SRP banding would
    * generate within a (vec_id, embedding) corpus — the quantity whose
    * growth rate IS the scale claim (candidates ∝ near-dup structure, not
    * n²). Used by ExtraOpsSpec's corpus-doubling property test. */
  private[graft] def lshCandidatePairs(corpus: DataFrame): DataFrame = {
    val bands = srpBands(corpus, "vec_id", "embedding")
    val a = bands.select(col("band_idx"), col("bucket"), col("vec_id").as("a_id"))
    val b = bands.select(col("band_idx").as("bi"), col("bucket").as("bu"), col("vec_id").as("b_id"))
    a.join(b, col("band_idx") === col("bi") && col("bucket") === col("bu") &&
        col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Bucketed ANN: bounded probes (every 50th vector under [[Llm.ProbeCap]])
    * search only corpus vectors sharing an SRP band bucket — the 100 TB
    * path where brute force (q_sim_topk) is the verified baseline.
    * FULL-REPLAY ORACLED since round 16: the SRP plane matrix is a fixed
    * seeded constant, so the oracle embeds all 64 planes as DOUBLE[]
    * literals (printed shortest-roundtrip — any correctly-rounding parser
    * recovers the exact bits) and re-derives every signature with the
    * same dim-ordered sequential fold the [[graft.functions.SrpPlanes]]
    * kernel runs (DuckDB list_reduce is a left fold), so each `dot > 0`
    * sign decision is bit-identical and the candidate set replays
    * exactly. Scalatest additionally checks self-retrieval,
    * subset-of-brute-force, and sub-quadratic candidate growth. */
  def qSimLsh(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.embeddings(s, sf).withColumn("sig", srpSignature(col("embedding")))
    val corpusBands = bandRows(e.select(col("vec_id").as("neighbor_id"), col("sig")), "neighbor_id")
    // probes are a subset of the corpus, so probe bands are a FILTER of the
    // corpus bands — no second signature pass over the probe vectors
    val probeBands = corpusBands
      .filter(col("neighbor_id") % 50 === 0 && col("neighbor_id") < Llm.ProbeCap)
      .withColumnRenamed("neighbor_id", "probe_id")
    val candidates = probeBands.join(corpusBands, Seq("band_idx", "bucket"))
      .select("probe_id", "neighbor_id").distinct()
    val av = Tables.embeddings(s, sf).select(col("vec_id").as("probe_id"), col("embedding").as("av"))
    val bv = Tables.embeddings(s, sf).select(col("vec_id").as("neighbor_id"), col("embedding").as("bv"))
    val scored = candidates.join(av, Seq("probe_id")).join(bv, Seq("neighbor_id"))
      .withColumn("cos",
        round(graft.functions.VectorExpressions.cosineSim(col("av"), col("bv")), 6))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "neighbor_id", "cos")
      .orderBy("probe_id", "rnk")
  }

  /** IVF nlist by the standard sizing rule nlist ≈ √n, clamped to
    * [4, 256]: posting lists stay ~√n long AND there are only ~√n of them,
    * so probe work per query is ~nprobe·√n — the balance point the rule
    * exists for — while the cap keeps the broadcast quantizer O(256)
    * bytes-ish at any corpus size (a 10^9-vector deployment would raise
    * the cap with executor memory and k-means-refine the centroids; the
    * deterministic id-stride sample keeps this exhibit reproducible
    * without a training job). Derived per corpus from ONE count — never
    * per-row work. */
  private[graft] def ivfNlist(n: Long): Int =
    math.max(4, math.min(256, math.round(math.sqrt(n.toDouble)).toInt))
  /** IVF (inverted-file) bucketed ANN — the coarse-quantizer alternative
    * to q_sim_lsh's hyperplane banding: a bounded deterministic centroid
    * set (see [[ivfNlist]]) is broadcast; each corpus vector joins its
    * single nearest centroid's posting list, probes fan out to their
    * [[IvfNprobe]] nearest centroids, and exact scoring touches only those
    * lists. At scale the centroid id is the shuffle key and pair work is
    * ~n·nprobe/nlist per probe, never n²; the corpus-side quantizer is a
    * per-row argmin aggregation (`min_by` with partial map-side combine —
    * no per-row window sort over the n·K scored rows, no driver state).
    * Self-retrieval is guaranteed (a probe's top-1 centroid is within its
    * probed set — the posting and probe sides share one metric and
    * tiebreak). FULL-REPLAY ORACLED since round 16: assignment and probe
    * fan-out decide on EXACT integer squared-Euclidean d² over floor(x·128)
    * quantized lanes (the q_semdedup/q_kmeans idiom; Euclidean-nearest is
    * also the standard IVF coarse quantizer — FAISS IndexIVF assigns in
    * L2), so the candidate set replays bit-identically in SQL; the
    * previously float-cosine argmax was the one hash-undecidable stage.
    * Scalatest additionally asserts structure, self-retrieval,
    * subset-of-brute-force, bounded candidate count, and MEASURED recall@5
    * floors vs the exact baseline (ExtraOpsSpec; numbers in PERF.md). */
  /** Probe fan-out — the recall/cost knob every IVF deployment tunes.
    * 16 since round 17 (the r16 nprobe=4 left random-corpus recall@5 at
    * 0.455, the one quality floor a user would notice): the measured
    * frontier on this near-random 64-dim fixture (`tools.IvfSweep`,
    * recall@5 vs exact brute force / wall min-of-2) is
    * nprobe 4 → 0.455, 8 → 0.620, 12 → 0.695, 16 → 0.755, 24 → 0.860 at
    * sf0.1 (10×: 0.490 / 0.645 / 0.740 / 0.795 / 0.880) with wall FLAT
    * across the grid at these SFs — candidate scoring is linear in
    * nprobe but small against the pipeline's fixed stages. 16 clears the
    * ~0.7 bar with margin on a fixture whose true neighbors sit at
    * cos ≤ 0.49 (barely above the random-pair band — the worst case for
    * any bucketed ANN; planted-twin recall was already 0.975 at
    * nprobe=4). Scan fraction nprobe/nlist shrinks as the corpus grows
    * (36% at sf0.1's nlist=45, 11% at 10×'s 141, 6% at the 256 cap). */
  private[graft] val IvfNprobe = 16
  /** Quantized-lane frame (idCol, qv = floor(x·128) lanes as FLOAT —
    * graft_dot's probe type, values ≤ 129 exactly representable —, nn =
    * ‖qv‖²): the exact-integer space [[ivfAssign]]/[[ivfProbe]] decide in.
    * Every downstream d² operand is an integer-valued double < 2²³, so
    * argmin decisions are bit-identical to the oracle's BIGINT
    * arithmetic. */
  private[graft] def ivfQuantize(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import graft.functions.VectorExpressions.dot
    df.select(col(idCol),
      expr(s"transform($vecCol, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT) AS FLOAT))")
        .as("qv"))
      .withColumn("nn", dot(col("qv"), col("qv")))
  }

  /** Corpus-side quantizer (nprobe=1): nearest centroid by EXACT integer
    * d² = ‖v‖² − 2·v·c + ‖c‖² over the broadcast centroid set via min_by
    * (cid-ascending tiebreak, struct(d2, cid)) — aggregates partially
    * map-side, ships one row per vector, and never materializes a sorted
    * n·K window. Takes an [[ivfQuantize]]d frame; `private[graft]` so
    * tests can drive it with synthetic centroid sets. */
  private[graft] def ivfAssign(q: DataFrame, idCol: String,
      cents: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.dot
    q.crossJoin(broadcast(cents))
      .withColumn("d2", col("nn") - lit(2d) * dot(col("qv"), col("cv")) + col("nc"))
      .groupBy(idCol)
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
  }

  /** Probe-side fan-out: top-`nprobe` centroids per probe by the same
    * exact d² (ascending, cid ascending). A row_number window is fine
    * here — the probe set is bounded (|probes| · K rows). */
  private[graft] def ivfProbe(q: DataFrame, idCol: String,
      cents: DataFrame, nprobe: Int): DataFrame = {
    import graft.functions.VectorExpressions.dot
    val w = Window.partitionBy(idCol).orderBy(col("d2").asc, col("cid").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("d2", col("nn") - lit(2d) * dot(col("qv"), col("cv")) + col("nc"))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .select(col(idCol), col("cid"))
  }

  def qSimIvf(s: SparkSession, sf: String): DataFrame =
    ivfTopk(s, sf, IvfNprobe)

  /** Full IVF pipeline with the probe fan-out threaded ([[qSimIvf]] binds
    * the production [[IvfNprobe]]; `tools.IvfSweep` threads alternatives
    * to measure the recall/wall frontier — candidates are exact-scored
    * regardless, so nprobe only moves RECALL, never precision). */
  private[graft] def ivfTopk(s: SparkSession, sf: String, nprobe: Int): DataFrame = {
    import graft.functions.VectorExpressions.cosineSim
    // cached: the quantized frame feeds the centroid filter, the posting
    // assignment and the probe fan-out (harness-drained via Caches);
    // repartition BEFORE quantizing — a single-file corpus otherwise pins
    // the n·K assignment fan-out to one input partition
    val q = Caches.registered(ivfQuantize(
      Tables.embeddings(s, sf).repartition(col("vec_id")), "vec_id", "embedding"))
    // nlist from the corpus count (≈√n, capped — see ivfNlist); centroids
    // are an id-stride sample so exactly nlist of them exist at any SF
    val n = Tables.embeddings(s, sf).count()
    val k = ivfNlist(n)
    val stride = math.max(1L, n / k)
    // Centroid ids are raw vec_ids < stride·k, and the DuckDB oracle's
    // d²·2²⁴+cid argmin packing is only faithful while cid < 2²⁴ — fail
    // the QUERY loudly at the bound instead of letting an oracle replay
    // silently corrupt its assignment (remap cids to a dense 0..k-1
    // index, or switch the oracle to arg_min(cid, ROW(d2, cid)), before
    // lifting this). Headroom is ~8,000× the sf0.1 corpus.
    require(stride * k <= (1L << 24),
      s"qSimIvf: centroid id domain ${stride * k} exceeds the oracle's 2^24 packing bound")
    val cents = q.filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nn").as("nc"))
    val posting = ivfAssign(
      q.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id", cents)
    val probeLists = ivfProbe(
      q.filter(Llm.probeFilter).withColumnRenamed("vec_id", "probe_id"),
      "probe_id", cents, nprobe)
    // each neighbor sits in exactly one posting list, so (probe, neighbor)
    // pairs are already unique — no post-join distinct needed
    val candidates = probeLists.join(posting, Seq("cid"))
      .select("probe_id", "neighbor_id")
    val av = Tables.embeddings(s, sf).select(col("vec_id").as("probe_id"), col("embedding").as("av"))
    val bv = Tables.embeddings(s, sf).select(col("vec_id").as("neighbor_id"), col("embedding").as("bv"))
    val scored = candidates.join(av, Seq("probe_id")).join(bv, Seq("neighbor_id"))
      .withColumn("cos", round(cosineSim(col("av"), col("bv")), 6))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "neighbor_id", "cos")
      .orderBy("probe_id", "rnk")
  }

  /** SimHash-banded near-dup over documents: 64-bit fingerprints, 4 bands
    * of 16 bits; candidates from band collisions, kept when Hamming
    * distance <= 8. Oracled since round 13 via the shared fingerprint
    * replay CTE ([[Llm.simhashFpSql]]) + band/Hamming re-derivation. */
  def qDedupSimhash(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
      .select(col("doc_id"), SimHash.simhash(col("text")).as("fp"))
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band_idx"),
        shiftright(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    val banded = docs.select(col("doc_id"), col("fp"), explode(array(bands: _*)).as("bd"))
      .select(col("doc_id"), col("fp"), col("bd.band_idx").as("band_idx"), col("bd.bucket").as("bucket"))
    val left = banded.select(col("band_idx"), col("bucket"), col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val right = banded.select(col("band_idx").as("band_idx_r"), col("bucket").as("bucket_r"),
      col("doc_id").as("b_id"), col("fp").as("b_fp"))
    left.join(right, col("band_idx") === col("band_idx_r") &&
        col("bucket") === col("bucket_r") && col("a_id") < col("b_id"))
      // Hamming distance as built-in bit_count(xor) — codegen'd, unlike a
      // Scala UDF (only the fingerprint itself is custom enough for one)
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_fp ^ b_fp)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("a_id", "b_id")
  }

  /** Word-bigram Jaccard near-dup with inverted-index candidate pruning:
    * pairs must share at least one RARE bigram (document frequency <=
    * max(20, 0.01·corpus)) before paying the exact Jaccard join — the
    * classic inverted-index shortcut that keeps n-gram dedup linear in
    * posting-list sizes instead of quadratic in documents. Fully oracled:
    * DuckDB computes the identical candidate rule and Jaccard. */
  def qDedupNgram(s: SparkSession, sf: String): DataFrame =
    ngramEdges(s, sf).orderBy("a_id", "b_id")

  /** Word bigrams per document: (doc_id, bg) rows — distinct per doc by
    * default (set semantics for dedup/DF stats), or with multiplicities
    * (occurrence counting, e.g. repetition detection). Repartitions
    * before exploding — single-file input otherwise caps the pipeline at
    * 1-2 partitions regardless of session cores. The size(t) >= 2 guard:
    * a 0/1-token doc has no bigrams — unguarded, sequence(1, size - 1)
    * auto-descends (Spark defaults step to -1 when start > stop) into an
    * out-of-range element_at(t, 0). The filter matches the oracle's
    * naturally-empty range(1, len(s)). Shared by the n-gram dedup
    * pipeline, the corpus bigram-DF stats, and repetition detection
    * (TextOps). */
  private[graft] def docBigrams(docs0: DataFrame, distinct: Boolean = true): DataFrame = {
    val bg = docs0.repartition(col("doc_id"))
      .select(col("doc_id"), expr("split(text, ' ')").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"), explode(expr("sequence(1, size(t) - 1)")).as("i"))
      .select(col("doc_id"), expr("concat(element_at(t, i), ' ', element_at(t, i + 1))").as("bg"))
    if (distinct) bg.distinct() else bg
  }

  /** Shared inverted-index candidate generator: distinct (a_id, b_id)
    * pairs sharing at least one RARE bigram (df <= [[RareDfCap]]) — the
    * pruning that keeps pair generation linear in corpus size. Used by the
    * Jaccard (symmetric) and containment (asymmetric) dedups.
    *
    * The cap is a CONSTANT, deliberately not a fraction of the corpus: a
    * bigram of document frequency df generates ~df²/2 candidate pairs, so
    * with a df <= n/100 rule the admitted pair mass grows like n·(n/100)²
    * — cubic in corpus size. The round-11 10× sweep caught exactly that:
    * at 50k docs the 1%-rule admitted every df <= 500 bigram and edge
    * building ran 25+ minutes where the constant-cap form takes seconds.
    * With a constant cap the total join work is bounded by
    * Σ_rare df² <= cap · Σ df — linear in total bigram occurrences, the
    * only form that survives 100 TB. Dropping super-frequent shingles from
    * the index is the standard production dedup trade (they carry no
    * discriminative signal); the oracle SQL applies the identical cap, so
    * the definition — not an approximation of it — is what's checked. */
  /** Max document frequency for a bigram to serve as a candidate-pair
    * generator. 50 keeps every dup pair the old sf0.1 threshold admitted
    * while bounding per-bigram join fan-out at 50²/2 pairs regardless of
    * corpus size. Shared verbatim by the DuckDB oracle SQL below. */
  private[graft] val RareDfCap = 50

  private[graft] def rareCandidates(bg: DataFrame): DataFrame = {
    val rare = bg.groupBy("bg").agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(RareDfCap))
      .select("bg")
    bg.select(col("doc_id").as("a_id"), col("bg"))
      .join(rare, Seq("bg"))
      .join(bg.select(col("doc_id").as("b_id"), col("bg")), Seq("bg"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Core bigram-Jaccard pipeline over any (doc_id, text) frame (tested
    * directly on hand-built short-doc frames in ExtraOpsSpec). */
  def ngramPairs(docs0: DataFrame): DataFrame =
    pairsFromBigrams(Caches.registered(docBigrams(docs0)))

  /** The materialized near-dup edge list, memoized per (session, SF dir)
    * the way [[graft.Tables]] memoizes readers: SEVEN graph consumers
    * (n-gram dedup, dup clusters, PageRank ×2, BFS, HITS, triangles) run
    * over the SAME bigram-Jaccard pair set, and rebuilding the
    * inverted-index pipeline per query is pure fixed cost (~1 s each at
    * sf0.1). The pair list is near-dup-mass-sized (never corpus-sized),
    * so it localCheckpoints eagerly and the intermediate bigram cache is
    * dropped once the checkpoint holds — the production shape is a
    * materialized edge TABLE maintained once and served to every
    * downstream graph job. */
  private val edgeMemo = new graft.SessionMemo[DataFrame]
  private[graft] def ngramEdges(s: SparkSession, sf: String): DataFrame =
    edgeMemo.getOrElseUpdate(s, sf) {
      val (cand, bgc) = ngramIndex(s, sf)
      pairsFromIndex(cand, bgc).localCheckpoint()
    }
  private[graft] def edgeMemoEntriesFor(s: SparkSession): Int =
    edgeMemo.entriesFor(s)

  /** The materialized rare-bigram INVERTED INDEX — (candidate pairs,
    * candidate-doc bigram postings) — memoized per (session, SF dir) like
    * [[ngramEdges]]: THREE dedup verifiers (bigram Jaccard through the
    * edge memo, containment, edit-distance) consume the identical cand /
    * bgc frames, and each rebuild of the corpus-sized explode + df-filter
    * pipeline is ~1.5 s of pure fixed cost per query at sf0.1 (×2 per
    * Bench pass once caches stopped leaking across queries). Both frames
    * are dup-mass-sized — never corpus-sized — so they localCheckpoint
    * eagerly (ContextCleaner-owned blocks); the corpus-sized bigram frame
    * is dropped once the checkpoints hold. The production shape is a
    * maintained posting-list TABLE every dedup job reads, exactly like
    * the edge table above. */
  private val indexMemo = new graft.SessionMemo[(DataFrame, DataFrame)]
  private[graft] def ngramIndex(s: SparkSession, sf: String): (DataFrame, DataFrame) =
    indexMemo.getOrElseUpdate(s, sf) {
      val bg = docBigrams(Tables.documents(s, sf)).cache()
      val cand = rareCandidates(bg).localCheckpoint()
      val bgc = bigramsOfCandidates(bg, cand).localCheckpoint()
      bg.unpersist()
      (cand, bgc)
    }

  /** Bigram rows restricted to docs that appear in `cand` — the verify
    * joins only ever read candidate docs' bigrams, but joining the FULL
    * exploded bigram table shuffles and sorts the whole corpus through
    * both join sides (the round-11 10× sweep measured the containment
    * verify at 24× on 10× data purely from those corpus-sized sorts;
    * candidate docs were 5% of the corpus). The doc-level semi-join is
    * result-preserving — every bigram of every candidate doc is kept —
    * and the candidate-doc list is near-dup-mass-sized, never
    * corpus-sized, so at 100 TB the expensive (doc, bigram) sorts stay
    * proportional to the dup mass. */
  private def bigramsOfCandidates(bg: DataFrame, cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    bg.join(candDocs, Seq("doc_id"), "left_semi")
  }

  /** Jaccard pairs from a FRESH bigram frame (the generic, arbitrary-
    * corpus path ExtraOpsSpec drives): cand feeds both the verify join
    * and (via bigramsOfCandidates) the semi-join that prunes bg; bgc
    * feeds sizes + both join sides. Both are dup-mass-sized, so caching
    * them is cheap and avoids recomputing the full inverted-index
    * pipeline once per consumer branch (measured 4x on the sf0.1 bench
    * when left uncached). Registered, not bare .cache(): they feed the
    * returned LAZY plan, so release belongs to the harness's post-action
    * Caches.drain. Table-backed queries go through [[ngramIndex]]
    * instead. */
  private def pairsFromBigrams(bg: DataFrame): DataFrame = {
    val cand = Caches.registered(rareCandidates(bg))
    val bgc = Caches.registered(bigramsOfCandidates(bg, cand))
    pairsFromIndex(cand, bgc)
  }

  /** The Jaccard verify core over an already-built (cand, bgc) index. */
  private def pairsFromIndex(cand: DataFrame, bgc: DataFrame): DataFrame = {
    val sizes = bgc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val aSide = bgc.select(col("doc_id").as("a_id"), col("bg"))
    val bSide = bgc.select(col("doc_id").as("b_id"), col("bg"))
    // size-ratio sieve before the exact-Jaccard join: J(A,B) <= min/max of
    // the set sizes, so jaccard >= 0.5 implies 2*min(sz) >= max(sz) —
    // result-preserving, and on a common-vocab corpus it discards the bulk
    // of low-similarity candidates before they pay the posting-list join.
    // Sizes ride along through the aggregate keys, so they are joined
    // exactly once (not re-joined after the intersection count).
    val sieved = cand
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .filter(least(col("sz_a"), col("sz_b")) * 2 >= greatest(col("sz_a"), col("sz_b")))
    val inter = sieved
      .join(aSide, Seq("a_id"))
      .join(bSide, Seq("b_id", "bg"))
      .groupBy("a_id", "b_id", "sz_a", "sz_b").agg(count(lit(1)).as("ic"))
    inter
      .withColumn("jaccard", expr("CAST(ic AS DOUBLE) / (sz_a + sz_b - ic)"))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Edit-distance-verified near-dup — the staged-sieve dedup a production
    * pipeline runs when shingle overlap alone over-fires on templated
    * text: rare-bigram inverted-index candidates, a LOOSE Jaccard sieve
    * (>= 0.2, with its result-preserving size-ratio pre-filter: J >= 0.2
    * implies 5*min(sz) >= max(sz)), then exact character-level
    * Levenshtein on the survivors, keeping pairs with normalized edit
    * similarity >= 0.8. The O(len^2) edit-distance kernel only ever runs
    * on the few sieve survivors (21 pairs at sf0.01, vs 9.5k raw
    * candidates) — at 100 TB the expensive verify stays proportional to
    * the near-dup mass, never the corpus. Both engines' `levenshtein` are
    * the standard unit-cost character DP, so the distances are exact and
    * hash-comparable. */
  def qDedupEdit(s: SparkSession, sf: String): DataFrame = {
    val docs0 = Tables.documents(s, sf)
    val (cand, bgc) = ngramIndex(s, sf)
    val sizes = bgc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val sieved = cand
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .filter(least(col("sz_a"), col("sz_b")) * 5 >= greatest(col("sz_a"), col("sz_b")))
    val jac = sieved
      .join(bgc.select(col("doc_id").as("a_id"), col("bg")), Seq("a_id"))
      .join(bgc.select(col("doc_id").as("b_id"), col("bg")), Seq("b_id", "bg"))
      .groupBy("a_id", "b_id", "sz_a", "sz_b").agg(count(lit(1)).as("ic"))
      .filter(expr("CAST(ic AS DOUBLE) / (sz_a + sz_b - ic) >= 0.2"))
      .select("a_id", "b_id")
    val da = docs0.select(col("doc_id").as("a_id"), col("text").as("ta"), col("n_chars").as("la"))
    val db = docs0.select(col("doc_id").as("b_id"), col("text").as("tb"), col("n_chars").as("lb"))
    jac.join(da, Seq("a_id")).join(db, Seq("b_id"))
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("edit_sim",
        lit(1.0) - col("lev").cast("double") / greatest(col("la"), col("lb")))
      .filter(col("edit_sim") >= 0.8)
      .select("a_id", "b_id", "lev", "edit_sim")
      .orderBy("a_id", "b_id")
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): every vertex converges to the minimum doc_id reachable in
    * its component — the deterministic cluster id.
    *
    * Edges are canonicalized once to a big→small orientation (u > v), then
    * each round rewires the set twice. Large-star symmetrizes, takes
    * m(u) = min(N(u) ∪ {u}) and points every neighbor LARGER than u at m;
    * small-star points u and its smaller neighbors at the minimum of the
    * smaller neighborhood. Both steps preserve connectivity and strictly
    * contract non-star structure, so the round count is logarithmic in
    * component size — NOT diameter-bound: a path of diameter d converges
    * in ~log rounds where plain min-label propagation needs d. That is the
    * property that matters at 100 TB: chained near-identical crawl
    * snapshots form deep path components, and a diameter-bound loop aborts
    * on exactly the inputs where dedup matters most.
    *
    * The driver loop only inspects per-round scalars (edge count + a
    * fixed-point emptiness check); all edge data stays distributed, and
    * every per-round shuffle runs at an edge-mass-derived fan-out under a
    * scoped AQE-off conf ([[SessionConfs.withConf]] — concurrency-safe
    * against other scoped loops on the same session). Convergence is a
    * SET fixed point (same count + empty `except`), and the converged set
    * is then structurally validated — a union of stars has no root on a
    * leaf side and exactly one root per leaf; the big→small orientation
    * makes each root its component's minimum — so a malformed state throws
    * instead of silently splitting clusters. */
  private[graft] def connectedComponents(vertices: DataFrame, edges: DataFrame,
      edgeHalvesPerPartition: Long = 1L << 20): DataFrame = {
    // iterate ONLY over edge-touched vertices: the pair graph is a tiny
    // fraction of the corpus (near-dup rate, not corpus size), so the
    // per-round joins never touch the full document set — singletons get
    // their self-label in one left join at the end. The loop's shuffle
    // fan-out is NOT hardcoded: it is derived below from the measured edge
    // count (1 partition per ~1M edge-halves, capped at session
    // parallelism), so the same code runs 1-partition at near-dup-mass
    // test scale and fans out when the pair graph itself is large.
    val spark = vertices.sparkSession
    // canonicalize in ONE pass: the expensive pair-generation lineage runs
    // exactly once, here, under the session's full parallelism — never
    // under the loop's reduced shuffle config below. The count both
    // materializes the cache and sizes the loop fan-out.
    val init = edges
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .cache()
    val edgeCount = init.count()
    val loopParts = math.min(
      math.max(1L, (edgeCount * 2 + edgeHalvesPerPartition - 1) / edgeHalvesPerPartition),
      spark.sparkContext.defaultParallelism.toLong).toInt
    // large-star: one symmetrize-explode, one min-aggregate, one join.
    // Emitted edges keep the big→small orientation (dst > src >= m).
    // NO trailing distinct (round 17): large-star only ever feeds
    // small-star, whose min-aggregate is multiplicity-invariant and whose
    // own trailing distinct dedups the round's output — so deduping here
    // bought set-identical `next` frames for one extra exchange + hash
    // aggregate of the edge frame per round. Duplicate (u, v) rows between
    // the two stars are bounded by the symmetrized edge count (each input
    // edge contributes at most one emitted row), so the undeduped frame
    // stays linear in the edge mass at any scale.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("u").as("src"), col("v").as("dst")),
          struct(col("v").as("src"), col("u").as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val m = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      sym.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("u"), col("m").as("v"))
    }
    // small-star: already big→small oriented, so the smaller neighborhood
    // of u is exactly its edge targets; m = min(v) < u. Re-point every
    // non-minimal smaller neighbor AND u itself at m (v > m after the
    // filter, so orientation is preserved). One min-aggregate, one join.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      e.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .distinct()
    }
    var cur = init
    var curCnt = edgeCount
    var rounds = 0
    var done = edgeCount == 0L
    // AQE re-plans and materializes every exchange of every round as its
    // own job — pure scheduling overhead on these bounded edge frames,
    // where the static plan (small shuffles at the edge-derived fan-out)
    // is already the right one. Scope it off for the loop only; the
    // corpus-wide assignment join below runs with the session's AQE and
    // parallelism. All loop actions AND the label checkpoint run inside
    // the scope, so nothing escaping depends on the scoped values.
    val labels = SessionConfs.withConf(spark,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> loopParts.toString) {
      while (!done && rounds < 50) {
        // localCheckpoint, not cache: both star steps reference their input
        // frame MULTIPLE times, so a lazily chained loop grows the logical
        // plan ~4x PER ROUND — exponential analysis/canonicalization cost
        // (the pagerank lesson, worse). The eager checkpoint truncates the
        // lineage to a leaf every round, keeping per-round planning O(1).
        val next = smallStar(largeStar(cur)).localCheckpoint()
        val nextCnt = next.count()
        // both sides are distinct sets, so equal-count + empty-except is
        // full set equality; && short-circuits the except job while the
        // set is still shrinking
        done = nextCnt == curCnt && next.except(cur).isEmpty
        cur = next; curCnt = nextCnt; rounds += 1
      }
      // never return unconverged labels silently: a cluster split that
      // only an oracle run would catch must be a loud failure instead
      if (!done) throw new IllegalStateException(
        s"connectedComponents did not converge within $rounds large-star/small-star rounds " +
          s"($curCnt edges still rewiring)")
      if (curCnt > 0) {
        val roots = cur.select("v").distinct()
        val rootAsLeaf = cur.join(roots.withColumnRenamed("v", "u"), Seq("u"), "left_semi").count()
        val multiRoot = cur.groupBy("u").agg(countDistinct("v").as("nv"))
          .filter(col("nv") > 1).count()
        if (rootAsLeaf > 0 || multiRoot > 0) throw new IllegalStateException(
          s"connectedComponents fixed point is not a star union " +
            s"($rootAsLeaf chained roots, $multiRoot multi-root leaves)")
      }
      // converged labels are bounded by edge-touched vertices: leaves carry
      // their root, roots self-label. localCheckpoint truncates the round
      // lineage entirely, so every later evaluation reads materialized
      // label rows instead of replaying the iterative plan.
      cur.select(col("u").as("doc_id"), col("v").as("cluster_id"))
        .union(cur.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
        .repartition(loopParts)
        .localCheckpoint()
    }
    init.unpersist()
    // broadcast the labels into the corpus-wide assignment join only when
    // the edge mass says they fit one partition; a large pair graph
    // shuffles on doc_id instead.
    val labelSide = if (loopParts == 1) broadcast(labels) else labels
    vertices.select("doc_id").join(labelSide, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Near-dup CLUSTER assignment — the step a dedup pipeline runs after
    * pair generation: bigram-Jaccard pairs (q_dedup_ngram's exact edge
    * set) → connected components → one canonical doc per cluster (the
    * minimum doc_id). Every document gets a row; singletons are their own
    * canonical. Fully oracled: DuckDB computes the identical components
    * via a recursive reachability CTE over the same pair CTE chain. */
  def qDedupClusters(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
    val edges = ngramEdges(s, sf).select("a_id", "b_id")
    connectedComponents(docs.select("doc_id"), edges)
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Cluster-aware (leak-proof) train/eval split over the near-dup graph:
    * split membership is decided by the deterministic content hash of the
    * document's CLUSTER id, never its own id — every near-duplicate lands
    * in the same split by construction, so eval can never leak a
    * training doc's paraphrase (the failure mode of naive per-doc
    * splitting under dedup, and the reason LLM pipelines split on
    * canonical ids). Reports, per split, doc and cluster counts, plus
    * the audit number: how many multi-doc clusters the NAIVE per-doc
    * hash split would have broken across splits (the leakage the
    * cluster rule prevents; the cluster split's own leak count is zero
    * by construction, asserted in InvariantSpec). Split rule = first
    * sha256 hex char of the id string < '4' (~25% eval) — the
    * [[graft.queries.TextOps.qSampleHash]] convention. At 100 TB: rides
    * the memoized edge index + O(log n) CC, then map-work hashing and
    * two domain-bounded aggregates. */
  def qSplitLeakproof(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
    val clusters = connectedComponents(
      docs.select("doc_id"), ngramEdges(s, sf).select("a_id", "b_id"))
    def splitOf(c: String) =
      expr(s"CASE WHEN substring(sha2(CAST($c AS STRING), 256), 1, 1) < '4' " +
        "THEN 'eval' ELSE 'train' END")
    val tagged = clusters
      .withColumn("split", splitOf("cluster_id"))
      .withColumn("naive_split", splitOf("doc_id"))
    // ONE per-cluster rollup feeds both report lanes (cached, tiny):
    // within a cluster the split is constant (it hashes the cluster id),
    // so min(split) IS the split; "naive split would leak" ≡ the 2-valued
    // naive tag is mixed ≡ min ≠ max. The former shape ran tagged twice
    // (labels join + sha2 per consumer) and paid TWO countDistinct
    // expand-shuffles for what one groupBy carries.
    val perCluster = Caches.registered(tagged.groupBy("cluster_id")
      .agg(min("split").as("split"), count(lit(1)).as("sz"),
        (min("naive_split") =!= max("naive_split")).as("naive_mixed")))
    val naiveLeaky = perCluster.filter(col("sz") > 1 && col("naive_mixed"))
      .agg(count(lit(1)).as("naive_leaky_clusters"))
    perCluster.groupBy("split")
      .agg(sum("sz").as("n_docs"), count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(naiveLeaky))
      .orderBy("split")
  }

  /** Asymmetric containment near-dup: C(A,B) = |A∩B| / min(|A|,|B|) over
    * word-bigram sets — catches a document EMBEDDED in a larger one, which
    * symmetric Jaccard misses (a doc pasted into one 3x its size has
    * J ≈ 0.33 but containment 1.0). Same inverted-index candidate pruning
    * as the Jaccard flavor, deliberately WITHOUT its size-ratio sieve:
    * size asymmetry is exactly what this operator exists to find. */
  def qDedupContainment(s: SparkSession, sf: String): DataFrame = {
    val (cand, bgc) = ngramIndex(s, sf)
    containmentFromIndex(cand, bgc)
  }

  /** Core containment pipeline over any (doc_id, text) frame (driven
    * directly on an embedded-doc fixture in ExtraOpsSpec). */
  def containmentPairs(docs0: DataFrame): DataFrame = {
    val bg = Caches.registered(docBigrams(docs0))
    val cand = Caches.registered(rareCandidates(bg))
    val bgc = Caches.registered(bigramsOfCandidates(bg, cand))
    containmentFromIndex(cand, bgc)
  }

  private def containmentFromIndex(cand: DataFrame, bgc: DataFrame): DataFrame = {
    val sizes = bgc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val aSide = bgc.select(col("doc_id").as("a_id"), col("bg"))
    val bSide = bgc.select(col("doc_id").as("b_id"), col("bg"))
    val inter = cand
      .join(aSide, Seq("a_id"))
      .join(bSide, Seq("b_id", "bg"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("ic"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .withColumn("containment", expr("CAST(ic AS DOUBLE) / least(sz_a, sz_b)"))
      .filter(col("containment") >= 0.8)
      .select("a_id", "b_id", "sz_a", "sz_b", "containment")
      .orderBy("a_id", "b_id")
  }

  /** Embedding integrity audit: per label, the 2 largest- and 2
    * smallest-norm vectors (rank-based, vec_id tie-break — deterministic
    * where any float z-score threshold would not be). Degenerate norms are
    * how corrupt/zeroed embeddings surface before they poison ANN
    * indexes. One shuffle: both rank windows share the label
    * partitioning. The norm is the same sequential fold the cosine
    * operators use, so it is bit-identical to the oracle's. */
  def qEmbeddingOutliers(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.embeddings(s, sf).select(col("vec_id"), col("label"),
      sqrt(expr("aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")).as("nrm"))
    val wHi = Window.partitionBy("label").orderBy(col("nrm").desc, col("vec_id").asc)
    val wLo = Window.partitionBy("label").orderBy(col("nrm").asc, col("vec_id").asc)
    val r = e.withColumn("rhi", row_number().over(wHi))
      .withColumn("rlo", row_number().over(wLo))
    r.filter(col("rhi") <= 2)
      .select(col("label"), lit("hi").as("side"), col("rhi").as("rnk"), col("vec_id"), col("nrm"))
      .unionAll(r.filter(col("rlo") <= 2)
        .select(col("label"), lit("lo").as("side"), col("rlo").as("rnk"), col("vec_id"), col("nrm")))
      .orderBy("label", "side", "rnk")
  }

  /** Bucket count for [[qRankNorm]]'s two-phase global rank: parallelism
    * per dimension is this many independent range partitions. */
  private[graft] val RankNormBuckets = 32

  /** Per-dimension rank (quantile) normalization of the embedding matrix —
    * the feature-scaling pass (rank-Gauss, quantile transforms, copula
    * features) that maps each dimension to its empirical CDF in [0,1],
    * making features comparable regardless of their marginal
    * distributions. The naive plan is a window ordered by value PARTITIONED
    * ONLY BY DIMENSION — parallelism capped at n_dims, one task sorting
    * the whole corpus lane at 100 TB (the q_running_records scale-killer).
    * Instead the global per-dim rank is computed in TWO PHASES, the
    * equidepth/prefix-max technique: range-bucket each lane by value
    * (boundaries from the broadcast per-dim min/max — the bucket function
    * is monotone in v, so bucket order IS value order), per-(dim,bucket)
    * counts roll up into exclusive prefix offsets (≤B rows per dim, a tiny
    * window), and a within-bucket row_number at dim×B parallelism
    * completes rank = offset + local position. The (v, vec_id) tie-break
    * makes ranks unique, so the two-phase result is BIT-IDENTICAL to the
    * oracle's flat per-dim row_number; pct = (rank−1)/(n−1) divides two
    * exact small integers — one correctly-rounded double on both engines.
    * The bucket math itself never crosses engines (only ranks do), so the
    * float boundary arithmetic needs no cross-engine discipline. */
  def qRankNorm(s: SparkSession, sf: String): DataFrame = {
    val B = RankNormBuckets
    val lanes = Tables.embeddings(s, sf)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "vf")))
      .select(col("vec_id"), col("dim"), col("vf").cast("double").as("v"))
    val stats = lanes.groupBy("dim")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n_dim"))
    val bucketed = lanes.join(broadcast(stats), Seq("dim"))
      .withColumn("b",
        when(col("mx") === col("mn"), lit(0))
          .otherwise(least(lit(B - 1),
            floor((col("v") - col("mn")) * B / (col("mx") - col("mn"))).cast("int"))))
    val offsets = bucketed.groupBy("dim", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(
        Window.partitionBy("dim").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("dim", "b", "off")
    val wIn = Window.partitionBy("dim", "b").orderBy(col("v").asc, col("vec_id").asc)
    bucketed.join(broadcast(offsets), Seq("dim", "b"))
      .withColumn("rnk", col("off") + row_number().over(wIn))
      .select(col("vec_id"), col("dim"), col("v"), col("rnk"),
        expr("CASE WHEN n_dim <= 1 THEN NULL ELSE " +
          "CAST(rnk - 1 AS DOUBLE) / CAST(n_dim - 1 AS DOUBLE) END").as("pct"))
      .orderBy("dim", "rnk")
  }

  /** Distributed k-means assignment step (the E-step every embedding
    * clustering / IVF index build iterates), made bit-exact cross-engine
    * by running the whole kernel in QUANTIZED integer space: each lane is
    * floor(x·128) — ×128 is a pure exponent shift, so the quantization
    * itself performs NO float rounding — centroids are the floor'd mean
    * of member lanes, and every dot product is an exact BIGINT sum,
    * order-free under any shuffle (the reason this formulation hash-
    * matches while a float k-means never would). Output is the
    * label→assigned-centroid transition matrix. Shapes at 100 TB: the
    * centroid table is K×dims (tiny, broadcast); the dot-product join
    * fans each lane out K ways then partial-aggregates on (vec, centroid)
    * — O(n·dims·K) work with map-side combine, no shuffle of the raw
    * vectors beyond their one posexplode pass; the argmax is a
    * vec-partitioned window over K rows each. A production loop would
    * fuse the K dots into one codegen'd expression over a broadcast
    * matrix (the [[graft.functions.SrpSignature]] pattern) — the join
    * form is the engine-agnostic exhibit of the same plan. */
  def qClusterAssign(s: SparkSession, sf: String): DataFrame = {
    val dims = Tables.embeddings(s, sf)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("qx", expr("CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT)"))
    val cent = dims.groupBy("label", "pos")
      .agg(sum("qx").as("sq"), count(lit(1)).as("n"))
      .select(col("label").as("c_label"), col("pos"),
        expr("CAST(floor(CAST(sq AS DOUBLE) / n) AS BIGINT)").as("qc"))
    val dots = dims.join(broadcast(cent), Seq("pos"))
      .groupBy("vec_id", "label", "c_label")
      .agg(sum(col("qx") * col("qc")).as("qdot"))
    val w = Window.partitionBy("vec_id").orderBy(col("qdot").desc, col("c_label").asc)
    dots.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("label"), col("c_label").as("assigned"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label", "assigned")
  }

  /** Cluster count for [[qSemdedup]] — the [[ivfNlist]] ≈√n sizing rule
    * with a raised cap (a 4096×64-lane quantized centroid table is still
    * a trivially broadcastable few hundred KB): k grows with the corpus,
    * so mean cluster size stays ≈√n and the pair stage's Σ|cluster|²
    * stays ≈n·√n instead of the quadratic regime a FIXED cluster count
    * produces (the round-12 board measured that regime at 147× wall for
    * 100× data; with this rule the 100× sweep re-enters SemDeDup's
    * intended near-linear band — numbers in PERF.md). */
  private[graft] def semK(n: Long): Int =
    math.max(4, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** SemDeDup-style semantic dedup report (Abbas et al. 2023: cluster
    * the embeddings, then pairwise-compare ONLY within a cluster): per
    * cluster the near-duplicate pair count, the pruned-vector count
    * under the greedy lowest-id-survivor rule, and the kept size. The
    * cluster bound is the whole design — pairwise cosine is quadratic,
    * but quadratic IN THE CLUSTER, so at 100 TB the cost is
    * Σ|cluster|², not n² — and the clustering granularity GROWS with the
    * corpus ([[semK]] ≈ √n, the SemDeDup k ∝ corpus precondition): both
    * the nearest-centroid assignment (n·k dots) and the pair stage
    * (Σ|cluster|² ≈ n²/k dots) are then ≈n^1.5 ops — √n is exactly the
    * balance point of the two, the same trade [[ivfNlist]] makes.
    *
    * The quantizer is deterministic and cross-engine replayable, no
    * training job: centroids are an id-stride sample of the corpus
    * itself (the [[qSimIvf]] convention), quantized to integer lanes
    * floor(x·128) (×128 is an exponent shift — no float rounding), and
    * every vector joins its squared-Euclidean-nearest centroid, argmin
    * over the exact BIGINT d² = ‖v‖² − 2·v·c + ‖c‖² with cid ascending
    * as the tie-break (the q_kmeans oracle idiom; the oracle CTE packs
    * d²·2²⁴+cid into one BIGINT min — valid while ids < 2²⁴, which holds
    * at every fixture SF — where Spark uses the unbounded min_by). The
    * assignment fan-out is a crossJoin against the `broadcast()`
    * centroid table — the one sanctioned BroadcastNestedLoopJoin shape
    * (bounded build side), pinned as `bnlj=1` on its plan census line; the
    * pair stage itself stays a cluster-keyed equi-join.
    *
    * The cosine threshold (0.35, non-vacuous at every fixture SF — the
    * √n clusters find MORE in-cluster near pairs than the old 10-label
    * grouping did, 64 vs 13 at sf0.001) is evaluated entirely in
    * quantized-integer space: cos ≥ τ rewritten as
    * 400·dot² ≥ 49·‖a‖²·‖b‖² ∧ dot > 0 (τ² = 49/400) — every operand an
    * exact integer-valued double (≤4.4e14 < 2^53), so the predicate is
    * bit-identical to the oracle's BIGINT arithmetic; the codegen'd
    * [[graft.functions.VectorExpressions.dot]] keeps both the
    * assignment and per-pair kernels in whole-stage codegen. */
  def qSemdedup(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.VectorExpressions.dot
    val n = Tables.embeddings(s, sf).count()
    val k = semK(n)
    val stride = math.max(1L, n / k)
    // same oracle-packing bound as qSimIvf: cids are raw vec_ids and the
    // DuckDB replay's d²·2²⁴+cid argmin needs cid < 2²⁴ — fail loudly here
    require(stride * k <= (1L << 24),
      s"qSemdedup: centroid id domain ${stride * k} exceeds the oracle's 2^24 packing bound")
    // FLOAT lanes (graft_dot's probe type): the quantized values are
    // small integers (|qx| ≤ 129 « 2^24), exactly representable. Cached:
    // the frame feeds the centroid filter, the assignment fan-out and
    // the pair join (harness-drained via Caches).
    val q = Caches.registered(
      Tables.embeddings(s, sf).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT) AS FLOAT))")
          .as("qv"))
        .withColumn("nn", dot(col("qv"), col("qv"))))
    val cents = q.filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nn").as("nc"))
    // nearest-centroid assignment: exact-integer d², min_by(d², cid)
    val asg = q.crossJoin(broadcast(cents))
      .withColumn("d2", col("nn") - lit(2d) * dot(col("qv"), col("cv")) + col("nc"))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("c"))
    // cache the assigned frame too: it feeds BOTH pair sides and the
    // cluster-size aggregate — uncached, the n·k assignment fan-out (the
    // expensive stage at scale) would run three times
    val withC = Caches.registered(q.join(asg, Seq("vec_id")))
    val a = withC.select(col("c"), col("vec_id").as("a_id"),
      col("qv").as("av"), col("nn").as("na"))
    val b = withC.select(col("c").as("b_c"), col("vec_id").as("b_id"),
      col("qv").as("bv"), col("nn").as("nb"))
    val d = dot(col("av"), col("bv"))
    // cheap conjunct (id order) ahead of the 64-dim dot, whole predicate
    // in the join condition (the q_dedup_embcos lesson)
    val pairs = a.join(b,
      col("c") === col("b_c") && col("a_id") < col("b_id") &&
        d > lit(0d) && d * d * lit(400d) >= col("na") * col("nb") * lit(49d))
    val pairStats = pairs.groupBy("c").agg(
      count(lit(1)).as("n_near_pairs"),
      countDistinct(col("b_id")).as("n_pruned"))
    val sizes = withC.groupBy("c").agg(count(lit(1)).as("n_vecs"))
    sizes.join(pairStats, Seq("c"), "left")
      .select(col("c").as("cluster_id"), col("n_vecs"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"),
        coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
        (col("n_vecs") - coalesce(col("n_pruned"), lit(0L))).as("n_kept"))
      .orderBy("cluster_id")
  }

  /** SEMANTIC decontamination — the embedding-space twin of the lexical
    * `q_decontaminate` (TextOps): a corpus vector is contaminated when
    * its cosine to ANY eval-set vector clears τ = 0.35, catching the
    * paraphrase/translation overlap that no shingle width can see (the
    * reason modern eval-hygiene pipelines run BOTH passes). The eval set
    * is the first 50 vectors (the fixed-size stand-in convention shared
    * with the lexical pass; verifiably non-empty overlap at every driver
    * SF — 47/47/205 contaminated corpus vectors). The threshold is
    * evaluated entirely in quantized-integer space (floor(x·128) lanes,
    * 400·dot² ≥ 49·‖a‖²·‖b‖² ∧ dot > 0 — [[qSemdedup]]'s predicate), so
    * the row is a full-replay oracle, and the per-pair kernel is the
    * codegen'd [[graft.functions.VectorExpressions.dot]]. At 100 TB:
    * the eval side is eval-set-sized and BROADCAST (the one sanctioned
    * non-equi BNLJ shape — bounded build side), the corpus streams one
    * pass, O(n·|eval|) dots, no shuffle of the corpus vectors; the
    * report aggregates on the corpus id with map-side combine. */
  def qDecontaminateSem(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.VectorExpressions.dot
    val q = Tables.embeddings(s, sf).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT) AS FLOAT))")
        .as("qv"))
      .withColumn("nn", dot(col("qv"), col("qv")))
    val eval = q.filter(col("vec_id") < 50)
      .select(col("vec_id").as("eval_id"), col("qv").as("ev"), col("nn").as("ne"))
    val d = dot(col("qv"), col("ev"))
    q.filter(col("vec_id") >= 50)
      .join(broadcast(eval),
        d > lit(0d) && d * d * lit(400d) >= col("nn") * col("ne") * lit(49d))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), min("eval_id").as("first_eval_id"))
      .orderBy("vec_id")
  }

  /** One PageRank power-iteration step over the near-dup similarity graph
    * (edges: n-gram Jaccard ≥ 0.5 pairs, symmetrized) — centrality in the
    * duplication graph ranks BOILERPLATE HUBS: a template shared by many
    * documents accumulates rank from every copy, which is how web-scale
    * corpus pipelines surface domains/templates worth demoting. Starting
    * from the uniform vector, each neighbor j contributes rank/deg_j;
    * the per-edge contribution is computed as floor(10^12 / deg_j) — an
    * exact BIGINT (floor of a correctly-rounded division whose only
    * integer-boundary cases are exact divisors), so the in-neighbor SUM
    * is order-free and the damped finish is one deterministic double
    * expression from exact longs. A full PageRank iterates exactly this
    * step: edge-partitioned equi-joins + partial-agg sums, no driver
    * state, linear per iteration at any scale. */
  def qPagerankStep(s: SparkSession, sf: String): DataFrame = {
    // cache the near-dup-mass-sized edge list: sym feeds BOTH the degree
    // aggregate and the contribution join, and without the cache each
    // consumer re-evaluates the whole pair-generation pipeline (measured
    // 4.4 s → ~1.3 s at sf0.1)
    val edges = ngramEdges(s, sf).select("a_id", "b_id")
    val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val nDocs = Tables.documents(s, sf).agg(count(lit(1)).as("n"))
    sym.join(deg, Seq("src"))
      .select(col("dst").as("doc_id"),
        expr("CAST(floor(1000000000000.0 / deg) AS BIGINT)").as("c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_in"), sum("c").as("r_scaled"))
      .crossJoin(broadcast(nDocs))
      .withColumn("rank",
        expr("0.15 / n + 0.85 * (CAST(r_scaled AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0))"))
      .select("doc_id", "n_in", "r_scaled", "rank")
      .orderBy("doc_id")
  }

  /** Fixed iteration count of [[qPagerank]]: with damping 0.85 the
    * residual after k iterations is bounded by 2·0.85^k of the uniform
    * mass — at k = 40 that is ~0.3% of the 10^12 scale, comfortably under
    * the 1% convergence guard [[PagerankTol]]. A FIXED count (rather than
    * iterate-to-fixed-point) is what makes the query oracle-checkable:
    * both engines run exactly the same number of exact-integer steps, so
    * hashes match; the guard then certifies that the fixed count really
    * did converge rather than silently emitting a transient. */
  private[graft] val PagerankIters = 40
  private[graft] val PagerankTol = 10000000000L // 1% of the 10^12 scale

  /** Full PageRank — [[qPagerankStep]]'s loop closed, run to convergence
    * through the same driver-loop machinery as [[connectedComponents]]:
    * edge list symmetrized in one pass and cached, loop fan-out derived
    * from the measured edge count, AQE/shuffle config scoped to the loop,
    * one scalar (the final max delta) to the driver. Every iteration is
    * exact scaled-BIGINT arithmetic — contribution floor(r div deg),
    * damped finish (85·Σ) div 100 + 0.15·10^12 — so the iterate is
    * order-free and bit-identical to the DuckDB recursive-CTE oracle
    * running the same 40 steps. Ranks are in uniform-relative scale
    * (r = rank·N·10^12, uniform start r = 10^12): exact while
    * N·10^12 < 2^63/85, i.e. to ~10^5 corpus docs per rank unit of mass —
    * beyond that, drop the scale one decade per 10× corpus growth.
    * Per iteration: one equi-join + partial-agg sum at edge-mass
    * parallelism, no driver state — linear at any scale. */
  def qPagerank(s: SparkSession, sf: String): DataFrame = {
    val edges = ngramEdges(s, sf).select("a_id", "b_id")
    val nDocs = Tables.documents(s, sf).agg(count(lit(1)).as("n"))
    pagerank(edges, PagerankIters)
      .crossJoin(broadcast(nDocs))
      .withColumn("rank",
        expr("CAST(r_scaled AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0)"))
      .select("doc_id", "r_scaled", "rank")
      .orderBy("doc_id")
  }

  /** Damped power iteration in exact scaled-BIGINT arithmetic for a fixed
    * iteration count over an (a_id, b_id) edge frame; returns
    * (doc_id, r_scaled) for every edge-touched vertex. Loop scaffolding
    * mirrors [[connectedComponents]] (see its scaladoc for the rationale
    * of each piece); differences: the per-step frames chain through
    * cached InMemoryRelations WITHOUT a per-step action (the step count
    * is fixed, so no convergence scalar is needed mid-loop — one terminal
    * action materializes the whole chain), and the single driver scalar
    * is the final-step max |delta|, which certifies convergence. */
  private[graft] def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val symRaw = edges.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    val edgeHalves = symRaw.count()
    if (edgeHalves == 0) {
      symRaw.unpersist()
      return edges.sparkSession.range(0)
        .select(col("id").as("doc_id"), col("id").as("r_scaled"))
    }
    val loopParts = math.min(
      math.max(1L, (edgeHalves + (1L << 20) - 1) / (1L << 20)),
      spark.sparkContext.defaultParallelism.toLong).toInt
    // every loop action runs inside the scope and `last` is checkpointed
    // before escaping, so nothing outside depends on the scoped values
    SessionConfs.withConf(spark,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> loopParts.toString) {
      // (src, dst, deg) contribution edges, built once: every iteration
      // joins ranks onto THIS cached frame, never back to the pair pipeline
      val sym = symRaw.coalesce(loopParts)
      val symDeg = sym
        .join(sym.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
        .cache()
      def step(r: DataFrame): DataFrame = symDeg
        .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("cs"))
        .select(col("dst").as("doc_id"),
          expr("CAST(150000000000 + (85 * cs) div 100 AS BIGINT)").as("r"))
      var ranks = symDeg.select(col("src").as("doc_id")).distinct()
        .withColumn("r", lit(1000000000000L))
      // Fuse a few lazy steps per localCheckpoint: the checkpoint truncates
      // the logical lineage, without which Catalyst's cache-lookup
      // canonicalization over an iters-deep plan tree goes quadratic in the
      // iteration count (measured: 40 chained cached steps plan slower than
      // they execute by an order of magnitude). One tiny job per fused
      // block; at scale each block is still one equi-join + partial agg per
      // step at edge-mass parallelism. (localCheckpoint trades executor
      // fault-tolerance for speed — a cluster deployment recovering from
      // executor loss would use reliable checkpointing to the job dir.)
      // cadence swept at sf0.1 (min-of-2 steady): 1→8.3 s, 2→7.25, 3→7.56,
      // 4→7.57, 5→8.09, 8→10.1, 13→11.1, 20→16.2 — flat floor ≈7 s below 5
      // (per-job scheduling dominates), quadratic canonicalization above it
      val fused = 4
      var i = 0
      while (i < iters - 1) {
        val take = math.min(fused, iters - 1 - i)
        var next = ranks
        (1 to take).foreach(_ => next = step(next))
        ranks = next.localCheckpoint()
        i += take
      }
      val last = step(ranks).localCheckpoint() // r_iters; ranks = r_{iters-1}
      val maxDelta = last
        .join(ranks.withColumnRenamed("r", "r_prev"), Seq("doc_id"))
        .agg(max(abs(col("r") - col("r_prev")))).collect()(0).getLong(0)
      // never return an unconverged transient silently — same posture as
      // connectedComponents' round-cap guard
      if (maxDelta > PagerankTol) throw new IllegalStateException(
        s"pagerank not converged after $iters iterations (max delta $maxDelta)")
      symDeg.unpersist()
      symRaw.unpersist()
      last.select(col("doc_id"), col("r").as("r_scaled"))
    }
  }

  /** Fixed Lloyd iteration count for [[qKmeans]] — same oracle-checkability
    * argument as [[PagerankIters]]: both engines run exactly these steps. */
  private[graft] val KmeansIters = 5

  /** Full k-means (Lloyd) to a fixed iteration count — [[qClusterAssign]]'s
    * E-step CLOSED with its M-step and iterated, entirely in quantized
    * integer space: lanes floor(x·128) (exponent shift, no float rounding),
    * centroids the floor'd mean of member lanes, distances exact BIGINT
    * Σ(qx−qc)² — order-free, so 5 full E+M rounds stay bit-identical to
    * the DuckDB recursive-CTE oracle running the same recurrence. The
    * argmin is the scalar min-key trick min(d2·1024 + c): smallest
    * distance, ties to the smallest centroid id, one deterministic BIGINT
    * (valid while K ≤ 1024 and d2 < 2^53/1024 — dims·256² per lane keeps
    * real corpora orders of magnitude under it). Per iteration: one tiny
    * (K×dims) centroid aggregate exchange; the lane frame is
    * pre-partitioned on vec_id and its shuffle is planner-REUSED across
    * every round's consumers (exchange reuse — its plan census line reads
    * `repart=2`: 5 rounds plan 2 corpus exchanges, not 10), so the
    * E-step broadcast-join, the per-vector argmin, and the next round's
    * centroid join all ride the same distribution. Five rounds chain
    * LAZILY into one plan — at this depth Catalyst planning is cheap and
    * a per-round checkpoint job costs more than it saves (the opposite
    * trade from [[pagerank]]'s 40 rounds). Emits the converged
    * (vec_id, c, d2) assignment with its exact final distance. */
  def qKmeans(s: SparkSession, sf: String): DataFrame = {
    // deliberately UNCACHED: the loop below is lazy, so all 10 per-round
    // consumers share the lane frame through planner exchange reuse (2
    // corpus exchanges for 5 rounds, `repart=2` on its census line); an
    // InMemoryRelation here would hide the vec_id partitioning under AQE
    // (the q_churn_matrix trap) and hand every consumer its own re-shuffle
    // — measured 1.9x slower than the reused exchange
    val dims = Tables.embeddings(s, sf)
      .repartition(col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("qx", expr("CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT)"))
    var assign = Tables.embeddings(s, sf)
      .select(col("vec_id"), col("label").cast("long").as("c"))
    for (_ <- 1 to KmeansIters) {
      val cent = dims.join(assign.select("vec_id", "c"), Seq("vec_id"))
        .groupBy("c", "pos")
        .agg(expr("CAST(floor(CAST(sum(qx) AS DOUBLE) / count(1)) AS BIGINT)").as("qc"))
      assign = dims.join(broadcast(cent), Seq("pos"))
        .groupBy("vec_id", "c")
        .agg(sum((col("qx") - col("qc")) * (col("qx") - col("qc"))).as("d2"))
        .groupBy("vec_id")
        .agg(min(col("d2") * 1024 + col("c")).as("key"))
        .select(col("vec_id"), expr("key % 1024").as("c"),
          expr("key div 1024").as("d2"))
    }
    assign.select("vec_id", "c", "d2").orderBy("vec_id")
  }

  /** Per-vertex triangle counting over the near-dup graph — the local
    * clustering signal (a doc whose neighbors also neighbor each other
    * sits in a dense dup cluster, not a chain of borderline matches).
    *
    * Enumeration is DEGREE-ORIENTED (the classic m^{3/2} bound): each
    * undirected edge is directed from its (degree, id)-smaller endpoint
    * to the larger, wedges are built only between a vertex's
    * out-neighbors (out-degree is O(√m) regardless of how skewed the
    * raw degrees are — a hub's million edges all point INTO it, so the
    * hub forms no wedges), and a wedge closes iff the (x, y) pair —
    * normalized in the same orientation order — is itself a directed
    * edge. One self-equi-join on the apex + one equi-join for the
    * closing edge, all on the cached edge frame; no vertex ever
    * enumerates more than outdeg² wedges. Per-vertex counts are
    * orientation-invariant (each triangle touches its 3 vertices once),
    * so the id-oriented 3-way-join oracle returns identical rows.
    * Vertices with edges but no triangles stay in the output with
    * n_tri = 0 via the degree left-join; all-integer output. */
  def qTriangleCount(s: SparkSession, sf: String): DataFrame = {
    val edges = ngramEdges(s, sf).select("a_id", "b_id")
    val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "v")
    // orient each a<b edge by (degree, id): ties in degree fall back to
    // the id order, which a_id < b_id already canonicalizes
    val dir = Caches.registered(edges
      .join(deg.select(col("v").as("a_id"), col("deg").as("da")), Seq("a_id"))
      .join(deg.select(col("v").as("b_id"), col("deg").as("db")), Seq("b_id"))
      .select(
        when(col("da") <= col("db"), col("a_id")).otherwise(col("b_id")).as("src"),
        when(col("da") <= col("db"), col("b_id")).otherwise(col("a_id")).as("dst"),
        when(col("da") <= col("db"), col("db")).otherwise(col("da")).as("dd")))
    val wedges = dir.as("e1").join(dir.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.dd") < col("e2.dd") ||
            (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("apex"), col("e1.dst").as("x"), col("e2.dst").as("y"))
    val closed = wedges.join(
      dir.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
    val perVertex = closed
      .select(explode(array(col("apex"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(perVertex, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("doc_id")
  }

  /** Neighborhood-Jaccard edge scoring over the near-dup graph: for every
    * edge (a,b), |N(a)∩N(b)| / |N(a)∪N(b)| — the link-prediction /
    * edge-confidence statistic (an edge whose endpoints share most
    * neighbors sits INSIDE a dense dup cluster; a low score marks the
    * borderline bridge edges connected-components would be wrong to
    * contract). Common-neighbor enumeration is DEGREE-ORIENTED like
    * [[qTriangleCount]]: wedges fan out from the LOWER-degree endpoint
    * (O(√m) even on hubs — the m^(3/2) bound), membership of the other
    * endpoint is one equi-join on (hi, x); the count is orientation-
    * invariant, and the ORACLE enumerates unoriented — agreement checks
    * the orientation algebra. Union size da+db−cn ≥ max(da,db) ≥ 1, so
    * the score divides two exact longs with no zero guard needed. */
  def qEdgeJaccard(s: SparkSession, sf: String): DataFrame = {
    val e = ngramEdges(s, sf).select("a_id", "b_id")
    val sym = e.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(e.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("src").as("a_id"), col("deg").as("da")), Seq("a_id"))
      .join(deg.select(col("src").as("b_id"), col("deg").as("db")), Seq("b_id"))
      .withColumn("lo", when(col("da") <= col("db"), col("a_id")).otherwise(col("b_id")))
      .withColumn("hi", when(col("da") <= col("db"), col("b_id")).otherwise(col("a_id")))
    val common = ed
      .join(sym.select(col("src").as("lo"), col("dst").as("x")), Seq("lo"))
      .join(sym.select(col("src").as("hi"), col("dst").as("x")), Seq("hi", "x"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("cn"))
    ed.join(common, Seq("a_id", "b_id"), "left")
      .withColumn("cn", coalesce(col("cn"), lit(0L)))
      .withColumn("nbr_jaccard",
        col("cn").cast("double") / (col("da") + col("db") - col("cn")))
      .select("a_id", "b_id", "cn", "da", "db", "nbr_jaccard")
      .orderBy("a_id", "b_id")
  }

  private[graft] val BfsRounds = 6
  private[graft] val BfsSeedMod = 16
  private[graft] val BfsUnreached = 99

  /** Multi-source BFS over the near-dup graph: hop distance from the seed
    * set (doc_id ≡ 0 mod [[BfsSeedMod]]) within [[BfsRounds]] hops — the
    * blast-radius query (everything within k dup-hops of a flagged set:
    * contamination spread, takedown propagation, dup-cluster provenance).
    *
    * Bellman-Ford relaxation with ZERO-WEIGHT SELF-LOOPS: augmenting the
    * symmetric edge set with (v, v, 0) makes `min over in-edges of
    * dist(u) + w` the ENTIRE recurrence — no second reference to the
    * previous round (which a recursive-CTE oracle cannot express) and no
    * driver-side state. Each round is one equi-join onto the cached
    * pre-partitioned edge frame plus one map-side-combinable min; the
    * frontier is never collected. Distances are small exact integers for
    * a FIXED round count ⇒ bit-identical to the recursive-CTE oracle;
    * unreached vertices hold the [[BfsUnreached]] sentinel, which the
    * self-loop carries forward unchanged. */
  def qBfsDist(s: SparkSession, sf: String): DataFrame = {
    val edges = ngramEdges(s, sf).select("a_id", "b_id")
    val sym = edges.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val verts = sym.select("src").distinct()
    // register the loop-invariant edge frame with AQE scoped off so its
    // src partitioning stays visible to every round's join (the cache-
    // under-AQE trap of q_churn_matrix); the cached physical plan compiles
    // at cache() registration, which is why the scope around the lazy call
    // suffices
    val symz = SessionConfs.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
      Caches.registered(sym.withColumn("w", lit(1))
        .unionByName(verts.select(col("src"), col("src").as("dst"))
          .withColumn("w", lit(0)))
        .repartition(col("src")))
    }
    var dist = verts.select(col("src").as("doc_id")).withColumn("dist",
      expr(s"CAST(CASE WHEN doc_id % $BfsSeedMod = 0 THEN 0 " +
        s"ELSE $BfsUnreached END AS INT)"))
    for (_ <- 1 to BfsRounds) {
      dist = symz.join(dist.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst"), (col("dist") + col("w")).as("d"))
        .groupBy("dst").agg(min("d").as("dist"))
        .select(col("dst").as("doc_id"), col("dist"))
    }
    dist.orderBy("doc_id")
  }

  private[graft] val HitsRounds = 4

  /** HITS (hubs & authorities, Jacobi variant) over the ID-ORIENTED
    * near-dup graph: a<b edges directed a→b, so a doc duplicated by many
    * LATER docs scores as an authority (the original), a doc overlapping
    * many EARLIER docs as a hub (the aggregator) — provenance direction
    * for dup clusters, complementary to q_pagerank's undirected mass.
    *
    * Same single-reference loop algebra as [[qBfsDist]]: a MODE-TAGGED
    * edge frame (forward rows carry hub scores to the authority of their
    * head, reverse rows carry authority scores back to the hub of their
    * tail) turns the two mutually recursive updates into ONE equi-join +
    * ONE conditional aggregate per round — no second reference to the
    * previous table, so a recursive-CTE oracle can run the identical
    * recurrence. Jacobi update (both new scores from the PREVIOUS round),
    * unnormalized exact BIGINTs for a fixed [[HitsRounds]] rounds ⇒
    * bit-identical across engines; growth is bounded by outdeg^rounds,
    * far under BIGINT at any realistic dup-graph degree. */
  def qHits(s: SparkSession, sf: String): DataFrame = {
    val edges = ngramEdges(s, sf).select("a_id", "b_id")
    val em0 = edges.select(col("a_id").as("src"), col("b_id").as("dst"), lit("f").as("m"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst"), lit("r").as("m")))
    val em = SessionConfs.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
      Caches.registered(em0.repartition(col("src")))
    }
    var scores = em.select(col("src").as("doc_id")).distinct()
      .withColumn("h", lit(1L)).withColumn("a", lit(1L))
    for (_ <- 1 to HitsRounds) {
      scores = em.join(scores.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy("dst")
        .agg(sum(expr("CASE WHEN m = 'r' THEN a ELSE CAST(0 AS BIGINT) END")).as("h"),
          sum(expr("CASE WHEN m = 'f' THEN h ELSE CAST(0 AS BIGINT) END")).as("a"))
        .select(col("dst").as("doc_id"), col("h"), col("a"))
    }
    scores.orderBy("doc_id")
  }

  /** Embedding drift monitor: per-label centroid distance from the global
    * centroid — the class-separation / distribution-drift diagnostic an
    * embedding pipeline tracks across model or corpus versions (a label
    * whose centroid wanders flags upstream drift). Float sums are
    * order-dependent, so every per-dim mean comes from EXACT decimal sums
    * (float → double → DECIMAL(20,7), the Det cents pattern at embedding
    * scale) and the final 64-term distance accumulates by a dim-ORDERED
    * array fold — both engines add in the identical sequence, so the
    * drift hash-matches bit-for-bit. Plan: one posexplode + (label, dim)
    * partial agg; the global centroid derives from the per-label sums
    * (dim-bounded, broadcast back); the fold runs over dim-bounded
    * per-label arrays. */
  def qEmbeddingDrift(s: SparkSession, sf: String): DataFrame = {
    val ex = Tables.embeddings(s, sf)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"),
        expr("CAST(CAST(col AS DOUBLE) AS DECIMAL(20,7))").as("xd"))
    // per feeds both the join's probe side and the global-centroid rollup;
    // uncached, each consumer re-scans + re-explodes the embeddings table
    // (2x IO on the biggest table at 100 TB). label×dim-bounded — cheap.
    val per = Caches.registered(ex.groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("xd").as("sx")))
    val glob = per.groupBy("dim").agg(sum("n").as("gn"), sum("sx").as("gsx"))
    per.join(broadcast(glob), Seq("dim"))
      .withColumn("d", expr(
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - CAST(gsx AS DOUBLE) / CAST(gn AS DOUBLE)"))
      .withColumn("d2", col("d") * col("d"))
      .groupBy("label")
      .agg(max("n").as("n_vecs"),
        expr("sqrt(aggregate(transform(array_sort(collect_list(struct(dim, d2))), " +
          "x -> x.d2), CAST(0 AS DOUBLE), (acc, v) -> acc + v))").as("drift"))
      .orderBy("label")
  }

  /** Dimension-collapse audit: per-dimension mean and variance of the
    * embedding matrix — the diagnostic that catches collapsed or dead
    * dimensions (a dim whose variance falls far below the ~1/d of a
    * healthy spread carries no information and flags an upstream encoder
    * fault). Moments come from EXACT decimal sums: each float is rounded
    * once to DECIMAL(10,7) (embedding magnitudes ≤ ~1, so products stay
    * at precision 21 — far from the 38-digit cap where engines start
    * rounding decimal multiplication differently) and Σx, Σx² accumulate
    * exactly; the double finish shares its text with the oracle. One
    * posexplode + dim-keyed partial agg; output is dim-bounded. */
  def qEmbeddingCovDiag(s: SparkSession, sf: String): DataFrame =
    Tables.embeddings(s, sf)
      .select(posexplode(col("embedding")))
      .select(col("pos").as("dim"),
        expr("CAST(CAST(col AS DOUBLE) AS DECIMAL(10,7))").as("xd"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("xd").as("sx"),
        sum(expr("xd * xd")).as("sxx"))
      .select(col("dim"), col("n"),
        expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("mean"),
        expr("CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - " +
          "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * " +
          "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))").as("variance"))
      .withColumn("low_variance", col("variance") < 0.005)
      .orderBy("dim")

  /** Degree distribution of the near-dup graph — the first diagnostic read
    * off any dedup graph (a heavy tail means boilerplate hubs; a spike at
    * deg 1 means isolated twin pairs) and the input to choosing the
    * contraction strategy. Consumes the memoized edge list; two partial
    * aggs over edge endpoints — nothing corpus-sized past the shared
    * index. */
  def qDegreeDist(s: SparkSession, sf: String): DataFrame = {
    val edges = ngramEdges(s, sf).select("a_id", "b_id")
    val sym = edges.select(col("a_id").as("src"))
      .unionAll(edges.select(col("b_id").as("src")))
    sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")
  }

  /** Degree assortativity of the near-dup graph — the Pearson correlation
    * of endpoint degrees over (symmetrized) edges, the one-number answer
    * to "do heavy duplicators cluster with each other?" (positive ⇒
    * dup-farms, negative ⇒ hub-and-spoke boilerplate). Consumes the
    * memoized [[ngramEdges]] like every graph query; the degree table is
    * node-sized and attaches to both endpoints by equi-join; the moment
    * sums use the [[qGini]]-style DECIMAL(18,0)-factor lanes (product
    * width legal on BOTH engines, one scale-0 cast to DOUBLE at the
    * end), so the only float work is the final closed-form r — identical
    * expression text both sides, with the zero-variance denominator
    * guarded. Symmetry makes Σx=Σy and Σx²=Σy², so r reduces to
    * (nΣxy−(Σx)²)/(nΣx²−(Σx)²). */
  def qAssortativity(s: SparkSession, sf: String): DataFrame = {
    val e = ngramEdges(s, sf).select("a_id", "b_id")
    val sym = e.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(e.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), Seq("dst"))
      .agg(count(lit(1)).as("n_edges"),
        sum(expr("CAST(x AS DECIMAL(18,0))")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))")).as("sxy"))
      .select(col("n_edges"),
        expr("CAST(sx AS DOUBLE)").as("sum_deg"),
        expr("CAST(sxx AS DOUBLE)").as("sum_deg2"),
        expr("CAST(sxy AS DOUBLE)").as("sum_xy"),
        expr("CASE WHEN CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0 THEN 0.0 " +
          "ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
          "(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END").as("assortativity"))
  }

  /** Two-hop reach distribution over the near-dup graph: for each node,
    * the number of DISTINCT nodes exactly two hops away (reachable via a
    * neighbor, not a neighbor itself, not self) — the friends-of-friends
    * audience statistic, and for dup graphs the size of the "transitive
    * contamination front" one verification round away. Fanout is Σdeg²
    * (the q_triangle_count bound — posting-list-shaped, never all-pairs);
    * the candidate pairs dedup by shuffle on the pair key, direct edges
    * are removed with a LEFT ANTI join on the same key, and the output
    * collapses to the reach histogram (bounded by the degree domain).
    * Zero-reach nodes are INCLUDED (in a clique every two-hop candidate
    * is already a neighbor — reach 0 is the signal that a dup cluster is
    * transitively closed, and it keeps the histogram non-vacuous on
    * clique-shaped fixtures). */
  def qTwoHopReach(s: SparkSession, sf: String): DataFrame = {
    val e = ngramEdges(s, sf).select("a_id", "b_id")
    val sym = e.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(e.select(col("b_id").as("src"), col("a_id").as("dst")))
    val hop2 = sym.select(col("src"), col("dst").as("mid"))
      .join(sym.select(col("src").as("mid"), col("dst").as("dst2")), Seq("mid"))
      .filter(col("src") =!= col("dst2"))
      .select(col("src"), col("dst2")).distinct()
    val reach = hop2
      .join(sym.select(col("src"), col("dst").as("dst2")), Seq("src", "dst2"), "left_anti")
      .groupBy("src").agg(count(lit(1)).as("n"))
    sym.select("src").distinct()
      .join(reach, Seq("src"), "left")
      .select(coalesce(col("n"), lit(0L)).as("n_two_hop"))
      .groupBy("n_two_hop").agg(count(lit(1)).as("n_nodes"))
      .orderBy("n_two_hop")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_two_hop_reach" -> qTwoHopReach _,
    "q_assortativity" -> qAssortativity _,
    "q_degree_dist" -> qDegreeDist _,
    "q_embedding_cov_diag" -> qEmbeddingCovDiag _,
    "q_embedding_drift" -> qEmbeddingDrift _,
    "q_hits" -> qHits _,
    "q_bfs_dist" -> qBfsDist _,
    "q_triangle_count" -> qTriangleCount _,
    "q_kmeans" -> qKmeans _,
    "q_pagerank" -> qPagerank _,
    "q_pagerank_step" -> qPagerankStep _,
    "q_cluster_assign" -> qClusterAssign _,
    "q_semdedup" -> qSemdedup _,
    "q_decontaminate_sem" -> qDecontaminateSem _,
    "q_dedup_embcos" -> qDedupEmbcos _,
    "q_dedup_ngram" -> qDedupNgram _,
    "q_dedup_edit" -> qDedupEdit _,
    "q_dedup_containment" -> qDedupContainment _,
    "q_dedup_clusters" -> qDedupClusters _,
    "q_split_leakproof" -> qSplitLeakproof _,
    "q_sim_lsh" -> qSimLsh _,
    "q_sim_ivf" -> qSimIvf _,
    "q_dedup_simhash" -> qDedupSimhash _,
    "q_embedding_outliers" -> qEmbeddingOutliers _,
    "q_rank_norm" -> qRankNorm _,
    "q_edge_jaccard" -> qEdgeJaccard _,
  )

  // Shared oracle CTE prefix: the exact bigram-Jaccard pair graph
  // (q_dedup_ngram's edge set), symmetrized, with per-vertex degrees —
  // used verbatim by the q_pagerank_step and q_pagerank oracles so the
  // two can never drift apart on the graph definition.
  private val pairGraphSql =
    """d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      |bg AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] AS bg FROM d, UNNEST(range(1, len(s))) AS t(i)),
      |nd AS (SELECT count(*) AS n FROM documents),
      |rare AS (SELECT bg FROM bg GROUP BY bg HAVING count(*) <= 50),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |         FROM bg a JOIN rare USING (bg) JOIN bg b USING (bg) WHERE a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY doc_id),
      |inter AS (SELECT c.a_id, c.b_id, count(*) AS ic
      |          FROM cand c JOIN bg x ON x.doc_id = c.a_id JOIN bg y ON y.doc_id = c.b_id AND y.bg = x.bg
      |          GROUP BY 1, 2),
      |e AS (SELECT a_id, b_id
      |      FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |      WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.5),
      |sym AS (SELECT a_id AS src, b_id AS dst FROM e
      |        UNION ALL SELECT b_id AS src, a_id AS dst FROM e),
      |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src)""".stripMargin

  // The fixed SRP hyperplane matrix as a 64-row SQL VALUES list
  // (p, DOUBLE[64]) — generated from the SAME SrpPlanes.planes array the
  // Catalyst kernel reads, printed via Double.toString (shortest
  // round-trip decimal: any correctly-rounding parser, DuckDB included,
  // recovers the exact bits), so the oracle can re-derive every signature
  // from raw floats. ~95 KB of SQL text — the price of a full replay.
  private def srpPlanesSqlValues: String = {
    val sp = graft.functions.SrpPlanes
    (0 until sp.NumPlanes).map { p =>
      val vec = (0 until sp.Dim).map(i => sp.planes(p * sp.Dim + i).toString).mkString(", ")
      s"($p, [$vec]::DOUBLE[])"
    }.mkString(",\n")
  }

  val oracle: Map[String, String] = Map(
    // Full SRP-LSH replay: per-plane dots via list_reduce — DuckDB's
    // guaranteed LEFT fold, the same dim-ordered sequential accumulation
    // (((0+p₁)+p₂)+… the SrpPlanes kernel runs — so every `dot > 0` sign
    // decision is bit-identical and band buckets (bit p of the signature
    // → bit p%16 of band p//16, exactly shiftright(sig,16b)&0xFFFF)
    // reproduce the candidate set exactly. Exact scoring then mirrors the
    // q_sim_topk cosine idiom.
    "q_sim_lsh" ->
      s"""WITH planes(p, pv) AS (VALUES
         |$srpPlanesSqlValues),
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |dots AS (
         |  SELECT vec_id, p // $PlaneBits AS band_idx, p % $PlaneBits AS bit,
         |         list_reduce(list_transform(range(1, ${graft.functions.SrpPlanes.Dim + 1}), i -> v[i] * pv[i]),
         |                     (a, b) -> a + b) AS dot
         |  FROM emb, planes),
         |bands AS (
         |  SELECT vec_id, band_idx,
         |         CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id, band_idx),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bucket = b.bucket
         |  WHERE a.vec_id % 50 = 0 AND a.vec_id < ${Llm.ProbeCap}),
         |scored AS (
         |  SELECT probe_id, neighbor_id,
         |         round(list_sum(list_transform(range(1, 65), i -> pe.v[i] * ne.v[i])) /
         |               (sqrt(list_sum(list_transform(pe.v, x -> x * x))) *
         |                sqrt(list_sum(list_transform(ne.v, x -> x * x)))), 6) AS cos
         |  FROM cand JOIN emb pe ON probe_id = pe.vec_id JOIN emb ne ON neighbor_id = ne.vec_id)
         |SELECT probe_id,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk,
         |       neighbor_id, cos
         |FROM scored QUALIFY rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    // Full IVF replay: k/stride re-derived from the corpus count
    // (ivfNlist's clamp in SQL), id-stride centroids, exact-BIGINT d²
    // argmin assignment via the q_kmeans packing idiom (d²·2²⁴+cid),
    // probe fan-out as a row_number over the same exact d², then the
    // q_sim_topk cosine idiom over the replayed candidate set.
    // PACKING BOUND: the d²·2²⁴+cid argmin (and its cid-ascending
    // tiebreak) is only faithful while every centroid id < 2²⁴ — cid is
    // a raw vec_id ≤ stride·k, so an oracle replay against a corpus with
    // vec_id ≥ 16,777,216 would silently corrupt the assignment. Safe at
    // every verify SF (embeddings ≤ 2,000 rows) and guarded LOUDLY on
    // the Spark side (qSimIvf requires stride·k < 2²⁴, so a too-big
    // corpus fails the query before an oracle could silently diverge).
    // The unpacked alternative is DuckDB arg_min(cid, ROW(d2, cid)).
    "q_sim_ivf" ->
      s"""WITH q AS (
         |  SELECT vec_id, i - 1 AS pos,
         |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 128) AS BIGINT) AS qx
         |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)),
         |nd AS (SELECT count(*) AS n FROM embeddings),
         |st AS (SELECT greatest(4, least(256, CAST(round(sqrt(CAST(n AS DOUBLE))) AS BIGINT))) AS k,
         |              greatest(1, n // greatest(4, least(256, CAST(round(sqrt(CAST(n AS DOUBLE))) AS BIGINT)))) AS stride
         |       FROM nd),
         |cents AS (SELECT q.vec_id AS cid, pos, qx AS qc FROM q, st
         |          WHERE q.vec_id % st.stride = 0 AND q.vec_id < st.stride * st.k),
         |norms AS (SELECT vec_id, sum(qx * qx) AS nn FROM q GROUP BY 1),
         |cnorms AS (SELECT cid, sum(qc * qc) AS nc FROM cents GROUP BY 1),
         |cdots AS (SELECT q.vec_id, c.cid, sum(q.qx * c.qc) AS dt
         |          FROM q JOIN cents c USING (pos) GROUP BY 1, 2),
         |dist AS (SELECT d.vec_id, d.cid, nn - 2 * dt + nc AS d2
         |         FROM cdots d JOIN norms USING (vec_id) JOIN cnorms USING (cid)),
         |posting AS (SELECT vec_id AS neighbor_id,
         |                   CAST(min(d2 * 16777216 + cid) % 16777216 AS BIGINT) AS cid
         |            FROM dist GROUP BY 1),
         |plist AS (SELECT vec_id AS probe_id, cid
         |          FROM (SELECT vec_id, cid,
         |                       row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS cr
         |                FROM dist
         |                WHERE vec_id % 50 = 0 AND vec_id < ${Llm.ProbeCap})
         |          WHERE cr <= $IvfNprobe),
         |cand AS (SELECT probe_id, neighbor_id FROM plist JOIN posting USING (cid)),
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (
         |  SELECT probe_id, neighbor_id,
         |         round(list_sum(list_transform(range(1, 65), i -> pe.v[i] * ne.v[i])) /
         |               (sqrt(list_sum(list_transform(pe.v, x -> x * x))) *
         |                sqrt(list_sum(list_transform(ne.v, x -> x * x)))), 6) AS cos
         |  FROM cand JOIN emb pe ON probe_id = pe.vec_id JOIN emb ne ON neighbor_id = ne.vec_id)
         |SELECT probe_id,
         |       row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk,
         |       neighbor_id, cos
         |FROM scored QUALIFY rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    "q_two_hop_reach" ->
      s"""WITH $pairGraphSql,
         |h AS (SELECT DISTINCT x.src AS src, y.dst AS dst2
         |      FROM sym x JOIN sym y ON x.dst = y.src
         |      WHERE x.src <> y.dst),
         |r AS (SELECT src, count(*) AS n
         |      FROM h
         |      WHERE NOT EXISTS (SELECT 1 FROM sym s
         |                        WHERE s.src = h.src AND s.dst = h.dst2)
         |      GROUP BY 1),
         |n AS (SELECT d.src, coalesce(r.n, 0) AS n_two_hop
         |      FROM (SELECT DISTINCT src FROM sym) d LEFT JOIN r USING (src))
         |SELECT n_two_hop, count(*) AS n_nodes
         |FROM n GROUP BY 1 ORDER BY n_two_hop""".stripMargin,
    "q_assortativity" ->
      s"""WITH $pairGraphSql,
         |j AS (SELECT da.deg AS x, db.deg AS y
         |      FROM sym JOIN deg da ON da.src = sym.src
         |               JOIN deg db ON db.src = sym.dst),
         |a AS (SELECT count(*) AS n_edges,
         |             sum(CAST(x AS DECIMAL(18,0))) AS sx,
         |             sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS sxx,
         |             sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS sxy
         |      FROM j)
         |SELECT n_edges,
         |       CAST(sx AS DOUBLE) AS sum_deg,
         |       CAST(sxx AS DOUBLE) AS sum_deg2,
         |       CAST(sxy AS DOUBLE) AS sum_xy,
         |       CASE WHEN CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0 THEN 0.0 ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS assortativity
         |FROM a""".stripMargin,
    "q_decontaminate_sem" ->
      """WITH q AS (
        |  SELECT vec_id, i - 1 AS pos,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 128) AS BIGINT) AS qx
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)),
        |norms AS (SELECT vec_id, sum(qx * qx) AS nn FROM q GROUP BY 1),
        |dots AS (SELECT a.vec_id AS eval_id, b.vec_id AS corpus_id,
        |                sum(a.qx * b.qx) AS dot
        |         FROM q a JOIN q b ON a.pos = b.pos
        |                           AND a.vec_id < 50 AND b.vec_id >= 50
        |         GROUP BY 1, 2)
        |SELECT corpus_id AS vec_id, count(*) AS n_eval_hits,
        |       min(eval_id) AS first_eval_id
        |FROM dots
        |JOIN norms na ON na.vec_id = eval_id
        |JOIN norms nb ON nb.vec_id = corpus_id
        |WHERE dot > 0 AND 400 * dot * dot >= 49 * na.nn * nb.nn
        |GROUP BY corpus_id ORDER BY vec_id""".stripMargin,
    // Rides Llm.simhashFpSql (the shared fingerprint replay) so the
    // dedup's fingerprint definition can never drift from q_udf_scalar's;
    // banding extracts 16-bit windows from the UNSIGNED image, Hamming is
    // bit_count(xor) over the signed pair — both engines' two's-complement
    // bit patterns agree.
    "q_dedup_simhash" ->
      s"""WITH ${Llm.simhashFpSql},
         |bands AS (
         |  SELECT doc_id, fingerprint, b,
         |         CAST((ufp >> CAST(16 * b AS INT)) % 65536 AS BIGINT) AS bucket
         |  FROM fp, UNNEST(range(0, 4)) AS r(b))
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |       bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 8
         |ORDER BY a_id, b_id""".stripMargin,
    "q_degree_dist" ->
      s"""WITH $pairGraphSql
         |SELECT deg, count(*) AS n_nodes
         |FROM deg GROUP BY deg ORDER BY deg""".stripMargin,
    "q_embedding_cov_diag" ->
      """WITH ex AS (
        |  SELECT CAST(i - 1 AS INT) AS dim,
        |         CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(10,7)) AS xd
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
        |m AS (SELECT dim, count(*) AS n, sum(xd) AS sx, sum(xd * xd) AS sxx
        |      FROM ex GROUP BY 1)
        |SELECT dim, n,
        |       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |       CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
        |       (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |       (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS variance,
        |       CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
        |       (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |       (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) < 0.005 AS low_variance
        |FROM m ORDER BY dim""".stripMargin,
    "q_embedding_drift" ->
      """WITH ex AS (
        |  SELECT label, CAST(i - 1 AS INT) AS dim,
        |         CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(20,7)) AS xd
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
        |per AS (SELECT label, dim, count(*) AS n, sum(xd) AS sx FROM ex GROUP BY 1, 2),
        |gc AS (SELECT dim, sum(n) AS gn, sum(sx) AS gsx FROM per GROUP BY 1),
        |j AS (SELECT per.label, per.dim, per.n,
        |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) -
        |             CAST(gsx AS DOUBLE) / CAST(gn AS DOUBLE) AS d
        |      FROM per JOIN gc USING (dim)),
        |a AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        |             list(d * d ORDER BY dim) AS l
        |      FROM j GROUP BY 1)
        |SELECT label, n_vecs,
        |       sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), l), (acc, v) -> acc + v)) AS drift
        |FROM a ORDER BY label""".stripMargin,
    // Unoriented common-neighbor enumeration — independent of the Spark
    // side's degree orientation; per-edge counts are orientation-
    // invariant, so agreement checks the algebra.
    "q_edge_jaccard" ->
      s"""WITH $pairGraphSql,
         |cn AS (SELECT e.a_id, e.b_id, count(*) AS cn
         |       FROM e
         |       JOIN sym s1 ON s1.src = e.a_id
         |       JOIN sym s2 ON s2.src = e.b_id AND s2.dst = s1.dst
         |       GROUP BY 1, 2)
         |SELECT e.a_id, e.b_id, coalesce(cn.cn, 0) AS cn,
         |       d1.deg AS da, d2.deg AS db,
         |       CAST(coalesce(cn.cn, 0) AS DOUBLE) /
         |         (d1.deg + d2.deg - coalesce(cn.cn, 0)) AS nbr_jaccard
         |FROM e
         |LEFT JOIN cn ON cn.a_id = e.a_id AND cn.b_id = e.b_id
         |JOIN deg d1 ON d1.src = e.a_id
         |JOIN deg d2 ON d2.src = e.b_id
         |ORDER BY e.a_id, e.b_id""".stripMargin,
    // Flat per-dim row_number — the rank the two-phase Spark plan must
    // reproduce bit-for-bit; pct divides the same exact integers.
    "q_rank_norm" ->
      """WITH lanes AS (
        |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
        |nd AS (SELECT dim, count(*) AS n_dim FROM lanes GROUP BY dim),
        |r AS (
        |  SELECT vec_id, l.dim AS dim, v,
        |         row_number() OVER (PARTITION BY l.dim ORDER BY v, vec_id) AS rnk,
        |         n_dim
        |  FROM lanes l JOIN nd ON nd.dim = l.dim)
        |SELECT vec_id, dim, v, rnk,
        |       CASE WHEN n_dim <= 1 THEN NULL ELSE
        |         CAST(rnk - 1 AS DOUBLE) / CAST(n_dim - 1 AS DOUBLE) END AS pct
        |FROM r ORDER BY dim, rnk""".stripMargin,
    // Same mode-tagged single-reference recurrence as the Spark loop:
    // reverse rows feed hubs, forward rows feed authorities, Jacobi
    // update, HitsRounds exact-integer rounds.
    "q_hits" ->
      s"""WITH RECURSIVE $pairGraphSql,
         |em AS (SELECT a_id AS src, b_id AS dst, 'f' AS m FROM e
         |       UNION ALL SELECT b_id AS src, a_id AS dst, 'r' AS m FROM e),
         |hits AS (
         |  SELECT DISTINCT src AS doc_id, CAST(1 AS BIGINT) AS h,
         |         CAST(1 AS BIGINT) AS a, 0 AS it
         |  FROM em
         |  UNION ALL
         |  SELECT em.dst AS doc_id,
         |         CAST(sum(CASE WHEN em.m = 'r' THEN p.a ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS h,
         |         CAST(sum(CASE WHEN em.m = 'f' THEN p.h ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS a,
         |         p.it + 1 AS it
         |  FROM hits p JOIN em ON em.src = p.doc_id
         |  WHERE p.it < $HitsRounds
         |  GROUP BY em.dst, p.it)
         |SELECT doc_id, h, a FROM hits WHERE it = $HitsRounds ORDER BY doc_id""".stripMargin,
    // The recursive term IS the self-loop-augmented relaxation: min over
    // in-edges (including the zero-weight self-edge) of dist + w, exactly
    // BfsRounds times — the same exact-integer recurrence the Spark loop
    // runs, so the hash must match bit-for-bit.
    "q_bfs_dist" ->
      s"""WITH RECURSIVE $pairGraphSql,
         |symz AS (SELECT src, dst, 1 AS w FROM sym
         |         UNION ALL SELECT src, src, 0 AS w FROM deg),
         |bfs AS (
         |  SELECT src AS doc_id,
         |         CAST(CASE WHEN src % $BfsSeedMod = 0 THEN 0 ELSE $BfsUnreached END AS INT) AS dist,
         |         0 AS it
         |  FROM deg
         |  UNION ALL
         |  SELECT z.dst AS doc_id, min(b.dist + z.w) AS dist, b.it + 1 AS it
         |  FROM bfs b JOIN symz z ON z.src = b.doc_id
         |  WHERE b.it < $BfsRounds
         |  GROUP BY z.dst, b.it)
         |SELECT doc_id, dist FROM bfs WHERE it = $BfsRounds ORDER BY doc_id""".stripMargin,
    // Id-oriented 3-way join (a < b < c by edge canonicalization) — an
    // INDEPENDENT enumeration order from the Spark side's degree
    // orientation; per-vertex triangle membership is orientation-
    // invariant, so agreement checks the algorithm, not a transcription.
    "q_triangle_count" ->
      s"""WITH $pairGraphSql,
         |tri AS (SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
         |        FROM e e1 JOIN e e2 ON e2.a_id = e1.b_id
         |                  JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
         |tv AS (SELECT v, count(*) AS n_tri FROM (
         |         SELECT a AS v FROM tri
         |         UNION ALL SELECT b FROM tri
         |         UNION ALL SELECT c FROM tri)
         |       GROUP BY 1)
         |SELECT d.src AS doc_id, d.deg AS deg, coalesce(tv.n_tri, 0) AS n_tri
         |FROM deg d LEFT JOIN tv ON tv.v = d.src
         |ORDER BY doc_id""".stripMargin,
    "q_pagerank_step" ->
      s"""WITH $pairGraphSql
         |SELECT dst AS doc_id, count(*) AS n_in,
         |       CAST(sum(CAST(floor(1000000000000.0 / deg) AS BIGINT)) AS BIGINT) AS r_scaled,
         |       0.15 / (SELECT n FROM nd)
         |         + 0.85 * (CAST(sum(CAST(floor(1000000000000.0 / deg) AS BIGINT)) AS DOUBLE)
         |                   / (CAST((SELECT n FROM nd) AS DOUBLE) * 1000000000000.0)) AS rank
         |FROM sym JOIN deg USING (src)
         |GROUP BY dst ORDER BY doc_id""".stripMargin,
    // The recursive term is one exact-integer Lloyd round: centroids from
    // the previous assignments, quantized distances, scalar min-key argmin
    // — exactly KmeansIters times, matching the Spark loop bit-for-bit.
    "q_kmeans" ->
      s"""WITH RECURSIVE
         |dims AS (
         |  SELECT vec_id, i - 1 AS pos,
         |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 128) AS BIGINT) AS qx
         |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
         |km AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS c, CAST(NULL AS BIGINT) AS d2, 0 AS it
         |  FROM embeddings
         |  UNION ALL
         |  SELECT n.vec_id, n.c, n.d2, n.it FROM (
         |    WITH cent AS (
         |      SELECT p.c, d.pos,
         |             CAST(floor(CAST(sum(d.qx) AS DOUBLE) / count(*)) AS BIGINT) AS qc,
         |             min(p.it) AS it
         |      FROM km p JOIN dims d USING (vec_id)
         |      GROUP BY p.c, d.pos),
         |    dist AS (
         |      SELECT d.vec_id, c.c,
         |             CAST(sum((d.qx - c.qc) * (d.qx - c.qc)) AS BIGINT) AS d2,
         |             min(c.it) AS it
         |      FROM dims d JOIN cent c ON c.pos = d.pos
         |      GROUP BY d.vec_id, c.c)
         |    SELECT vec_id, min(d2 * 1024 + c) % 1024 AS c,
         |           min(d2 * 1024 + c) // 1024 AS d2, min(it) + 1 AS it
         |    FROM dist GROUP BY vec_id) n
         |  WHERE n.it <= ${KmeansIters})
         |SELECT vec_id, c, d2 FROM km WHERE it = ${KmeansIters} ORDER BY vec_id""".stripMargin,
    // The recursive term is one exact-integer power-iteration step: floor
    // contributions (// is floor division; all values positive, matching
    // Spark's div), damped finish in integers, exactly PagerankIters
    // times. DuckDB sums BIGINT into HUGEINT, so the (85·Σ) product
    // cannot overflow before the final BIGINT re-cast.
    "q_pagerank" ->
      s"""WITH RECURSIVE $pairGraphSql,
         |pr AS (
         |  SELECT src AS doc_id, CAST(1000000000000 AS BIGINT) AS r, 0 AS it FROM deg
         |  UNION ALL
         |  SELECT s.dst AS doc_id,
         |         CAST(150000000000 + (85 * sum(p.r // d.deg)) // 100 AS BIGINT) AS r,
         |         p.it + 1 AS it
         |  FROM pr p JOIN sym s ON s.src = p.doc_id JOIN deg d ON d.src = p.doc_id
         |  WHERE p.it < ${PagerankIters}
         |  GROUP BY s.dst, p.it)
         |SELECT doc_id, r AS r_scaled,
         |       CAST(r AS DOUBLE) / (CAST((SELECT n FROM nd) AS DOUBLE) * 1000000000000.0) AS rank
         |FROM pr WHERE it = ${PagerankIters} ORDER BY doc_id""".stripMargin,
    // Replays the full √n-cluster pipeline: k/stride re-derived from the
    // corpus count (semK's clamp in SQL), id-stride centroids, exact-d²
    // argmin assignment via the q_kmeans packing idiom (d²·2²⁴+cid —
    // valid while ids < 2²⁴, true at every fixture SF), then the
    // in-cluster integer-cosine pair predicate.
    "q_semdedup" ->
      """WITH q AS (
        |  SELECT vec_id, i - 1 AS pos,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 128) AS BIGINT) AS qx
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)),
        |nd AS (SELECT count(*) AS n FROM embeddings),
        |st AS (SELECT greatest(4, least(4096, CAST(round(sqrt(CAST(n AS DOUBLE))) AS BIGINT))) AS k,
        |              greatest(1, n // greatest(4, least(4096, CAST(round(sqrt(CAST(n AS DOUBLE))) AS BIGINT)))) AS stride
        |       FROM nd),
        |cents AS (SELECT q.vec_id AS cid, pos, qx AS qc FROM q, st
        |          WHERE q.vec_id % st.stride = 0 AND q.vec_id < st.stride * st.k),
        |norms AS (SELECT vec_id, sum(qx * qx) AS nn FROM q GROUP BY 1),
        |cnorms AS (SELECT cid, sum(qc * qc) AS nc FROM cents GROUP BY 1),
        |cdots AS (SELECT q.vec_id, c.cid, sum(q.qx * c.qc) AS dt
        |          FROM q JOIN cents c USING (pos) GROUP BY 1, 2),
        |asg AS (SELECT d.vec_id,
        |               CAST(min((nn - 2 * dt + nc) * 16777216 + cid) % 16777216 AS BIGINT) AS c
        |        FROM cdots d JOIN norms USING (vec_id) JOIN cnorms USING (cid)
        |        GROUP BY d.vec_id),
        |dots AS (SELECT a.c, a.vec_id AS a_id, b.vec_id AS b_id,
        |                sum(qa.qx * qb.qx) AS dot
        |         FROM asg a JOIN asg b ON a.c = b.c AND a.vec_id < b.vec_id
        |         JOIN q qa ON qa.vec_id = a.vec_id
        |         JOIN q qb ON qb.vec_id = b.vec_id AND qb.pos = qa.pos
        |         GROUP BY 1, 2, 3),
        |pairs AS (SELECT d.c, a_id, b_id FROM dots d
        |          JOIN norms na ON na.vec_id = d.a_id
        |          JOIN norms nb ON nb.vec_id = d.b_id
        |          WHERE dot > 0 AND 400 * dot * dot >= 49 * na.nn * nb.nn),
        |ps AS (SELECT c, count(*) AS n_near_pairs,
        |              count(DISTINCT b_id) AS n_pruned
        |       FROM pairs GROUP BY 1),
        |sizes AS (SELECT c, count(*) AS n_vecs FROM asg GROUP BY 1)
        |SELECT s.c AS cluster_id, n_vecs,
        |       coalesce(n_near_pairs, 0) AS n_near_pairs,
        |       coalesce(n_pruned, 0) AS n_pruned,
        |       n_vecs - coalesce(n_pruned, 0) AS n_kept
        |FROM sizes s LEFT JOIN ps USING (c) ORDER BY cluster_id""".stripMargin,
    "q_cluster_assign" ->
      """WITH dims AS (
        |  SELECT vec_id, label, i - 1 AS pos,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 128) AS BIGINT) AS qx
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)),
        |cent AS (
        |  SELECT label AS c_label, pos,
        |         CAST(floor(CAST(sum(qx) AS DOUBLE) / count(*)) AS BIGINT) AS qc
        |  FROM dims GROUP BY 1, 2),
        |dots AS (
        |  SELECT vec_id, label, c_label, sum(qx * qc) AS qdot
        |  FROM dims JOIN cent USING (pos) GROUP BY 1, 2, 3),
        |a AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |            ORDER BY qdot DESC, c_label ASC) AS rn
        |  FROM dots)
        |SELECT label, c_label AS assigned, count(*) AS n_vecs
        |FROM a WHERE rn = 1 GROUP BY 1, 2 ORDER BY label, assigned""".stripMargin,
    "q_split_leakproof" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |bg AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] AS bg FROM d, UNNEST(range(1, len(s))) AS t(i)),
        |rare AS (SELECT bg FROM bg GROUP BY bg HAVING count(*) <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bg a JOIN rare USING (bg) JOIN bg b USING (bg) WHERE a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY doc_id),
        |inter AS (SELECT c.a_id, c.b_id, count(*) AS ic
        |          FROM cand c JOIN bg x ON x.doc_id = c.a_id JOIN bg y ON y.doc_id = c.b_id AND y.bg = x.bg
        |          GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM inter
        |          JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
        |          WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.5),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |),
        |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
        |tagged AS (
        |  SELECT doc_id, cluster_id,
        |         CASE WHEN substring(sha256(CAST(cluster_id AS VARCHAR)), 1, 1) < '4'
        |              THEN 'eval' ELSE 'train' END AS split,
        |         CASE WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
        |              THEN 'eval' ELSE 'train' END AS naive_split
        |  FROM cl),
        |leaky AS (
        |  SELECT count(*) AS naive_leaky_clusters FROM (
        |    SELECT cluster_id FROM tagged GROUP BY cluster_id
        |    HAVING count(*) > 1 AND count(DISTINCT naive_split) > 1))
        |SELECT split, count(*) AS n_docs,
        |       count(DISTINCT cluster_id) AS n_clusters,
        |       (SELECT naive_leaky_clusters FROM leaky) AS naive_leaky_clusters
        |FROM tagged GROUP BY split ORDER BY split""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |bg AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] AS bg FROM d, UNNEST(range(1, len(s))) AS t(i)),
        |rare AS (SELECT bg FROM bg GROUP BY bg HAVING count(*) <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bg a JOIN rare USING (bg) JOIN bg b USING (bg) WHERE a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY doc_id),
        |inter AS (SELECT c.a_id, c.b_id, count(*) AS ic
        |          FROM cand c JOIN bg x ON x.doc_id = c.a_id JOIN bg y ON y.doc_id = c.b_id AND y.bg = x.bg
        |          GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM inter
        |          JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
        |          WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.5),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |)
        |SELECT id AS doc_id, min(lbl) AS cluster_id, min(lbl) = id AS is_canonical
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_dedup_edit" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |bg AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] AS bg FROM d, UNNEST(range(1, len(s))) AS t(i)),
        |rare AS (SELECT bg FROM bg GROUP BY bg HAVING count(*) <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bg a JOIN rare USING (bg) JOIN bg b USING (bg) WHERE a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY doc_id),
        |inter AS (SELECT c.a_id, c.b_id, count(*) AS ic
        |          FROM cand c JOIN bg x ON x.doc_id = c.a_id JOIN bg y ON y.doc_id = c.b_id AND y.bg = x.bg
        |          GROUP BY 1, 2),
        |j AS (SELECT a_id, b_id FROM inter
        |      JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
        |      WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.2)
        |SELECT a_id, b_id, levenshtein(da.text, db.text) AS lev,
        |       1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |             / greatest(da.n_chars, db.n_chars) AS edit_sim
        |FROM j JOIN documents da ON da.doc_id = a_id
        |       JOIN documents db ON db.doc_id = b_id
        |WHERE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |            / greatest(da.n_chars, db.n_chars) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_ngram" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |bg AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] AS bg FROM d, UNNEST(range(1, len(s))) AS t(i)),
        |rare AS (SELECT bg FROM bg GROUP BY bg HAVING count(*) <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bg a JOIN rare USING (bg) JOIN bg b USING (bg) WHERE a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY doc_id),
        |inter AS (SELECT c.a_id, c.b_id, count(*) AS ic
        |          FROM cand c JOIN bg x ON x.doc_id = c.a_id JOIN bg y ON y.doc_id = c.b_id AND y.bg = x.bg
        |          GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
        |WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_containment" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |bg AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] AS bg FROM d, UNNEST(range(1, len(s))) AS t(i)),
        |rare AS (SELECT bg FROM bg GROUP BY bg HAVING count(*) <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bg a JOIN rare USING (bg) JOIN bg b USING (bg) WHERE a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY doc_id),
        |inter AS (SELECT c.a_id, c.b_id, count(*) AS ic
        |          FROM cand c JOIN bg x ON x.doc_id = c.a_id JOIN bg y ON y.doc_id = c.b_id AND y.bg = x.bg
        |          GROUP BY 1, 2)
        |SELECT a_id, b_id, sa.sz AS sz_a, sb.sz AS sz_b,
        |       CAST(ic AS DOUBLE) / least(sa.sz, sb.sz) AS containment
        |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
        |WHERE CAST(ic AS DOUBLE) / least(sa.sz, sb.sz) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "q_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, label,
        |            sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        |            FROM embeddings),
        |r AS (SELECT vec_id, label, nrm,
        |             row_number() OVER (PARTITION BY label ORDER BY nrm DESC, vec_id) AS rhi,
        |             row_number() OVER (PARTITION BY label ORDER BY nrm ASC, vec_id) AS rlo
        |      FROM e)
        |SELECT label, 'hi' AS side, rhi AS rnk, vec_id, nrm FROM r WHERE rhi <= 2
        |UNION ALL
        |SELECT label, 'lo' AS side, rlo AS rnk, vec_id, nrm FROM r WHERE rlo <= 2
        |ORDER BY label, side, rnk""".stripMargin,
    "q_dedup_embcos" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE vec_id < 4096)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |             (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |              sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |            (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |             sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,
  )
}
