package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}
import graft.functions.VectorFunctions
import graft.core.Exact

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, plus a
  * random-hyperplane LSH bucketer as the 100 TB scale path (bucket
  * first, search within buckets — candidate sets shrink ~2^planes).
  *
  * Cross-engine determinism: dot products are LEFT FOLDS over the
  * array (Spark `aggregate`, DuckDB `list_reduce`) with per-element
  * promotion to double — both engines produce bit-identical doubles,
  * so rank ordering matches exactly and no score rounding is needed.
  * Hyperplane weights are small integers from a fixed formula
  * ((i*31 + j*17) % 13) - 6 — exactly representable, no RNG.
  *
  * Stand-in selections are bounded by construction: every
  * `filter(vec_id < K)` that stands in for an offline artifact (K
  * centroids, K codebooks, K query probes) goes through `standIn`,
  * which caps the frame at K rows. On clean data the filter already
  * yields exactly K rows and the cap is a no-op; on dirty ids
  * (duplicate vec_ids — a re-crawled corpus, a hot placeholder id)
  * the filter alone can match a large corpus fraction, and since
  * these frames feed crossJoin(broadcast(...)), an unbounded
  * selection turns the one-pass scoring scan into a near-quadratic
  * blowup (observed: 98 s emb_ivfpq at sf0.001 in the round-11
  * hot-key skew sweep vs ~1 s with the limits in place). A K-row cap
  * keeps the product O(N·K) no matter what the id column holds; the
  * helper makes the convention structural (PlanSpec pins that every
  * broadcast stand-in subtree carries a limit) and deterministic
  * (sort-then-limit, so WHICH duplicate survives doesn't depend on
  * partitioning — the r11 bare `.limit(K)` made sweep row counts
  * run-order-dependent on dirty data).
  */
object EmbeddingQueries extends GroupBase {

  /** Codegen'd float-vector kernel (graft.functions.FloatDotProduct):
    * bit-identical to the HOF fold `aggregate(zip_with(a,b,*),0,+)`
    * but a primitive loop inside whole-stage codegen. */
  private def dot(a: Column, b: Column): Column = VectorFunctions.fdot(a, b)
  private def norm(a: Column): Column = VectorFunctions.fnorm(a)
  /** Cosine with a NULLIF-guarded denominator: a zero-norm vector (a
    * failed encoder emitting zeros — real at production scale) makes
    * the similarity undefined, and ANSI throws DIVIDE_BY_ZERO even
    * for doubles. NULL sorts last / drops from >= filters, which is
    * exactly how an undefined similarity should behave (EdgeExec
    * degenerate-input sweeps, round 10). */
  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** K-row bounded stand-in for an offline artifact (trained
    * centroids, codebooks, query probes), selected from a corpus
    * frame by id. Sort-then-limit instead of a bare `.limit(k)`:
    * `orderBy(vec_id, row-hash).limit(k)` plans as
    * TakeOrderedAndProject — per-partition top-k heaps merged on the
    * driver, NO exchange (cheaper than LocalLimit→single-partition
    * Exchange→GlobalLimit) — and is DETERMINISTIC under duplicate
    * ids: the row fingerprint breaks ties, so which K rows survive
    * does not depend on partitioning or scan order (ties only between
    * bit-identical rows, which are interchangeable). On clean data
    * the id filter yields exactly k distinct rows and this returns
    * the same set a bare limit did. Default predicate `vec_id < k`;
    * pass `pred` for range selections. */
  private def standIn(e: DataFrame, k: Int, pred: Column = null): DataFrame = {
    val p = if (pred == null) col("vec_id") < k else pred
    e.filter(p)
      .orderBy(col("vec_id"), xxhash64(struct(e.columns.map(col): _*)))
      .limit(k)
  }

  private val Planes = 8
  private val Dim = 64
  private def weight(i: Int, j: Int): Int = ((i * 31 + j * 17) % 13) - 6
  /** Integer hyperplane i as a FLOAT array literal (small ints are
    * float-exact, and ARRAY<FLOAT> feeds the codegen'd kernel). */
  private def plane(i: Int): Column =
    array((0 until Dim).map(j => lit(weight(i, j).toFloat)): _*)

  /** Per-bucket candidate cap for the assignment query (emb_lsh_buckets)
    * and for the pair-generating consumers (emb_neardup, emb_knn_graph).
    * The assignment query uses a tight cap so the scaling_pair growth
    * gate exercises the split-dominated regime; the consumers use a
    * looser cap — a recall knob: pairs across sub-buckets of the same
    * geometric bucket are deliberately not candidates. */
  private[graft] val SplitCap = 4
  private[graft] val ConsumerCap = 64
  /** Level-1 fan: a rank-pack window partition never exceeds
    * cap × CoarseFan rows (see cappedBucket). */
  private[graft] val CoarseFan = 1024
  private[graft] val MixA = 2654435761L // Knuth multiplicative hash
  private[graft] val MixM = 4294967296L // 2^32
  /** Ids are masked into [0, 2^31) BEFORE the Knuth multiply: an
    * unmasked int64-boundary id (corrupt ingest, a sentinel primary
    * key — the NumExec sweep class) times MixA overflows Long and
    * ANSI mode (the session default) throws mid-scan. (2^31−1)·MixA
    * ≈ 5.7e18 stays inside Long; ids below 2^31 — every real corpus
    * here — mix identically to the unmasked form. */
  private[graft] val MixMask = 2147483648L // 2^31

  /** Occupancy-capped LSH bucketer — the mechanized form of the r14
    * scaling_pair finding that FIXED hyperplane buckets are quadratic
    * in density ("plane/cell counts must scale with the corpus in
    * production", bucket_cand 9.25× at 3× identical copies). Growing
    * the plane count ~log N keeps EXPECTED occupancy flat but cannot
    * bound it: exact/near-duplicate clusters co-bucket under ANY
    * number of planes (geometry cannot separate identical vectors),
    * and integer plane counts quantize growth in ×2 jumps. So the cap
    * is enforced directly, the way ShingleDf.capRare bounds the
    * shingle side:
    *
    *   1. geometric bucket gb = sign pattern of `planes` fixed
    *      integer hyperplanes (unchanged coarse partitioning);
    *   2. occupancy n per gb from one hash-agg (≤ 2^planes rows —
    *      broadcast back, no corpus shuffle);
    *   3. hot buckets (n > cap·coarse) pre-split into
    *      m1 = ceil(n/(cap·coarse)) cells by a Knuth-mixed vec_id —
    *      scalar math, no shuffle. For DISTINCT ids this keeps rank
    *      partitions near cap·coarse rows (a hash expectation, not a
    *      hard bound); rows sharing ONE id co-locate by construction
    *      — the same hot-key concentration as any key-partitioned
    *      operator, and the id is the only oracle-expressible
    *      deterministic split key (a row fingerprint would
    *      desynchronize the DuckDB mirror);
    *   4. inside each (gb, s1) cell, members are rank-PACKED into
    *      chunks of exactly `cap` (row_number div cap): per-chunk
    *      pair count saturates at C(cap,2), so total candidates are
    *      ≤ N·(cap−1)/2 — LINEAR in the corpus even when every
    *      vector is an exact duplicate. Packing (not mod-splitting)
    *      keeps chunks full, so the linear bound is tight and the
    *      scaling_pair growth gate can assert ~3× at 3× density.
    *
    * Bucket id = gb·2^44 + s1·2^24 + chunk. Field ceilings are
    * ENFORCED, not assumed — all three: gb rides the 2^44 shift, so
    * planes is require-bounded to ≤ 19 at the call; s1 ≥ 2^20 (one
    * geometric bucket holding
    * > cap·coarse·2^20 ≈ 4×10^9 rows) or chunk ≥ 2^24 (> cap·2^24
    * rows landing in ONE mix cell — an identical-id flood past ~10^7
    * rows) raises a labeled error instead of silently merging
    * buckets and voiding the linear-candidate bound the scaling_pair
    * gate certifies (review finding r15). Determinism: the pack
    * order is (vec_id, row-fingerprint) — ties only between
    * bit-identical rows, which are interchangeable, so the assignment
    * is partition-invariant even on dirty duplicate-id data (the
    * standIn discipline). The oracle mirrors the arithmetic exactly;
    * on clean data vec_id is unique and the fingerprint never decides.
    * Reference behavior: flink-demo's ANN/dedup demos block on fixed
    * hash buckets; the cap is this engine's 100 TB discipline on top.
    *
    * `chain = true` (the pair-generating consumers emb_neardup /
    * emb_knn_graph) repairs the connectivity the cap costs (r15
    * verdict #1): chunking one hot bucket bounds candidates by
    * dropping cross-chunk pairs, but a duplicate cluster of n > cap
    * members then splits into ⌈n/cap⌉ chunks with NO edges between
    * them — transitive consumers (connected-components dedup with
    * keep-one semantics) would retain ⌈n/cap⌉ representatives instead
    * of 1, under-deduping exactly in the flood regime the cap was
    * built for. The repair emits CHAIN CELLS — extra bucket rows in a
    * keyspace disjoint from real buckets (real ids are ≥ 0; chain
    * ids are negative, odd = chunk chains, even = cell chains):
    *
    *   - chunk chain: each chunk's rank-min member (its HEAD) lands
    *     in chain cell −2·enc(chunk)−1 and, for chunk > 0, in
    *     −2·enc(chunk−1)−1 — so consecutive chunks' heads meet
    *     pairwise (O(#chunks) extra candidates, not O(#chunks²));
    *   - cell chain: the pre-split spreads an identical-VECTOR flood
    *     (distinct ids) across m1 mix cells with no edges between
    *     cells, so each (gb,s1) cell's rank-min member also lands in
    *     −2·(gb·2^44 + r)−2 and, for r > 0, in −2·(gb·2^44 + r−1)−2,
    *     where r = the cell's rank among the gb's PRESENT cells. r
    *     comes from a cells-count-sized hash-agg + window over that
    *     small table, broadcast back — the corpus is never shuffled
    *     by bare gb (a flood would concentrate one window task).
    *
    * Every chain pair links rank-min members of consecutive chunks /
    * cells, so a duplicate cluster that DOMINATES its cells — the
    * flood regime the cap created — forms ONE connected component in
    * the consumer pair graph (CappedBucketSpec flood test), while
    * total candidates stay ≤ N(cap−1)/2 + O(N/cap) — the linear
    * bound survives. SCOPE: chain candidates still pass the
    * consumer's cosine filter, so in a bucket MIXING a duplicate
    * cluster with unrelated same-sign-pattern vectors (interleaved
    * by the id mix), a chain link whose head is a non-cluster row is
    * filtered out and the cluster can still split — the chains
    * repair the flood regime, they are NOT an unconditional
    * connectivity guarantee on mixed-density buckets. Chain cells
    * add ~2 extra emitted rows per chunk/cell (ids via one explode —
    * the rank window is computed once, the bucketed exchange is still
    * reused across the self-join sides). The reference treats
    * duplicates as one identity (flink-demo
    * `UvCountWithBloomByWindow.scala:13-39`, `DuplicatorApp.scala:
    * 11-40`) — never ⌈n/cap⌉ survivors.
    *
    * Production remediation knob (documented, not implemented): a
    * flood of rows sharing ONE vec_id co-locates in a single mix cell
    * by construction (the id is the only oracle-expressible split
    * key) and raises the chunk field-ceiling error past cap·2^24 rows
    * (~10^9 at cap=64). A 100 TB operator that hits that error and
    * does NOT need DuckDB mirroring can salt the pre-split with the
    * row fingerprint (xxhash64(vec_id, embedding)) instead of the
    * bare id — identical capping math, no per-id concentration —
    * at the cost of a nondeterministic-per-engine bucket assignment
    * that only aggregate consumers (pair counts, dedup verdicts over
    * interchangeable duplicates) can tolerate. */
  /** Sign pattern of the `planes` fixed hyperplanes as a bucket id —
    * THE blocking key; shared by cappedBucket and the recall gate's
    * uncapped truth so the two can never diverge. */
  private def gbCol(planes: Int): Column =
    (0 until planes).map(i =>
      when(dot(col("embedding"), plane(i)) > 0, 1L << i).otherwise(0L))
      .reduce(_ + _)

  private[graft] def cappedBucket(e: DataFrame, planes: Int, cap: Int,
                                  coarse: Int = CoarseFan,
                                  chain: Boolean = false): DataFrame = {
    // third field ceiling, enforced like s1 and chunk: gb < 2^planes
    // rides the 2^44 shift, so planes >= 20 would overflow signed Long
    // (ANSI: opaque ARITHMETIC_OVERFLOW; non-ANSI: silent bucket
    // merges) — fail at the call with the labeled reason instead.
    // Chain ids double the encoding (−2·enc−{1,2}), so chain mode
    // needs one more headroom bit: planes <= 18 (consumers use 4).
    val maxPlanes = if (chain) 18 else 19
    require(planes >= 1 && planes <= maxPlanes,
      s"cappedBucket: planes=$planes outside [1,$maxPlanes] — " +
        s"gb*2^44${if (chain) " (doubled for chain-cell ids)" else ""} " +
        "must stay inside signed Long")
    val g = e.select(col("vec_id"), col("embedding"), gbCol(planes).as("gb"))
    val occ = g.groupBy("gb").agg(count(lit(1)).as("n"))
    val capG = cap.toLong * coarse
    // loud ceiling guard: a value past its encoding field would
    // silently merge buckets (see scaladoc); `when(over, raise)` adds
    // one codegen branch per row and never fires below the ceilings
    def guarded(c: Column, lim: Long, label: String): Column =
      when(c >= lim, raise_error(concat(lit(s"cappedBucket: $label "),
        c.cast("string"), lit(s" >= field ceiling $lim"))).cast("long"))
        .otherwise(c)
    val cells = g.join(broadcast(occ), "gb")
      .withColumn("m1", expr(s"(n + ${capG - 1}L) div ${capG}L"))
      .withColumn("s1", guarded(
        pmod(pmod(pmod(col("vec_id"), lit(MixMask)) * lit(MixA), lit(MixM)),
          col("m1")), 1L << 20, "s1"))
    val w = Window.partitionBy("gb", "s1")
      .orderBy(col("vec_id"), xxhash64(col("vec_id"), col("embedding")))
    // rn is 0-based pack rank within the (gb, s1) cell
    val packed = cells
      .withColumn("rn", (row_number().over(w) - lit(1)).cast("long"))
      .withColumn("chunk", guarded(
        floor(col("rn") / lit(cap)).cast("long"), 1L << 24, "chunk"))
    def enc(chunk: Column): Column =
      col("gb") * lit(1L << 44) + col("s1") * lit(1L << 24) + chunk
    if (!chain)
      packed.select(col("vec_id"), col("embedding"),
        enc(col("chunk")).as("bucket"))
    else {
      // rank of each PRESENT (gb, s1) cell within its gb: a
      // cells-count-sized distinct (map-side partial agg collapses
      // the corpus to ≤ Σ m1 rows) + a window over that small table,
      // broadcast back — never a corpus-wide window partitioned by
      // bare gb
      val cellRank = cells.select("gb", "s1").distinct()
        .withColumn("r",
          (row_number().over(Window.partitionBy("gb").orderBy("s1")) -
            lit(1)).cast("long"))
      val isHead = col("rn") % lit(cap) === 0
      val cellEnc = col("gb") * lit(1L << 44) // + r below: r < 2^20 ≤ s1
      // one explode per row — mostly a 1-element array; heads carry
      // their chain-cell ids too. array_compact drops the null arms.
      val ids = array_compact(array(
        enc(col("chunk")),
        when(isHead, lit(-2L) * enc(col("chunk")) - lit(1L)),
        when(isHead && col("chunk") > 0,
          lit(-2L) * enc(col("chunk") - lit(1L)) - lit(1L)),
        when(col("rn") === 0, lit(-2L) * (cellEnc + col("r")) - lit(2L)),
        when(col("rn") === 0 && col("r") > 0,
          lit(-2L) * (cellEnc + col("r") - lit(1L)) - lit(2L))))
      packed.join(broadcast(cellRank), Seq("gb", "s1"))
        .select(col("vec_id"), col("embedding"), explode(ids).as("bucket"))
    }
  }

  /** Brute-force ground truth for the neardup pair set: every pair
    * with cosine >= 0.35, no blocking. O(N²) by construction — ONLY
    * for recall measurement at small scale (Scaling pair mode's recall
    * gate at sf0.01; never a catalog query). */
  private[graft] def bruteNeardupPairs(e: DataFrame): DataFrame =
    e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("da"), col("y.vec_id").as("db"),
        cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= 0.35)

  /** UNCAPPED LSH truth for the cap's recall-cost measurement: pairs
    * sharing a bare geometric bucket (same `planes` hyperplanes, no
    * occupancy cap, no chunking) with cosine >= 0.35. This is what
    * the consumers would emit with the cap removed — the r14
    * quadratic-at-density shape — so found/uncapped isolates exactly
    * what ConsumerCap costs, separate from what the plane count
    * costs (the latter is bruteNeardupPairs' denominator). Quadratic
    * per bucket — measurement tool only, never a catalog query. */
  private[graft] def uncappedLshPairs(e: DataFrame, planes: Int = 4): DataFrame = {
    val g = e.select(col("vec_id"), col("embedding"), gbCol(planes).as("gb"))
    g.as("x").join(g.as("y"),
        col("x.gb") === col("y.gb") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("da"), col("y.vec_id").as("db"),
        cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= 0.35)
  }

  /** emb_neardup's pair pipeline over an arbitrary embeddings frame —
    * factored out so CappedBucketSpec can drive the REAL consumer
    * (not a re-implementation) through a duplicate-flood fixture and
    * assert one connected component per cluster. */
  private[graft] def neardupPairs(e0: DataFrame, planes: Int = 4,
                                  cap: Int = ConsumerCap,
                                  coarse: Int = CoarseFan): DataFrame = {
    val e = cappedBucket(e0, planes, cap, coarse, chain = true)
      .withColumnRenamed("bucket", "bkt")
    e.as("x").join(e.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("da"), col("y.vec_id").as("db"),
        cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= 0.35)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // vector norms + dims — the plumbing op (schema/typed-array path)
    "emb_norms" -> ((s, d) =>
      t(s, d, "embeddings").select(
        col("vec_id"), size(col("embedding")).as("dim"),
        norm(col("embedding")).as("l2"))
        .orderBy("vec_id")),

    // brute-force cosine top-5 per query vector (vec_id < 10):
    // the exact ANN baseline. The tiny query side broadcasts; the
    // big side streams — no shuffle of the corpus.
    "emb_knn" -> ((s, d) => bruteKnn(s, d).orderBy("qid", "rank")),

    // MIPS: max inner-product search (the recommender flavor of ANN —
    // score = raw dot, NOT cosine, so vector magnitude matters and a
    // popular/high-norm item can dominate every query). Same
    // broadcast-probe shape as emb_knn: corpus un-shuffled, query side
    // broadcast, top-k through WindowGroupLimit. The codegen float_dot
    // kernel is the whole scoring cost.
    "emb_mips" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = standIn(e, 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val w = Window.partitionBy("qid").orderBy(col("ip").desc, col("nid"))
      e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          dot(col("qv"), col("embedding")).as("ip"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("qid", "nid", "rank", "ip")
        .orderBy("qid", "rank")
    }),

    // per-label centroids via posexplode + 2^53-scaled exact sum
    // (Exact.fsum): shuffles (label, pos), O(1) state per group with
    // map-side partials — a popular label holding millions of members
    // costs one int128 accumulator, not a collect_list buffer. The
    // scaled-integer sum is order-independent and bit-identical to the
    // DuckDB mirror, so the mean needs no rounding.
    "emb_centroid" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(graft.core.Exact.fsum(col("x")).as("sx"), count(lit(1)).as("n"))
        .select(col("label"), col("pos"), (col("sx") / col("n")).as("c"))
        .orderBy("label", "pos")),

    // IVF cell assignment: nearest of 8 fixed coarse centroids
    // (vec_id < 8 stand in for k-means-trained centroids — training
    // is an offline job; the partition-the-corpus-by-cell shape is
    // what matters at scale). Centroid side broadcasts.
    "emb_ivf_assign" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = standIn(e, 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      // argmax as a max_by aggregate, not a row_number window: map-side
      // partials collapse the k candidate rows per vector BEFORE the
      // shuffle (the struct ordering buffer plans as SortAggregate — a
      // spillable per-map-task sort on the uniform vec_id key, not a
      // window's one-task hot-key sort) — the assign shape that
      // scales. Ordering (cos desc, cid asc) becomes max over the
      // lexicographic struct (cos, -cid).
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          cosine(col("embedding"), col("cv")).as("cos"), col("cid"))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("cos"), Exact.negId(col("cid"))))
          .as("cell"))
        .orderBy("vec_id")
    }),

    // IVF search with multi-probe P=2: queries search their top-2
    // cells — the candidate set is still ~P/#cells of the corpus (vs
    // brute force), and boundary-straddling true neighbors in the
    // runner-up cell are recovered (emb_recall quantifies the gain
    // over P=1)
    "emb_ivf_knn" -> ((s, d) => ivfKnn(s, d, probes = 2).orderBy("qid", "rank")),

    // ANN pipeline QA: recall@3 of the IVF search against the exact
    // brute-force truth, swept over multi-probe P ∈ {1, 2, 4} — the
    // recall-vs-cost curve every production ANN deployment measures
    // before picking an operating point (at sf0.01 the curve is
    // 14/15 → 14/15 → 15/15: one query's boundary neighbor sits in
    // its 4th-ranked cell). Pure composition of the searches above
    // (left joins on the tiny result sets); the denominator is the
    // fixed k, so a query whose probed cells held fewer than k
    // candidates is penalized, as it should be.
    "emb_recall" -> ((s, d) => {
      val truth = bruteKnn(s, d).filter(col("qid") < 5 && col("rank") <= 3)
        .select(col("qid"), col("nid"))
      // r16: one shared candidate sweep for the three probe arms
      // (ivfProbeCands/ivfArm — see emb_mrr), not three ivfKnn runs.
      val cand = ivfProbeCands(s, d, 4)
      def hits(p: Int) = ivfArm(cand, p).select(col("qid"), col("nid"))
        .join(truth.withColumn("hit", lit(1)), Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0))).as(s"n_hit_p$p"))
      hits(1).join(hits(2), Seq("qid")).join(hits(4), Seq("qid"))
        .select(col("qid"),
          col("n_hit_p1").cast("int").as("n_hit_p1"),
          (col("n_hit_p1").cast("double") / 3).as("recall3_p1"),
          col("n_hit_p2").cast("int").as("n_hit_p2"),
          (col("n_hit_p2").cast("double") / 3).as("recall3_p2"),
          col("n_hit_p4").cast("int").as("n_hit_p4"),
          (col("n_hit_p4").cast("double") / 3).as("recall3_p4"))
        .orderBy("qid")
    }),

    // MATRYOSHKA truncation sweep (MRL, Kusupati et al. 2022): how
    // much top-3 recall survives searching on only the first 16 / 32
    // dimensions of the 64-dim embedding — the dimension-vs-recall
    // curve that decides how far a deployment can truncate stored
    // vectors (4× or 2× smaller index) before re-ranking on full
    // vectors is needed. Each arm is the brute-force broadcast-probe
    // shape of emb_knn on a SLICED vector (slice of array<float>
    // feeds the same codegen float_dot kernel); the prefix scoring
    // scans proportionally fewer floats, which is exactly the
    // production win being measured. Recall joins are on the tiny
    // (qid, nid) result sets.
    "emb_matryoshka" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      def knn(dim: Int): DataFrame = {
        val proj =
          if (dim == 64) e.select(col("vec_id"), col("embedding").as("v"))
          else e.select(col("vec_id"),
            slice(col("embedding"), 1, dim).as("v"))
        val q = standIn(proj, 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
        proj.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"),
            cosine(col("qv"), col("v")).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("qid", "nid")
      }
      val truth = knn(64)
      def hits(dim: Int) = knn(dim)
        .join(truth.withColumn("hit", lit(1)), Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0))).as(s"n_hit_d$dim"))
      hits(16).join(hits(32), Seq("qid"))
        .select(col("qid"),
          col("n_hit_d16").cast("int").as("n_hit_d16"),
          (col("n_hit_d16").cast("double") / 3).as("recall3_d16"),
          col("n_hit_d32").cast("int").as("n_hit_d32"),
          (col("n_hit_d32").cast("double") / 3).as("recall3_d32"))
        .orderBy("qid")
    }),

    // k-means training for the IVF coarse quantizer (2 unrolled
    // Lloyd iterations, k=4, deterministic init = first k vectors).
    // Assignment: centroids broadcast, squared-L2 as a left fold —
    // bit-identical across engines. Centroid update: per-(cell,dim)
    // mean via Exact.fsum (2^53-scaled exact sum, O(1) group state,
    // map-side partials — the 100 TB-safe shape); one shuffle on
    // (cell,dim) per iteration, centroids never leave the executors
    // except the k×dim broadcast. The only collect_list left is the
    // k×64 centroid-vector re-assembly — bounded by dim, not by data.
    // PCA top principal component by POWER ITERATION (the whitening /
    // dim-reduction prep a SemDeDup-style pipeline runs before
    // clustering): v <- normalize(Σ_x (x-μ)((x-μ)·v)), 3 unrolled
    // rounds from the deterministic seed v0 = (0.125,...,0.125)
    // (1/√64, float-exact). 100 TB shape: each round is ONE corpus
    // scan — the projection t = (x-μ)·v is an element-wise fold
    // against two broadcast 64-dim arrays, the new direction is a
    // per-dimension Exact.fsum (O(1) group state, map-side partials)
    // of projection-weighted centered coordinates, and normalization
    // is a 1-row broadcast. The only collect_list is the 64-element
    // direction re-assembly, bounded by the dimension (emb_kmeans
    // discipline). Every fold is position-ordered so the double
    // arithmetic is bit-identical to the DuckDB mirror.
    "emb_pca" -> ((s, d) => {
      val (mu, _, vT) = pcaTrain(s, d)
      mu.crossJoin(broadcast(vT))
        .select(col("pos"), col("m").as("mu"),
          element_at(col("v"), col("pos") + 1).as("v"))
        .orderBy("pos")
    }),

    // APPLY the trained component: per-vector projection score
    // t = (x-μ)·v and squared reconstruction residual ‖(x-μ)-t·v‖²
    // — the transform side of emb_pca, and the reduced-representation
    // error a whitening pipeline thresholds on. Pure element-wise
    // folds against the two broadcast 64-dim arrays: after training,
    // scoring is a single scan with NO shuffle but the output sort.
    "emb_pca_scores" -> ((s, d) => {
      val (_, mu1, vT) = pcaTrain(s, d)
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(mu1)).crossJoin(broadcast(vT))
        .select(col("vec_id"),
          zip_with(col("embedding"), col("mu"),
            (a, b) => a.cast("double") - b).as("cx"), col("v"))
        .select(col("vec_id"), col("cx"), col("v"),
          aggregate(zip_with(col("cx"), col("v"), (a, b) => a * b),
            lit(0.0), (acc, p) => acc + p).as("t"))
        .select(col("vec_id"), col("t"),
          aggregate(zip_with(col("cx"), col("v"),
            (a, b) => (a - col("t") * b) * (a - col("t") * b)),
            lit(0.0), (acc, p) => acc + p).as("err"))
        .orderBy("vec_id")
    }),

    "emb_kmeans" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      // codegen'd kernel, bit-identical to the HOF fold
      // aggregate(zip_with(emb,cv,(a,b)=>(a-b)*(a-b)),0,+)
      def d2(emb: Column, cv: Column): Column =
        VectorFunctions.vd2(emb, cv)
      // argmin as a min_by hash-agg (map-side partials, no window
      // sort): min over the lexicographic struct (d2, cid) is exactly
      // orderBy(d2 asc, cid asc) / rn=1
      def assign(cents: DataFrame): DataFrame =
        e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("embedding"), col("cid"),
            d2(col("embedding"), col("cv")).as("d2"))
          .groupBy("vec_id")
          .agg(min_by(struct(col("embedding"), col("cid"), col("d2")),
            struct(col("d2"), col("cid"))).as("r"))
          .select(col("vec_id"), col("r.embedding").as("embedding"),
            col("r.cid").as("cell"), col("r.d2").as("d2"))
      val c0 = standIn(e, 4)
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      val c1 = assign(c0)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((graft.core.Exact.fsum(col("x")) / count(lit(1))).as("c"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          t => t.getField("c")).as("cv"))
        .select(col("cell").as("cid"), col("cv"))
      assign(c1).select(col("vec_id"), col("cell"), col("d2"))
        .orderBy("vec_id")
    }),

    // Product quantization + asymmetric-distance search (the memory
    // side of the ANN scale path: IVF partitions the corpus, PQ
    // compresses it — a 64-dim float vector becomes M=4 2-bit codes
    // here). Codebooks are the first KC vectors (stand-in for offline
    // training, as in emb_ivf_assign); codes = per-subspace argmin.
    // Search never touches corpus floats: the query builds a
    // (subspace, codeword) distance LUT (M×KC rows, broadcast) and
    // scores candidates by summing LUT hits — the sum is a sorted
    // fold so the 4-term double add is order-fixed on both engines.
    "emb_pq" -> ((s, d) => {
      val M = 4; val SUB = 16; val KC = 4
      // codegen'd kernel; same left fold as the zip_with formulation
      def d2(a: Column, b: Column) = VectorFunctions.vd2(a, b)
      // subvectors materialized as columns (HOF args inline into the
      // lambda, so slicing inside zip_with would re-slice per element)
      val e = t(s, d, "embeddings").select(
        Seq(col("vec_id")) ++ (0 until M).map(m =>
          slice(col("embedding"), m * SUB + 1, SUB).as(s"e$m")): _*)
      val cents = standIn(e, KC).select(
        Seq(col("vec_id").as("cid")) ++ (0 until M).map(m =>
          col(s"e$m").as(s"cv$m")): _*)
      // PQ codes: per-subspace argmin codeword (struct-min tiebreaks
      // on the lower cid, mirroring the oracle's ORDER BY d, cid)
      val codes = e.crossJoin(broadcast(cents))
        .select(Seq(col("vec_id")) ++ (0 until M).map(m =>
          struct(d2(col(s"e$m"), col(s"cv$m")).as("d"), col("cid").as("c"))
            .as(s"s$m")): _*)
        .groupBy("vec_id")
        .agg(min(col("s0")).as("m0"), min(col("s1")).as("m1"),
          min(col("s2")).as("m2"), min(col("s3")).as("m3"))
        .select(Seq(col("vec_id")) ++ (0 until M).map(m =>
          col(s"m$m.c").as(s"c$m")): _*)
      // query-side LUT: exact distance from each query subvector to
      // each codeword (3 queries × M×KC entries, broadcast)
      val lut = standIn(e, 3).crossJoin(broadcast(cents))
        .select(col("vec_id").as("qid"), col("cid"),
          explode(array((0 until M).map(m =>
            struct(lit(m).as("m"), d2(col(s"e$m"), col(s"cv$m")).as("dist"))): _*))
            .as("md"))
        .select(col("qid"), col("md.m").as("m"), col("cid"), col("md.dist").as("dist"))
      val corpusCodes = codes
        .select(col("vec_id"), explode(array((0 until M).map(m =>
          struct(lit(m).as("m"), col(s"c$m").as("code"))): _*)).as("mc"))
        .select(col("vec_id"), col("mc.m").as("m"), col("mc.code").as("code"))
      val w = Window.partitionBy("qid").orderBy(col("ad2").asc, col("nid"))
      corpusCodes.join(broadcast(lut),
          corpusCodes("m") === lut("m") && corpusCodes("code") === lut("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id").as("nid"))
        .agg(aggregate(sort_array(collect_list(col("dist"))), lit(0.0),
          (a, v) => a + v).as("ad2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "nid", "rank", "ad2")
        .orderBy("qid", "rank")
    }),

    // IVF + PQ combined search — the "IVFADC" shape production ANN
    // indexes (FAISS-style) actually deploy: the coarse quantizer
    // prunes the corpus to each query's top-P cells, and the surviving
    // candidates are scored by PQ asymmetric distance. Query time
    // never touches corpus floats: it reads codes (M small ints per
    // vector) for the probed cells plus two tiny broadcasts (the
    // per-query cell list and the M×KC distance LUT). The index build
    // is ONE corpus scan: the PQ coding aggregate rides the vec_id
    // hash partitioning the cell-assign aggregate just produced
    // (HashPartitioning(vec_id) satisfies the (vec_id, cell) clustering
    // — no second exchange), and at 100 TB both artifacts are
    // precomputed tables anyway. Constants follow emb_pq (M=4 subspaces
    // of 16 dims, KC=4 codebooks-from-first-vectors) and emb_ivf_knn
    // (8 coarse cells, P=2 probes, queries vec_id < 3, top-3 by
    // (ad2, nid) with the order-fixed sorted-fold sum).
    "emb_ivfpq" -> ((s, d) => {
      val M = 4; val SUB = 16; val KC = 4; val P = 2
      def d2(a: Column, b: Column) = VectorFunctions.vd2(a, b)
      val e = t(s, d, "embeddings")
      val coarse = standIn(e, 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val scored = e.crossJoin(broadcast(coarse))
        .select(col("vec_id"), col("embedding"),
          cosine(col("embedding"), col("cv")).as("ccos"), col("cid"))
      val assign = scored.groupBy("vec_id")
        .agg(max_by(struct(col("embedding"), col("cid")),
          struct(col("ccos"), Exact.negId(col("cid")))).as("r"))
        .select(col("vec_id"), col("r.embedding").as("embedding"),
          col("r.cid").as("cell"))
      val books = standIn(e, KC).select(
        Seq(col("vec_id").as("cid")) ++ (0 until M).map(m =>
          slice(col("embedding"), m * SUB + 1, SUB).as(s"cv$m")): _*)
      val codes = assign.crossJoin(broadcast(books))
        .select(Seq(col("vec_id"), col("cell")) ++ (0 until M).map(m =>
          struct(d2(slice(col("embedding"), m * SUB + 1, SUB), col(s"cv$m"))
            .as("d"), col("cid").as("c")).as(s"s$m")): _*)
        .groupBy("vec_id", "cell")
        .agg(min(col("s0")).as("m0"), min(col("s1")).as("m1"),
          min(col("s2")).as("m2"), min(col("s3")).as("m3"))
      // query side: top-P cells (ranking window sees ≤ 8 centroid rows
      // per query) + exact subspace-distance LUT, both broadcast
      val qcw = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
      val qcells = scored.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("ccos"), col("cid"))
        .withColumn("pr", row_number().over(qcw))
        .filter(col("pr") <= P)
        .select(col("qid"), col("cid").as("cell"))
      val lut = standIn(e, 3).crossJoin(broadcast(books))
        .select(col("vec_id").as("qid"),
          explode(array((0 until M).map(m =>
            struct(lit(m).as("m"), col("cid"),
              d2(slice(col("embedding"), m * SUB + 1, SUB), col(s"cv$m"))
                .as("dist"))): _*)).as("md"))
        .select(col("qid"), col("md.m").as("m"), col("md.cid").as("cid"),
          col("md.dist").as("dist"))
      val corpusCodes = codes.select(col("vec_id"), col("cell"),
          explode(array((0 until M).map(m =>
            struct(lit(m).as("m"), col(s"m$m.c").as("code"))): _*)).as("mc"))
        .select(col("vec_id"), col("cell"),
          col("mc.m").as("m"), col("mc.code").as("code"))
      val w = Window.partitionBy("qid").orderBy(col("ad2").asc, col("nid"))
      corpusCodes.join(broadcast(qcells), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(lut), Seq("qid", "m"))
        .filter(col("code") === col("cid"))
        .groupBy(col("qid"), col("vec_id").as("nid"))
        .agg(aggregate(sort_array(collect_list(col("dist"))), lit(0.0),
          (a, v) => a + v).as("ad2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "nid", "rank", "ad2")
        .orderBy("qid", "rank")
    }),

    // random-hyperplane LSH bucket assignment (the ANN scale path:
    // equal buckets → candidate; 8 planes → 256-way coarse
    // partitioning), occupancy-capped via cappedBucket so per-bucket
    // candidate pairs stay ≤ N·(SplitCap−1)/2 — linear in the corpus
    // even under exact-duplicate floods (see cappedBucket scaladoc;
    // the scaling_pair bucket_cand gate asserts ~3× at 3× density)
    "emb_lsh_buckets" -> ((s, d) =>
      cappedBucket(t(s, d, "embeddings"), Planes, SplitCap)
        .select("vec_id", "bucket")
        .orderBy("vec_id")),

    // int8 scalar quantization (the storage side of the ANN scale
    // path: 64 floats -> 64 bytes, 4x smaller than PQ-free float32
    // storage with near-zero recall loss). Per-dimension min/max come
    // from one posexplode pass (64 groups — map-side partials collapse
    // to 64 rows per partition before the shuffle) and broadcast back;
    // quantize/dequantize/error are element-wise single IEEE ops in a
    // fixed evaluation order, so the oracle matches bit-for-bit with
    // no rounding. Reported per vector: max and mean absolute
    // reconstruction error (mean via the order-independent 2^53
    // scaled sum).
    "emb_sq8" -> ((s, d) => {
      val ex = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
        .withColumn("x", col("xf").cast("double")).drop("xf")
      val stats = ex.groupBy("pos")
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      ex.join(broadcast(stats), "pos")
        // constant dimension (mx == mn): quantize to 0 on BOTH engines —
        // unguarded, Spark's x/0 yields NULL while DuckDB follows IEEE
        // (inf/nan), a latent data-dependent oracle mismatch
        .withColumn("q",
          when(col("mx") === col("mn"), lit(0.0)).otherwise(
            round((col("x") - col("mn")) * lit(255.0) / (col("mx") - col("mn")))))
        .withColumn("err",
          abs(col("x") - (col("mn") + (col("q") * (col("mx") - col("mn"))) / lit(255.0))))
        .groupBy("vec_id")
        .agg(max(col("err")).as("max_err"),
          (graft.core.Exact.fsum(col("err")) / count(lit(1))).as("mean_err"))
        .orderBy("vec_id")
    }),

    // RESIDUAL quantization (two-level additive coding — the RQ step
    // production ANN indexes stack on top of IVF when PQ's subspace
    // independence loses too much precision): level-1 codes each
    // vector against a coarse codebook, then the RESIDUAL (v − c1) is
    // coded against a second codebook built from sample residuals, and
    // the per-vector quantization errors after each level quantify the
    // compression fidelity. Codebooks follow the house stand-in for
    // offline training (level 1 = vectors 0-3, level 2 = the residuals
    // of vectors 4-7). The 100 TB shape: both codebooks are K-row
    // broadcasts, both assignment passes are broadcast-join + argmin
    // hash-aggs (map-side partials, no window sort), and the residual
    // never shuffles — it is computed in the same projection that
    // scores it, so the corpus is scanned once per level with nothing
    // wider than (vec_id, 64 doubles) in flight.
    "emb_rq" -> ((s, d) => {
      def d2(a: Column, b: Column) = VectorFunctions.vd2(a, b)
      val e = t(s, d, "embeddings")
      val c1 = standIn(e, 4)
        .select(col("vec_id").as("c1id"), col("embedding").as("cv"))
      val a1 = e.crossJoin(broadcast(c1))
        .withColumn("err1", d2(col("embedding"), col("cv")))
        .groupBy("vec_id")
        .agg(min_by(
          struct(col("embedding"), col("c1id"), col("cv"), col("err1")),
          struct(col("err1"), col("c1id"))).as("r"))
        .select(col("vec_id"),
          col("r.c1id").as("c1id"), col("r.err1").as("err1"),
          zip_with(col("r.embedding"), col("r.cv"),
            (x, y) => x.cast("double") - y.cast("double")).as("res"))
      val c2 = standIn(a1, 4, col("vec_id") >= 4 && col("vec_id") < 8)
        .select(col("vec_id").as("c2id"), col("res").as("rv"))
      a1.crossJoin(broadcast(c2))
        .withColumn("err2", d2(col("res"), col("rv")))
        .groupBy(col("vec_id"), col("c1id"), col("err1"))
        .agg(min(struct(col("err2"), col("c2id"))).as("m"))
        .select(col("vec_id"), col("c1id").as("c1"), col("m.c2id").as("c2"),
          col("err1"), col("m.err2").as("err2"))
        .orderBy("vec_id")
    }),

    // EMBEDDING-DISTRIBUTION DRIFT across sources — the model-health
    // monitor for a pipeline whose upstream encoder or corpus mix can
    // silently shift: per-source mean vectors (one corpus scan,
    // per-(source, dim) exact-fsum partials), then pairwise cosine and
    // L2 distance between the source centroids. A drifting source
    // shows up as a falling cosine long before downstream metrics
    // move. Mean re-assembly is the emb_pca convention (collect sorted
    // by dim, bounded by dimensionality); the pairwise stage runs on a
    // sources-count-sized table.
    "emb_drift" -> ((s, d) => {
      val src = t(s, d, "documents")
        .select(col("doc_id").as("vec_id"), col("source"))
      val ex = t(s, d, "embeddings").join(src, "vec_id")
        .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      val means = ex.groupBy("source", "pos")
        .agg((Exact.fsum(col("xf")) / count(lit(1))).as("m"))
      val vecs = means.groupBy("source")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("v"))
      def fold(c: Column) = aggregate(c, lit(0.0), (a, x) => a + x)
      def dotd(a: Column, b: Column) = fold(zip_with(a, b, (x, y) => x * y))
      // broadcast the (bounded) right side: the a<b pairing has no
      // equi key, and a broadcast loop join over the sources-count
      // table is the deliberate shape — never a CartesianProduct
      vecs.as("a").join(broadcast(vecs.as("b")),
          col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          (dotd(col("a.v"), col("b.v")) /
            (sqrt(dotd(col("a.v"), col("a.v"))) *
              sqrt(dotd(col("b.v"), col("b.v"))))).as("cos"),
          sqrt(fold(zip_with(col("a.v"), col("b.v"),
            (x, y) => (x - y) * (x - y)))).as("l2"))
        .orderBy("src_a", "src_b")
    }),

    // CLUSTERING-QUALITY EVAL (purity + NMI): score the IVF cell
    // assignment against the documents' language labels — the
    // label-agreement readout that decides whether an embedding
    // space's clusters track a known partition before trusting them
    // for semantic dedup or stratified sampling. Purity = Σ_cell
    // majority-label count / N; NMI = 2·I(C;L)/(H(C)+H(L)). The
    // contingency table is (cells × labels)-bounded, every marginal
    // re-aggregates it, and the entropy/MI sums run through the exact
    // fsum on |term| ≤ 1 values — one corpus-scale pass (the
    // assignment), then bounded-table arithmetic, nothing on the
    // driver. NMI rounds to 6 (ln); purity is an exact rational.
    "emb_purity" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = standIn(e, 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val assign = e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          cosine(col("embedding"), col("cv")).as("ccos"), col("cid"))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), Exact.negId(col("cid"))))
          .as("cell"))
      val lab = assign.join(
        t(s, d, "documents").select(col("doc_id").as("vec_id"), col("lang")),
        "vec_id")
      val cl = lab.groupBy("cell", "lang").agg(count(lit(1)).as("m"))
      val nTot = lab.agg(count(lit(1)).as("nn"))
      val perCell = cl.groupBy("cell")
        .agg(max(col("m")).as("mx"), sum(col("m")).as("nc"))
      val perLang = cl.groupBy("lang").agg(sum(col("m")).as("nl"))
      def dD(c: Column) = c.cast("double")
      val mi = cl.join(broadcast(perCell), "cell")
        .join(broadcast(perLang), "lang").crossJoin(broadcast(nTot))
        .agg(Exact.fsum((dD(col("m")) / dD(col("nn"))) *
          log((dD(col("m")) * dD(col("nn"))) /
            (dD(col("nc")) * dD(col("nl"))))).as("mi"))
      val hc = perCell.crossJoin(broadcast(nTot))
        .agg(Exact.fsum(negate((dD(col("nc")) / dD(col("nn"))) *
          log(dD(col("nc")) / dD(col("nn"))))).as("hc"))
      val hl = perLang.crossJoin(broadcast(nTot))
        .agg(Exact.fsum(negate((dD(col("nl")) / dD(col("nn"))) *
          log(dD(col("nl")) / dD(col("nn"))))).as("hl"))
      val pur = perCell.crossJoin(broadcast(nTot))
        .agg((sum(col("mx")).cast("double") /
          first(col("nn")).cast("double")).as("purity"),
          count(lit(1)).as("n_cells"), first(col("nn")).as("nn"))
      pur.crossJoin(broadcast(mi)).crossJoin(broadcast(hc))
        .crossJoin(broadcast(hl))
        .select(col("nn").as("n"), col("n_cells"),
          round(col("purity"), 6).as("purity"),
          // NULLIF: NMI is undefined when both partitions are trivial
          // (H(C)+H(L)=0, e.g. one cluster and one label) — NULL, not
          // an ANSI DIVIDE_BY_ZERO crash (EdgeExec single-row sweep)
          round(lit(2.0) * col("mi") /
            nullif(col("hc") + col("hl"), lit(0.0)), 6).as("nmi"))
    }),

    // k-NN GRAPH construction (the substrate for graph-based dedup,
    // diversity sampling, and label propagation): every vector's top-3
    // cosine neighbors among its LSH bucket-mates. Same 4-plane
    // OCCUPANCY-CAPPED + CHAIN-CELL blocking as emb_neardup
    // (cappedBucket chain=true, ConsumerCap=64: candidate fan-in per
    // vector is bounded by the cap, not by bucket density — the
    // recall knob is documented at the cap's definition; chain cells
    // keep a >cap duplicate cluster one connected component) — the
    // self-join's sides are plan-identical (ReuseExchange computes
    // the capped-bucket table once) and the per-source top-k goes
    // through WindowGroupLimit, so partitions stream; never
    // all-pairs at scale, even on duplicate floods.
    "emb_knn_graph" -> ((s, d) => {
      val e = cappedBucket(t(s, d, "embeddings"), 4, ConsumerCap,
          chain = true)
        .withColumnRenamed("bucket", "bkt")
      val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
      // r16 optimization (guide §3): join each unordered pair ONCE
      // (`<`) and unfold the two directed rows afterwards with one
      // explode riding the same Generate — the cosine kernel runs once
      // per pair instead of twice (dot and norm·norm are commutative
      // single IEEE ops, so cosine(x,y) ≡ cosine(y,x) bit-exact), and
      // the join probe emits half the rows. The window input is
      // unchanged — identical rows, identical result.
      e.as("x").join(e.as("y"),
          col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
        .select(explode(array(
          struct(col("x.vec_id").as("src"), col("y.vec_id").as("dst")),
          struct(col("y.vec_id").as("src"), col("x.vec_id").as("dst"))))
          .as("p"),
          cosine(col("x.embedding"), col("y.embedding")).as("cos"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"), col("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("src", "dst", "rank", "cos")
        .orderBy("src", "rank")
    }),

    // SemDeDup-style semantic dedup: assign every vector to its
    // nearest coarse centroid (the k-means/IVF cells above), then KEEP
    // ONE of any within-cell pair with cosine >= 0.35 — the lower
    // vec_id survives, deterministically. At 100 TB the cell count
    // grows with the corpus (cells partition the pair search), so the
    // within-cell self-join stays near-linear; the two join sides are
    // plan-identical → ReuseExchange computes the assignment once.
    "emb_semdedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = standIn(e, 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      // same max_by hash-agg shape as emb_ivf_assign (no window sort)
      val assign = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"),
          cosine(col("embedding"), col("cv")).as("ccos"), col("cid"))
        .groupBy("vec_id")
        .agg(max_by(struct(col("embedding"), col("cid")),
          struct(col("ccos"), Exact.negId(col("cid")))).as("r"))
        .select(col("vec_id"), col("r.embedding").as("embedding"),
          col("r.cid").as("cell"))
      val drops = assign.as("x").join(assign.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
        .filter(cosine(col("x.embedding"), col("y.embedding")) >= 0.35)
        .select(col("y.vec_id").as("vec_id")).distinct()
      assign.select("vec_id", "cell")
        .join(drops.withColumn("dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("dup").isNull.as("kept"))
        .orderBy("vec_id")
    }),

    // embedding-cosine near-dup PAIRS, LSH-blocked: candidates share a
    // 4-plane OCCUPANCY-CAPPED bucket (cappedBucket, ConsumerCap=64 —
    // the recall/candidate-count knob: pairs split across chunks of
    // one hot bucket are not candidates, bounding per-bucket pair
    // work at C(64,2) no matter how dense a duplicate cluster gets —
    // while the chain cells link consecutive chunks'/cells' rank-min
    // members, so a >cap duplicate cluster still forms ONE connected
    // component for transitive keep-one dedup), then the exact cosine
    // filter runs only inside buckets. The self-join's two sides are
    // plan-identical → ReuseExchange computes the capped-bucket table
    // once; never all-pairs at scale.
    "emb_neardup" -> ((s, d) => neardupPairs(t(s, d, "embeddings"))
      .orderBy("da", "db")),

    // Maximal-marginal-relevance selection (the diversity-aware data
    // picker a fine-tune curation pass runs after retrieval): greedily
    // take K items maximizing 0.7·rel − 0.3·max-sim-to-selected, rel =
    // cosine to the query (vec_id 0). 100 TB shape: K bounded rounds,
    // each ONE corpus scan with no exchange — the selected set (≤K
    // rows) rides the driver as literal vectors, per-candidate max-sim
    // is an inline `greatest` over ≤K cosines (order-free), and the
    // argmax is a top-1 heap (TakeOrderedAndProject). Score weights
    // are the literals 0.7/0.3 on BOTH engines (never 1−λ: 1-0.7 ≠ 0.3
    // in doubles), ties break to the lower vec_id.
    "emb_mmr" -> ((s, d) => mmrSelect(s, d, k = 4)),

    // k-center / farthest-point-first coreset (greedy 2-approx cover;
    // the geometry-spread counterpart to emb_mmr's query-anchored
    // pick): seed = vec_id 0, each round adds the point FARTHEST
    // (squared L2, codegen vec_d2 kernel) from the selected set. Same
    // bounded-round scan shape as emb_mmr; `mind2` is each pick's
    // distance to the set — the classic coreset radius curve.
    "emb_kcenter" -> ((s, d) => kcenterSelect(s, d, k = 4)),

    // Hard-negative mining — the contrastive-training data op: for
    // each probe (vec_id < 8), the top-3 most-similar vectors of a
    // DIFFERENT label (similar-but-wrong = the gradient-rich
    // negatives; same-label rows never leave the join). Same scale
    // shape as emb_knn: 8-row probe side broadcasts, the corpus
    // streams un-shuffled through the codegen float_dot kernel, and
    // the per-probe top-3 plans as WindowGroupLimit (per-map-task
    // heaps). Cosines are left-fold bit-exact cross-engine, so rank
    // order needs no rounding.
    "emb_hardneg" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val probes = standIn(e, 8)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qv"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      e.join(broadcast(probes), col("label") =!= col("qlabel"))
        .select(col("qid"), col("vec_id").as("nid"), col("label").as("nlabel"),
          cosine(col("qv"), col("embedding")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "nid", "nlabel", "rank", "cos")
        .orderBy("qid", "rank")
    }),

    // TRIPLET mining — the (anchor, positive, hard-negative) manifest
    // a contrastive/metric-learning trainer consumes: per anchor
    // (vec_id < 8), the most-similar SAME-label vector (positive) and
    // the most-similar DIFFERENT-label vector (hard negative), plus
    // the margin between them (margin <= 0 marks the triplets that
    // actually produce gradient under a margin loss). One corpus
    // stream against the broadcast anchor set scores both roles in a
    // single pass (the label test is a projection, not a second
    // join); per-role top-1 is a max_by struct aggregate — no window,
    // no sort. Cosines are left-fold bit-exact, so the picks and the
    // margin need no rounding.
    "emb_triplets" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val anchors = standIn(e, 8)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qv"))
      val scored = e.join(broadcast(anchors), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id").as("nid"),
          (col("label") === col("qlabel")).as("same"),
          cosine(col("qv"), col("embedding")).as("cos"))
      scored.groupBy("qid")
        .agg(
          max_by(struct(col("nid"), col("cos")),
            when(col("same"), struct(col("cos"), Exact.negId(col("nid"))))).as("p"),
          max_by(struct(col("nid"), col("cos")),
            when(!col("same"), struct(col("cos"), Exact.negId(col("nid"))))).as("n"))
        .select(col("qid"), col("p.nid").as("pos_id"), col("p.cos").as("pos_cos"),
          col("n.nid").as("neg_id"), col("n.cos").as("neg_cos"),
          (col("p.cos") - col("n.cos")).as("margin"))
        .orderBy("qid")
    }),

    // Hybrid retrieval with reciprocal-rank fusion — the
    // lexical+semantic fusion every modern retrieval stack runs:
    // a term-match ranker over `documents` and a cosine ranker over
    // `embeddings` (doc_id ≡ vec_id) each produce a top-50 list
    // (orderBy+limit → TakeOrderedAndProject: per-partition heaps, NO
    // global sort of the corpus); RRF = Σ 1/(60+rank) over the lists
    // containing the doc fuses them, top-20 out. The rank-assign
    // windows run on the ≤50-row fused lists, so the only
    // corpus-scale work is the two scoring scans. 1/(60+r) on integer
    // ranks is single-op bit-exact — no rounding anywhere.
    "text_rrf" -> ((s, d) => {
      val K = 50
      val tk = col("tk")
      val lexTop = t(s, d, "documents")
        .withColumn("tk", graft.functions.TextOps.tokens(col("text")))
        .select(col("doc_id"),
          size(filter(tk, x => x === "the" || x === "data")).as("lex"))
        .filter(col("lex") > 0)
        .orderBy(col("lex").desc, col("doc_id")).limit(K)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("lex").desc, col("doc_id"))))
      val e = t(s, d, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val semTop = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          cosine(col("qv"), col("embedding")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(K)
        .withColumn("sem_rank",
          row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      lexTop.select(col("doc_id"), col("lex_rank"))
        .join(semTop.select(col("doc_id"), col("sem_rank")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          (coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("sem_rank")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    }),

    // BINARY hashing ANN (the SimHash-for-dense-vectors family — the
    // cheapest quantization on the memory/recall curve, 64 dims ->
    // 64 BITS): code = per-dimension sign bit packed into one BIGINT,
    // search = Hamming top-3 via bit_count(xor) — two single-cycle
    // codegen'd integer ops per comparison, no floats touched at query
    // time. The zero threshold is exact for this corpus (values are
    // zero-centered; a mean-centered variant just swaps the literal
    // for a broadcast per-dim mean). 100 TB shape: at deployment the
    // code column is the INDEX — materialized once at 8 bytes/vector
    // (a 512× reduction over float32 that typically fits a shard's
    // index in executor memory) and searched without touching floats;
    // here the build stays inline (Catalyst evaluates the 64-step
    // integer fold per candidate pair — still cheaper than one float
    // dot), the 8-probe code set broadcasts, and the per-probe top-3
    // runs as a WindowGroupLimit streaming top-k — no global sort.
    // Integer codes and integer distances are bit-exact cross-engine
    // by construction: no rounding anywhere.
    "emb_binary" -> ((s, d) => {
      // try_element_at: a SHORT vector (encoder shape drift — ShapeExec,
      // round 11) reads NULL past its end, NULL > 0 is NULL, and IF
      // routes to the no-bit branch — missing dimensions contribute no
      // bit instead of throwing INVALID_ARRAY_INDEX_IN_ELEMENT_AT
      val codes = t(s, d, "embeddings").select(col("vec_id"), expr(
        """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
             acc + IF(try_element_at(embedding, CAST(i + 1 AS INT)) >
                      CAST(0 AS FLOAT),
                      shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"""
        ).as("code"))
      val probes = standIn(codes, 8)
        .select(col("vec_id").as("qid"), col("code").as("qcode"))
      val w = Window.partitionBy("qid").orderBy(col("hamming"), col("nid"))
      codes.join(broadcast(probes), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          expr("bit_count(code ^ qcode)").cast("int").as("hamming"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "nid", "hamming")
        .orderBy("qid", "rank")
    }),

    // MEAN RECIPROCAL RANK of the IVF search — the rank-SENSITIVE
    // retrieval eval next to emb_recall's set-overlap recall@3:
    // where in the approximate result list does the TRUE nearest
    // neighbor land? MRR = mean over queries of 1/rank (0 when the
    // true top-1 is missing entirely) per probe budget — the number
    // that distinguishes "usually first" from "usually third" when
    // recall alone reads identical. Integer ranks → exact rational
    // arithmetic until the final mean, rounded to 6. Same shapes as
    // emb_recall: broadcast-probe searches, bounded join of two
    // per-query top-k lists.
    "emb_mrr" -> ((s, d) => {
      val truth1 = bruteKnn(s, d).filter(col("qid") < 5 && col("rank") === 1)
        .select(col("qid"), col("nid"))
      // r16: the three probe arms share ONE candidate sweep
      // (ivfProbeCands) instead of three full ivfKnn pipelines —
      // identical per-arm rows, one corpus pass (guide §2.4).
      val cand = ivfProbeCands(s, d, 4)
      def rr(p: Int) = ivfArm(cand, p)
        .join(truth1, Seq("qid", "nid"), "left_semi")
        .select(col("qid"), (lit(1.0) / col("rank")).as(s"rr_p$p"))
      val base = truth1.select("qid")
      def arm(p: Int) = base
        .join(rr(p), Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col(s"rr_p$p"), lit(0.0)).as(s"rr_p$p"))
      arm(1).join(arm(2), Seq("qid")).join(arm(4), Seq("qid"))
        .groupBy()
        .agg(count(lit(1)).as("n_queries"),
          round(Exact.fsum(col("rr_p1")) / count(lit(1)), 6).as("mrr_p1"),
          round(Exact.fsum(col("rr_p2")) / count(lit(1)), 6).as("mrr_p2"),
          round(Exact.fsum(col("rr_p4")) / count(lit(1)), 6).as("mrr_p4"))
    }),

    // CALINSKI-HARABASZ index — the INTERNAL clustering-validation
    // number next to emb_purity's external (label-needing) purity/NMI:
    // CH = (SSB/(k−1)) / (SSW/(n−k)) over the IVF cell assignment,
    // with SSW against each cell's MEAN (not its seed centroid) and
    // SSB the size-weighted spread of cell means around the global
    // mean — ANOVA's F applied to the embedding space, the number a
    // pipeline sweeps k against when no labels exist. 100 TB shape:
    // one assignment scan (broadcast seed centroids, vd2 kernel), one
    // (cell, dim) fsum pass for the means, one scoring scan against
    // the broadcast assembled means — dim-bounded tables everywhere,
    // nothing on the driver. SSW/SSB are fsums of vd2 folds
    // (order-independent, bit-exact); CH rounds to 6.
    "emb_ch_index" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = standIn(e, 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val assign = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cid"),
          VectorFunctions.vd2(col("embedding"), col("cv")).as("d2"))
        .groupBy("vec_id")
        .agg(min_by(struct(col("embedding"), col("cid")),
          struct(col("d2"), col("cid"))).as("mm"))
        .select(col("vec_id"), col("mm.embedding").as("embedding"),
          col("mm.cid").as("cell"))
      def assemble(df: DataFrame, keyCols: Seq[String], value: String,
                   as: String): DataFrame =
        df.groupBy(keyCols.map(col): _*).agg(transform(
          array_sort(collect_list(struct(col("pos"), col(value)))),
          x => x.getField(value)).as(as))
      val cellMeans = assemble(
        assign.select(col("cell"), posexplode(col("embedding"))
            .as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg((Exact.fsum(col("x")) / count(lit(1))).as("m")),
        Seq("cell"), "m", "cm")
      val cellN = assign.groupBy("cell").agg(count(lit(1)).as("nc"))
      val gMean = assemble(
        assign.select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("pos")
          .agg((Exact.fsum(col("x")) / count(lit(1))).as("m"))
          .withColumn("g", lit(1)),
        Seq("g"), "m", "gm").select("gm")
      val ssw = assign.join(broadcast(cellMeans), "cell")
        .agg(Exact.fsum(VectorFunctions.vd2(col("embedding"), col("cm")))
          .as("ssw"))
      val ssb = cellMeans.join(cellN, "cell").crossJoin(broadcast(gMean))
        .agg(Exact.fsum(col("nc").cast("double") *
          VectorFunctions.vd2(col("cm"), col("gm"))).as("ssb"),
          count(lit(1)).as("k"))
      val nTot = assign.agg(count(lit(1)).as("n"))
      ssb.crossJoin(broadcast(ssw)).crossJoin(broadcast(nTot))
        .select(col("k"), col("n"),
          round(col("ssb"), 6).as("ssb"), round(col("ssw"), 6).as("ssw"),
          // NULLIF guards: CH is undefined at k=1, n=k, or zero
          // within-cluster scatter — NULL, not an ANSI DIVIDE_BY_ZERO
          // crash (EdgeExec single-row sweep, round 10)
          round((col("ssb") /
            nullif((col("k") - 1).cast("double"), lit(0.0))) /
            nullif(col("ssw") /
              nullif((col("n") - col("k")).cast("double"), lit(0.0)),
              lit(0.0)), 6)
            .as("ch"))
    }),

    // LINEAR PROBE — the standard embedding-quality eval (Alain &
    // Bengio 2016; every SSL paper's table 1): freeze the embeddings,
    // fit a linear model on a label, and read how much signal the
    // representation exposes. Least-squares probe (label==2
    // one-vs-rest) by 3 full-batch gradient steps from w=0; output =
    // the training curve (step, mse, ||w||) — the monotone-loss
    // readout that certifies the probe actually learns. 100 TB shape
    // matches pipe_classify_train/emb_pca: each step is ONE corpus
    // scan — the residual fold runs per row against the broadcast
    // 64-dim weight row, the gradient collapses to 64 per-dimension
    // Exact.fsum partials, and the weight update is a dim-bounded
    // re-assembly — weights never touch the driver. Determinism:
    // folds are left-to-right (list_reduce mirror), gradients are
    // 2^53-grid fsums, and the updated weights floor-quantize to 1e-6
    // each step so both engines iterate from identical bits; mse and
    // ||w|| round to 6 at the edge.
    "emb_probe" -> ((s, d) => {
      val Lr = 30.0
      val emb = t(s, d, "embeddings").select(col("embedding"),
        (col("label") === 2).cast("double").as("y"))
      val nr = emb.agg(count(lit(1)).as("n"))
      def assemble(df: DataFrame, value: String): DataFrame =
        df.groupBy().agg(transform(
          array_sort(collect_list(struct(col("pos"), col(value)))),
          x => x.getField(value)).as("w"))
      def scored(w: DataFrame): DataFrame =
        emb.crossJoin(broadcast(w))
          .select(col("embedding"), col("y"),
            (aggregate(zip_with(col("embedding"), col("w"),
              (a, b) => a.cast("double") * b),
              lit(0.0), (acc, p) => acc + p) - col("y")).as("err"))
      def lossRow(step: Int, w: DataFrame): DataFrame =
        scored(w).crossJoin(broadcast(nr))
          .agg(round(Exact.fsum(col("err") * col("err")) /
            max(col("n")).cast("double"), 6).as("mse"))
          .crossJoin(broadcast(w.select(round(sqrt(
            aggregate(transform(col("w"), x => x * x),
              lit(0.0), (a, b) => a + b)), 6).as("wnorm"))))
          .select(lit(step).as("step"), col("mse"), col("wnorm"))
      // r16 (guide §1.2 step 1 — don't scan twice for what one pass
      // yields): the gradient aggregate now also carries m2 =
      // fsum(err²) per dimension, and the step's loss row reads
      // dimension 0's m2 — every doc contributes exactly one row per
      // pos, and fsum is order-independent on the exact 2^53 grid, so
      // per-pos fsum(err²) is BIT-IDENTICAL to the global fsum(err²)
      // the separate loss scan computed. Steps 0-2 thus ride the
      // gradient pass (max(when(pos=0,..)) keeps the empty-input
      // null-mse row of the old global agg); only the final step pays
      // a dedicated loss scan. 7 corpus scans -> 4.
      def lossRowFrom(step: Int, ga: DataFrame, w: DataFrame): DataFrame =
        ga.crossJoin(broadcast(nr))
          .agg(round(max(when(col("pos") === 0, col("m2"))) /
            max(col("n")).cast("double"), 6).as("mse"))
          .crossJoin(broadcast(w.select(round(sqrt(
            aggregate(transform(col("w"), x => x * x),
              lit(0.0), (a, b) => a + b)), 6).as("wnorm"))))
          .select(lit(step).as("step"), col("mse"), col("wnorm"))
      var w = s.range(1).select(
        transform(sequence(lit(0), lit(63)), _ => lit(0.0)).as("w"))
      val rows = scala.collection.mutable.ListBuffer.empty[DataFrame]
      for (step <- 1 to 3) {
        val g = scored(w)
          .select(posexplode(col("embedding")).as(Seq("pos", "x")), col("err"))
          .groupBy("pos")
          .agg(Exact.fsum(col("err") * col("x").cast("double")).as("gs"),
            Exact.fsum(col("err") * col("err")).as("m2"))
        rows += lossRowFrom(step - 1, g, w)
        // NOTE: a per-step localCheckpoint on the weight row was
        // measured 1.1 -> 1.3 s WORSE (3 eager jobs vs the cheap
        // re-execution of 1-row assemblies): the geometric lineage
        // here is all K-row/1-row stages.
        // coalesce(try_element_at): a PADDED vector (shape drift) emits
        // gradient positions past the 64-entry weight row — those dims
        // start from weight 0.0 (the same init as every other dim)
        // instead of throwing on the out-of-bounds read
        w = assemble(g.crossJoin(broadcast(nr)).crossJoin(broadcast(w))
          .select(col("pos"),
            Exact.q6(coalesce(try_element_at(col("w"), col("pos") + 1),
              lit(0.0)) -
              lit(Lr) * col("gs") / col("n").cast("double")).as("nw")), "nw")
      }
      rows += lossRow(3, w)
      rows.reduce(_.unionByName(_)).orderBy("step")
    }),

    // EMBEDDING-space benchmark decontamination — the semantic twin of
    // `pipe_decontam`: an n-gram scan misses a paraphrased or
    // translated eval item, a cosine gate against the benchmark's
    // embeddings does not (the FineWeb/GPT-3-appendix protocol is to
    // run BOTH). Benchmark set = vec_id % 97 == 0 (the held-out eval
    // embeddings), capped at 64 rows through standIn — a production
    // benchmark is FIXED-size (thousands of items) while this modulo
    // stand-in grows with the corpus, and an uncapped bench side was
    // the one surviving instance of the r11 unbounded-broadcast class
    // (the new PlanSpec structural pin caught it: on hot-key-skewed
    // ids, 25% of the corpus satisfies `% 97 == 0` and the broadcast
    // goes corpus-sized); every training vector reports its nearest benchmark
    // item + max cosine, flagged at 0.3. 100 TB shape: the benchmark
    // side is eval-benchmark-sized (thousands, not billions) →
    // broadcast; the corpus streams through the codegen float_dot
    // kernel unshuffled, and the per-vector argmax is a max_by struct
    // aggregate with map-side partials — no window, no candidate
    // materialization. Cosines are left-fold bit-exact, so the flag
    // and the nearest-id pick need no rounding.
    "emb_decontam" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val bench = standIn(e, 64, col("vec_id") % 97 === 0)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"))
      e.filter(col("vec_id") % 97 =!= 0)
        .crossJoin(broadcast(bench))
        .select(col("vec_id"), col("bid"),
          cosine(col("embedding"), col("bv")).as("cos"))
        .groupBy("vec_id")
        .agg(
          max_by(col("bid"), struct(col("cos"), Exact.negId(col("bid"))))
            .as("bench_id"),
          max(col("cos")).as("max_cos"))
        .select(col("vec_id"), col("bench_id"), col("max_cos"),
          (col("max_cos") >= 0.3).as("contaminated"))
        .orderBy("vec_id")
    }),
  )

  /** An embedding collected to the driver as an ARRAY<FLOAT> literal
    * (null elements kept, a null vector stays a typed null), so scoring
    * against it is a constant-operand kernel call, not a join. */
  private def vecLit(v: Any): Column = v match {
    case null => lit(null).cast("array<float>")
    case xs: scala.collection.Seq[_] =>
      typedLit(xs.map(_.asInstanceOf[java.lang.Float]).toSeq)
  }

  /** One greedy round's argmax: the top row of `scored` by `score`
    * (ties to the lower vec_id; a null score ranks below every number,
    * a null vec_id below every id), over the rows whose vec_id was not
    * picked yet. `orderBy.limit(1)` plans as TakeOrderedAndProject:
    * per-partition top-1 heaps merged on the driver, one job, no
    * exchange. None when no row is left. */
  private def topPick(scored: DataFrame, score: String,
                      picked: Seq[Row], cols: String*): Option[Row] = {
    val ids = picked.filterNot(_.isNullAt(0)).map(_.get(0))
    val pool =
      if (ids.isEmpty) scored
      else scored.filter(col("vec_id").isNull || !col("vec_id").isin(ids: _*))
    pool.orderBy(col(score).desc, col("vec_id").asc_nulls_last).limit(1)
      .select(cols.map(col): _*).collect().headOption
  }

  /** The K greedy rounds as a local frame, one row per round. */
  private def pickFrame(s: SparkSession, fields: Seq[(String, DataType)],
                        rows: Seq[Row]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Greedy MMR loop: round 1 is the pure-relevance argmax; round r
    * scores the remaining candidates against the r−1 picks. The picks
    * (≤K rows) ride the driver and enter the plan as literal vectors,
    * so each round is ONE top-1 scan of the corpus: msim is `greatest`
    * over ≤K inline float_dot cosines (order-free, nulls ignored) and
    * picked ids leave through an `isin` filter — no join, shuffle or
    * checkpoint per round. */
  private def mmrSelect(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = t(s, d, "embeddings")
    val qs = e.filter(col("vec_id") === 0).select("embedding").collect()
    // one candidate row per (vector, query vector) pair: duplicate
    // vec_id 0 rows each score the corpus, none leaves it empty
    val cand = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        explode(array(qs.map(q => vecLit(q.get(0))): _*)
          .cast("array<array<float>>")).as("qv"))
      .select(col("vec_id"), col("embedding"),
        cosine(col("embedding"), col("qv")).as("rel"))
    val picks = scala.collection.mutable.ArrayBuffer.empty[Option[Row]]
    for (_ <- 1 to k) {
      // an empty round leaves the candidate set unchanged: every later
      // round is empty too
      picks += (if (picks.contains(None)) None else {
        val sel = picks.flatten.toSeq
        val sims = sel.map(p => cosine(col("embedding"), vecLit(p.get(1))))
        val score =
          if (sims.isEmpty) col("rel")
          else lit(0.7) * col("rel") - lit(0.3) *
            (if (sims.size == 1) sims.head else greatest(sims: _*))
        topPick(cand.withColumn("score", score), "score", sel,
          "vec_id", "embedding", "rel", "score")
      })
    }
    pickFrame(s, Seq("round" -> IntegerType,
        "vec_id" -> e.schema("vec_id").dataType,
        "rel" -> DoubleType, "score" -> DoubleType),
      picks.toSeq.zipWithIndex.map { case (p, i) =>
        p.fold(Row(i + 1, null, null, null))(p => Row(i + 1, p.get(0), p.get(2), p.get(3)))
      })
  }

  /** Farthest-point-first loop: `mind2` = min squared L2 to the
    * selected set, `least` over ≤K inline vec_d2 calls against the
    * picks as literal vectors (order-free, nulls ignored); the seeds
    * (every vec_id 0 row) have mind2 0 by convention. A round with an
    * empty selected set has nothing to measure against and yields a
    * null row; a null pick joins the set as a null vector. Same
    * one-top-1-scan-per-round shape as mmrSelect. */
  private def kcenterSelect(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val seeds = e.filter(col("vec_id") === 0).collect().toSeq
    val sel = scala.collection.mutable.ArrayBuffer.from(seeds)
    val out = scala.collection.mutable.ArrayBuffer.from(
      seeds.map(p => Row(1, p.get(0), 0.0)))
    for (r <- 2 to k) {
      val p = if (sel.isEmpty) None else {
        val d2 = sel.toSeq.map(c => VectorFunctions.vd2(col("embedding"), vecLit(c.get(1))))
        topPick(e.withColumn("mind2", if (d2.size == 1) d2.head else least(d2: _*)),
          "mind2", sel.toSeq, "vec_id", "embedding", "mind2")
      }
      sel += p.getOrElse(Row(null, null))
      out += p.fold(Row(r, null, null))(p => Row(r, p.get(0), p.get(2)))
    }
    pickFrame(s, Seq("round" -> IntegerType,
      "vec_id" -> e.schema("vec_id").dataType, "mind2" -> DoubleType), out.toSeq)
  }

  /** Brute-force cosine top-5 for query vectors vec_id < 10 (shared by
    * emb_knn and the emb_recall truth side). */
  private def bruteKnn(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val q = standIn(e, 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qv"), col("embedding")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "nid", "rank")
  }

  /** Multi-probe-SWEEP candidate table (r16, guide §2.4 "remove
    * shuffles outright"): the probe-budget evals emb_recall/emb_mrr
    * compare P = 1/2/4 arms, and composing three ivfKnn calls re-ran
    * the centroid scoring scan, the cell-assignment aggregate and the
    * candidate scoring join once PER ARM. This helper runs them ONCE
    * at the widest budget, tags every candidate with the probe rank
    * `pr` of the cell it came from (a property of (qid, cell), so
    * `pr <= p` reproduces arm p's candidate set exactly — cells are
    * disjoint per corpus vector), and computes EVERY arm's rank in a
    * single window pass: rank within arm p = the running count of
    * `pr <= p` rows in (cos DESC, nid) order — identical to
    * row_number over the filtered subset, which inherits the same
    * total order. The three running sums share one frame spec, so
    * they ride ONE WindowExec / one exchange / one sort, and the
    * whole sweep is a single lineage: no per-arm filter can push
    * back below the join (the first cut — filter-then-window per arm
    * over a shared repartition — lost the sharing exactly that way:
    * Catalyst pushed `pr <= p` into the broadcast query side and
    * re-specialized each arm's join). */
  private def ivfProbeCands(s: SparkSession, d: String,
                            maxProbes: Int): DataFrame = {
    val e = t(s, d, "embeddings")
    val cents = standIn(e, 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        cosine(col("embedding"), col("cv")).as("ccos"), col("cid"))
    val assign = scored
      .groupBy("vec_id")
      .agg(max_by(struct(col("embedding"), col("cid")),
        struct(col("ccos"), Exact.negId(col("cid")))).as("r"))
      .select(col("vec_id"), col("r.embedding").as("embedding"),
        col("r.cid").as("cell"))
    val pw = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
    val q = scored.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("ccos"), col("cid"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= maxProbes)
      .select(col("qid"), col("qv"), col("cid").as("cell"), col("pr"))
    val cand = assign.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("pr"),
        cosine(col("qv"), col("embedding")).as("cos"))
    val rw = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Seq(1, 2, 4).filter(_ <= maxProbes).foldLeft(cand) { (df, p) =>
      df.withColumn(s"rank_p$p",
        sum(when(col("pr") <= p, 1L).otherwise(0L)).over(rw))
    }
      // one eager materialization shared by the three arm consumers
      // (the dd_tfidf_cos/text_langid_nb constructor-barrier
      // discipline): without it each arm re-executes the window stage
      // over the full sweep (the shared exchange dedups only the work
      // BELOW it). The table is (#queries x probed-cell members) —
      // bounded by the query budget, far under corpus scale; a
      // production pipeline would persist it to storage.
      .localCheckpoint()
  }

  /** One probe-budget arm over the shared sweep table: identical
    * rows to `ivfKnn(s, d, p).select(qid, nid, rank)` (rank is LONG
    * here — the running-count formulation — vs row_number's INT;
    * no consumer emits it to a result schema). */
  private def ivfArm(cand: DataFrame, p: Int): DataFrame =
    cand.filter(col("pr") <= p && col(s"rank_p$p") <= 3)
      .select(col("qid"), col("nid"), col(s"rank_p$p").as("rank"))

  /** IVF top-3 search for query vectors vec_id < 5, probing each
    * query's top-`probes` cells — the multi-probe knob every
    * production IVF index exposes: recall climbs with P at linear
    * candidate cost (candidates ≈ P/#cells of the corpus), because
    * true neighbors near a cell boundary land in the runner-up cell.
    * P=1 is exactly probe-own-cell. Shared by emb_ivf_knn (P=2
    * registered); the P-sweep evals (emb_recall/emb_mrr) go through
    * ivfProbeCands/ivfArm instead — one corpus pass for all arms. */
  private def ivfKnn(s: SparkSession, d: String, probes: Int = 1): DataFrame = {
    val e = t(s, d, "embeddings")
    val cents = standIn(e, 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        cosine(col("embedding"), col("cv")).as("ccos"), col("cid"))
    // corpus side: own cell only — same max_by hash-agg shape as
    // emb_ivf_assign (map-side partials, no window sort)
    val assign = scored
      .groupBy("vec_id")
      .agg(max_by(struct(col("embedding"), col("cid")),
        struct(col("ccos"), Exact.negId(col("cid")))).as("r"))
      .select(col("vec_id"), col("r.embedding").as("embedding"),
        col("r.cid").as("cell"))
    // query side: top-P cells per query; the ranking window sees at
    // most k=8 centroid rows per query — bounded by k, not by data.
    // Cells are disjoint per corpus vector, so multi-probe candidates
    // need no dedup.
    val pw = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid"))
    val q = scored.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("ccos"), col("cid"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= probes)
      .select(col("qid"), col("qv"), col("cid").as("cell"))
    val kw = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    assign.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qv"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(kw))
      .filter(col("rank") <= 3)
      .select("qid", "nid", "rank")
  }

  /** Position-ordered left fold with 0.0 init (matches the Spark
    * `aggregate(..., lit(0.0), _+_)` order exactly). */
  private def pcaFold(expr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $expr), (a, b) -> a + b)"

  /** Oracle mirror of `pcaTrain`: CTE chain ending in mu/mua/v3. */
  private lazy val pcaCteSql: String = {
    def iterSql(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""cx$k AS (SELECT list_transform(list_zip(e.embedding, mua.mu),
                     p -> CAST(p[1] AS DOUBLE) - p[2]) AS cx, v
                   FROM e, mua, $prev),
          tt$k AS (SELECT cx,
                     ${pcaFold("list_transform(list_zip(cx, v), p -> p[1] * p[2])")}
                       AS t
                   FROM cx$k),
          w$k AS (SELECT CAST(i - 1 AS INT) AS pos,
                    ${graft.core.ExactSql.fsum("cx[i] * t")} AS w
                  FROM tt$k, range(1, 65) r(i) GROUP BY 1),
          wa$k AS (SELECT array_agg(w ORDER BY pos) AS wa FROM w$k),
          v$k AS (SELECT list_transform(wa, x -> x / nrm) AS v FROM
                    (SELECT wa,
                       sqrt(${pcaFold("list_transform(wa, x -> x * x)")}) AS nrm
                     FROM wa$k))"""
    }
    s"""WITH e AS (SELECT embedding FROM embeddings),
        mu AS (SELECT CAST(i - 1 AS INT) AS pos,
                      ${graft.core.ExactSql.fsum("embedding[i]")} / count(*) AS m
               FROM e, range(1, 65) r(i) GROUP BY 1),
        mua AS (SELECT array_agg(m ORDER BY pos) AS mu FROM mu),
        v0 AS (SELECT list_transform(range(1, 65),
                 i -> CAST(0.125 AS DOUBLE)) AS v),
        ${iterSql(1)},
        ${iterSql(2)},
        ${iterSql(3)}"""
  }

  /** PCA power-iteration training shared by emb_pca / emb_pca_scores:
    * returns (per-dim mean rows, 1-row mean array, 1-row unit
    * direction after 3 rounds). See emb_pca's scaladoc for the 100 TB
    * shape argument. */
  private def pcaTrain(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = t(s, d, "embeddings").select(col("embedding"))
    def assemble(df: DataFrame, value: String, as: String): DataFrame =
      df.groupBy().agg(transform(
        array_sort(collect_list(struct(col("pos"), col(value)))),
        x => x.getField(value)).as(as))
    val mu = e.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg((graft.core.Exact.fsum(col("x")) / count(lit(1))).as("m"))
    val mu1 = assemble(mu, "m", "mu")
    val v0 = e.sparkSession.range(1)
      .select(transform(sequence(lit(0), lit(63)),
        _ => lit(0.125)).as("v"))
    def iter(vdf: DataFrame): DataFrame = {
      val w = e.crossJoin(broadcast(mu1)).crossJoin(broadcast(vdf))
        .select(zip_with(col("embedding"), col("mu"),
          (a, b) => a.cast("double") - b).as("cx"), col("v"))
        .select(col("cx"),
          aggregate(zip_with(col("cx"), col("v"), (a, b) => a * b),
            lit(0.0), (acc, p) => acc + p).as("t"))
        .select(posexplode(col("cx")).as(Seq("pos", "cxj")), col("t"))
        .groupBy("pos")
        .agg(graft.core.Exact.fsum(col("cxj") * col("t")).as("w"))
      assemble(w, "w", "wa")
        .select(col("wa"),
          sqrt(aggregate(transform(col("wa"), x => x * x),
            lit(0.0), (a, b) => a + b)).as("nrm"))
        // NULLIF: a zero update direction (degenerate corpus — e.g. a
        // single vector, whose centered form is the zero vector) has
        // no normalized direction: NULL components, not an ANSI
        // DIVIDE_BY_ZERO crash (EdgeExec single-row sweep, round 10)
        .select(transform(col("wa"),
          x => x / nullif(col("nrm"), lit(0.0))).as("v"))
    }
    (mu, mu1, iter(iter(iter(v0))))
  }

  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        (acc, x) -> acc + x)"""
  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Oracle mirror of `bruteKnn` (no final ORDER BY — nests as a CTE). */
  private lazy val embKnnSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                   WHERE vec_id < 10),
        scored AS (
          SELECT qid, e.vec_id AS nid,
                 ${dotSql("qv", "e.embedding")} /
                   (${normSql("qv")} * ${normSql("e.embedding")}) AS cos
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
        ranked AS (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, nid) AS rank
          FROM scored)
        SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5"""

  /** Oracle mirror of `ivfKnn(probes)` (no final ORDER BY — nests as
    * a CTE). */
  private def embIvfKnnSql(probes: Int): String =
    s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                       WHERE vec_id < 8),
        scored AS (
          SELECT e.vec_id, e.embedding, cid,
                 ${dotSql("e.embedding", "cv")} /
                   (${normSql("e.embedding")} * ${normSql("cv")}) AS ccos
          FROM embeddings e CROSS JOIN cents),
        assign AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY ccos DESC, cid) AS rn
            FROM scored) x WHERE rn = 1),
        q AS (SELECT qid, qv, cell FROM (
                SELECT vec_id AS qid, embedding AS qv, cid AS cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cid) AS pr
                FROM scored WHERE vec_id < 5) z
              WHERE pr <= $probes),
        cand AS (
          SELECT qid, a.vec_id AS nid,
                 ${dotSql("qv", "a.embedding")} /
                   (${normSql("qv")} * ${normSql("a.embedding")}) AS cos
          FROM assign a JOIN q USING (cell) WHERE a.vec_id <> qid)
        SELECT qid, nid, CAST(rank AS INT) AS rank FROM (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, nid) AS rank
          FROM cand) r
        WHERE rank <= 3"""
  private def planeSql(i: Int): String =
    (0 until Dim).map(j => s"${weight(i, j)}.0").mkString("[", ", ", "]")

  /** Oracle mirror of `cappedBucket` as WITH-clause members ending in
    * relation cb(vec_id, embedding, bucket). The `(x % m + m) % m`
    * form mirrors Spark's pmod for NEGATIVE ids too (DuckDB's bare %
    * keeps the sign — a silent bucket divergence on dirty ids
    * otherwise, review finding r15). The pack order is ORDER BY
    * vec_id, which reproduces the Spark side's (vec_id, fingerprint)
    * order ONLY when vec_ids are unique — so the mirror now ENFORCES
    * that precondition instead of assuming it (ADVICE r15): the chk
    * member raises error() on duplicate ids, and its 0-valued result
    * is folded into rn so no optimizer can prune the check away. The
    * field-ceiling guards never fire at oracle scales and are
    * omitted. `chain = true` mirrors the chain-cell emissions (chunk
    * chains on odd negative ids, present-cell-rank chains on even
    * negative ids — see cappedBucket's scaladoc); dense_rank over
    * (gb, s1-order) equals the Spark side's rank-of-present-cells
    * broadcast. */
  private def cappedBucketSql(planes: Int, cap: Int,
                              coarse: Int = CoarseFan,
                              chain: Boolean = false): String = {
    val terms = (0 until planes).map(i =>
      s"CASE WHEN ${dotSql("embedding", planeSql(i))} > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    val capG = cap.toLong * coarse
    val base =
      s"""g AS (SELECT vec_id, embedding, CAST($terms AS BIGINT) AS gb
              FROM embeddings),
        chk AS (SELECT CASE WHEN count(*) = count(DISTINCT vec_id) THEN 0
                       ELSE error('cappedBucketSql: duplicate vec_ids break the ORDER BY vec_id pack-order mirror') END AS z
                FROM g),
        o AS (SELECT gb, count(*) AS n FROM g GROUP BY gb),
        sp AS (SELECT vec_id, embedding, gb,
                      ((((vec_id % $MixMask + $MixMask) % $MixMask) * $MixA)
                        % $MixM) %
                        ((n + ${capG - 1}) // $capG) AS s1
               FROM g JOIN o USING (gb)),
        pe AS (SELECT vec_id, embedding, gb, s1,
                      row_number() OVER (PARTITION BY gb, s1
                                         ORDER BY vec_id) - 1 + chk.z AS rn,
                      dense_rank() OVER (PARTITION BY gb ORDER BY s1) - 1 AS r
               FROM sp, chk)"""
    if (!chain)
      s"""$base,
        cb AS (SELECT vec_id, embedding,
                      gb * ${1L << 44} + s1 * ${1L << 24} + rn // $cap
                        AS bucket
               FROM pe)"""
    else
      s"""$base,
        pc AS (SELECT vec_id, embedding, gb, s1, rn, r, rn // $cap AS chunk,
                      gb * ${1L << 44} + s1 * ${1L << 24} + rn // $cap AS enc
               FROM pe),
        cb AS (SELECT vec_id, embedding, enc AS bucket FROM pc
               UNION ALL
               SELECT vec_id, embedding, -2 * enc - 1 FROM pc
               WHERE rn % $cap = 0
               UNION ALL
               SELECT vec_id, embedding, -2 * (enc - 1) - 1 FROM pc
               WHERE rn % $cap = 0 AND chunk > 0
               UNION ALL
               SELECT vec_id, embedding,
                      -2 * (gb * ${1L << 44} + r) - 2 FROM pc
               WHERE rn = 0
               UNION ALL
               SELECT vec_id, embedding,
                      -2 * (gb * ${1L << 44} + r - 1) - 2 FROM pc
               WHERE rn = 0 AND r > 0)"""
  }

  def oracleSql: Map[String, String] = Map(
    "emb_norms" ->
      s"""SELECT vec_id, CAST(len(embedding) AS INT) AS dim, ${normSql("embedding")} AS l2
          FROM embeddings ORDER BY vec_id""",
    "emb_knn" -> s"$embKnnSql ORDER BY qid, rank",
    "emb_recall" -> {
      def r(p: Int) =
        s"""r$p AS (SELECT i.qid,
                         CAST(sum(CASE WHEN b.nid IS NOT NULL THEN 1 ELSE 0 END)
                           AS INT) AS n_hit_p$p
                  FROM ivf$p i LEFT JOIN brute b
                    ON b.qid = i.qid AND b.nid = i.nid AND b.rank <= 3
                  GROUP BY i.qid)"""
      s"""WITH brute AS ($embKnnSql),
          ivf1 AS (${embIvfKnnSql(1)}),
          ivf2 AS (${embIvfKnnSql(2)}),
          ivf4 AS (${embIvfKnnSql(4)}),
          ${r(1)}, ${r(2)}, ${r(4)}
          SELECT qid, n_hit_p1, CAST(n_hit_p1 AS DOUBLE) / 3 AS recall3_p1,
                 n_hit_p2, CAST(n_hit_p2 AS DOUBLE) / 3 AS recall3_p2,
                 n_hit_p4, CAST(n_hit_p4 AS DOUBLE) / 3 AS recall3_p4
          FROM r1 JOIN r2 USING (qid) JOIN r4 USING (qid) ORDER BY qid"""
    },
    "emb_matryoshka" -> {
      def arm(dim: Int): String = {
        val v = if (dim == 64) "embedding" else s"embedding[1:$dim]"
        s"""e$dim AS (SELECT vec_id, $v AS v FROM embeddings),
            k$dim AS (SELECT qid, nid FROM (
              SELECT q.vec_id AS qid, e.vec_id AS nid,
                     row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY ${dotSql("q.v", "e.v")} /
                         (${normSql("q.v")} * ${normSql("e.v")}) DESC,
                         e.vec_id) AS rank
              FROM e$dim e CROSS JOIN
                   (SELECT * FROM e$dim WHERE vec_id < 5) q
              WHERE e.vec_id <> q.vec_id) x WHERE rank <= 3)"""
      }
      def hit(dim: Int): String =
        s"""h$dim AS (SELECT k$dim.qid,
                        sum(CASE WHEN t.nid IS NULL THEN 0 ELSE 1 END) AS n
                      FROM k$dim LEFT JOIN k64 t
                        ON k$dim.qid = t.qid AND k$dim.nid = t.nid
                      GROUP BY 1)"""
      s"""WITH ${arm(64)}, ${arm(16)}, ${arm(32)}, ${hit(16)}, ${hit(32)}
          SELECT h16.qid, CAST(h16.n AS INT) AS n_hit_d16,
                 CAST(h16.n AS DOUBLE) / 3 AS recall3_d16,
                 CAST(h32.n AS INT) AS n_hit_d32,
                 CAST(h32.n AS DOUBLE) / 3 AS recall3_d32
          FROM h16 JOIN h32 USING (qid) ORDER BY h16.qid"""
    },
    "emb_mips" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                     WHERE vec_id < 5),
          scored AS (
            SELECT qid, e.vec_id AS nid,
                   ${dotSql("qv", "e.embedding")} AS ip
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
          ranked AS (
            SELECT qid, nid, ip,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY ip DESC, nid) AS rank
            FROM scored)
          SELECT qid, nid, CAST(rank AS INT) AS rank, ip
          FROM ranked WHERE rank <= 5 ORDER BY qid, rank""",
    "emb_centroid" ->
      s"""SELECT label, CAST(i - 1 AS INT) AS pos,
                ${graft.core.ExactSql.fsum("embedding[i]")} / count(*) AS c
         FROM embeddings, range(1, 65) r(i)
         GROUP BY label, i ORDER BY label, pos""",
    "emb_ivf_assign" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                         WHERE vec_id < 8),
          scored AS (
            SELECT e.vec_id, cid,
                   ${dotSql("e.embedding", "cv")} /
                     (${normSql("e.embedding")} * ${normSql("cv")}) AS cos
            FROM embeddings e CROSS JOIN cents),
          ranked AS (SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cos DESC, cid) AS rn
                     FROM scored)
          SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1
          ORDER BY vec_id""",
    "emb_ivf_knn" -> s"${embIvfKnnSql(2)} ORDER BY qid, rank",
    "emb_pq" -> {
      // per-subspace squared-L2 as the same left fold, over 1-based
      // inclusive list slices (subspace m covers [m*16+1, m*16+16])
      def subD2(a: String, b: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip(
              $a[m*16+1 : m*16+16], $b[m*16+1 : m*16+16]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
            (acc, v) -> acc + v)"""
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                         WHERE vec_id < 4),
          dists AS (SELECT e.vec_id, c.cid, m,
                           ${subD2("e.embedding", "c.cv")} AS d
                    FROM embeddings e CROSS JOIN cents c
                         CROSS JOIN range(0, 4) r(m)),
          codes AS (SELECT vec_id, m, cid AS code FROM (
                      SELECT vec_id, m, cid,
                             row_number() OVER (PARTITION BY vec_id, m
                                                ORDER BY d, cid) AS rn
                      FROM dists) x WHERE rn = 1),
          lut AS (SELECT vec_id AS qid, cid, m, d AS dist FROM dists
                  WHERE vec_id < 3),
          pairs AS (SELECT l.qid, k.vec_id AS nid, l.dist
                    FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.cid
                    WHERE k.vec_id <> l.qid),
          approx AS (SELECT qid, nid,
                            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                              list_sort(array_agg(dist))), (a, v) -> a + v) AS ad2
                     FROM pairs GROUP BY 1, 2)
          SELECT qid, nid, CAST(rank AS INT) AS rank, ad2 FROM (
            SELECT qid, nid, ad2,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY ad2, nid) AS rank
            FROM approx) x
          WHERE rank <= 3 ORDER BY qid, rank"""
    },
    "emb_ivfpq" -> {
      def subD2(a: String, b: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip(
              $a[m*16+1 : m*16+16], $b[m*16+1 : m*16+16]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
            (acc, v) -> acc + v)"""
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                         WHERE vec_id < 8),
          scored AS (
            SELECT e.vec_id, e.embedding, cid,
                   ${dotSql("e.embedding", "cv")} /
                     (${normSql("e.embedding")} * ${normSql("cv")}) AS ccos
            FROM embeddings e CROSS JOIN cents),
          assign AS (
            SELECT vec_id, embedding, cid AS cell FROM (
              SELECT vec_id, embedding, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY ccos DESC, cid) AS rn
              FROM scored) x WHERE rn = 1),
          qcells AS (SELECT qid, cell FROM (
                       SELECT vec_id AS qid, cid AS cell,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY ccos DESC, cid) AS pr
                       FROM scored WHERE vec_id < 3) z
                     WHERE pr <= 2),
          books AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                    WHERE vec_id < 4),
          cdists AS (SELECT a.vec_id, a.cell, c.cid, m,
                            ${subD2("a.embedding", "c.cv")} AS d
                     FROM assign a CROSS JOIN books c
                          CROSS JOIN range(0, 4) r(m)),
          codes AS (SELECT vec_id, cell, m, cid AS code FROM (
                      SELECT vec_id, cell, m, cid,
                             row_number() OVER (PARTITION BY vec_id, m
                                                ORDER BY d, cid) AS rn
                      FROM cdists) x WHERE rn = 1),
          lut AS (SELECT e.vec_id AS qid, c.cid, m,
                         ${subD2("e.embedding", "c.cv")} AS dist
                  FROM embeddings e CROSS JOIN books c
                       CROSS JOIN range(0, 4) r(m)
                  WHERE e.vec_id < 3),
          pairs AS (SELECT q.qid, k.vec_id AS nid, l.dist
                    FROM codes k JOIN qcells q ON k.cell = q.cell
                         JOIN lut l ON l.qid = q.qid AND k.m = l.m
                                    AND k.code = l.cid
                    WHERE k.vec_id <> q.qid),
          approx AS (SELECT qid, nid,
                            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                              list_sort(array_agg(dist))), (a, v) -> a + v) AS ad2
                     FROM pairs GROUP BY 1, 2)
          SELECT qid, nid, CAST(rank AS INT) AS rank, ad2 FROM (
            SELECT qid, nid, ad2,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY ad2, nid) AS rank
            FROM approx) x
          WHERE rank <= 3 ORDER BY qid, rank"""
    },
    "emb_lsh_buckets" ->
      s"""WITH ${cappedBucketSql(Planes, SplitCap)}
          SELECT vec_id, bucket FROM cb ORDER BY vec_id""",
    "emb_sq8" ->
      s"""WITH ex AS (SELECT vec_id, i - 1 AS pos,
                             CAST(embedding[i] AS DOUBLE) AS x
                      FROM embeddings, range(1, 65) r(i)),
          st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
          q AS (SELECT vec_id, x, mn, mx,
                       CASE WHEN mx = mn THEN CAST(0.0 AS DOUBLE)
                            ELSE round((x - mn) * CAST(255.0 AS DOUBLE) / (mx - mn))
                       END AS qv
                FROM ex JOIN st USING (pos)),
          e2 AS (SELECT vec_id,
                        abs(x - (mn + (qv * (mx - mn)) / CAST(255.0 AS DOUBLE)))
                          AS err
                 FROM q)
          SELECT vec_id, max(err) AS max_err,
                 ${graft.core.ExactSql.fsum("err")} / count(*) AS mean_err
          FROM e2 GROUP BY vec_id ORDER BY vec_id""",
    "emb_rq" -> {
      // same position-ordered 0.0-seeded fold as the vec_d2 kernel
      def d2Sql(a: String, b: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                 * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
            (acc, v) -> acc + v)"""
      s"""WITH c1 AS (SELECT vec_id AS c1id, embedding AS cv FROM embeddings
                      WHERE vec_id < 4),
          a1 AS (SELECT vec_id, c1id, err1, cv FROM (
                   SELECT e.vec_id, c1id,
                          ${d2Sql("e.embedding", "cv")} AS err1, cv,
                          row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${d2Sql("e.embedding", "cv")} ASC, c1id)
                            AS rn
                   FROM embeddings e CROSS JOIN c1) x WHERE rn = 1),
          res AS (SELECT a1.vec_id, c1id, err1,
                         list_transform(list_zip(e.embedding, cv),
                           p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                           AS r
                  FROM a1 JOIN embeddings e USING (vec_id)),
          c2 AS (SELECT vec_id AS c2id, r AS rv FROM res
                 WHERE vec_id >= 4 AND vec_id < 8),
          a2 AS (SELECT vec_id, c1id, err1, c2id, err2 FROM (
                   SELECT res.vec_id, c1id, err1, c2id,
                          ${d2Sql("res.r", "rv")} AS err2,
                          row_number() OVER (PARTITION BY res.vec_id
                            ORDER BY ${d2Sql("res.r", "rv")} ASC, c2id) AS rn
                   FROM res CROSS JOIN c2) x WHERE rn = 1)
          SELECT vec_id, CAST(c1id AS BIGINT) AS c1, CAST(c2id AS BIGINT) AS c2,
                 err1, err2
          FROM a2 ORDER BY vec_id"""
    },
    "emb_drift" -> {
      def fold(e: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $e), (a, v) -> a + v)"
      def dotd(a: String, b: String) = fold(
        s"""list_transform(list_zip($a, $b),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))""")
      s"""WITH src AS (SELECT doc_id AS vec_id, source FROM documents),
          ex AS (SELECT source, i - 1 AS pos,
                        CAST(embedding[i] AS DOUBLE) AS xf
                 FROM embeddings JOIN src USING (vec_id), range(1, 65) r(i)),
          means AS (SELECT source, pos,
                           ${graft.core.ExactSql.fsum("xf")} / count(*) AS m
                    FROM ex GROUP BY 1, 2),
          vecs AS (SELECT source, array_agg(m ORDER BY pos) AS v
                   FROM means GROUP BY 1)
          SELECT a.source AS src_a, b.source AS src_b,
                 ${dotd("a.v", "b.v")} /
                   (sqrt(${dotd("a.v", "a.v")}) * sqrt(${dotd("b.v", "b.v")}))
                   AS cos,
                 sqrt(${fold("""list_transform(list_zip(a.v, b.v),
                   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                      * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))""")})
                   AS l2
          FROM vecs a JOIN vecs b ON a.source < b.source
          ORDER BY src_a, src_b"""
    },
    "emb_purity" -> {
      def fs(e: String) = graft.core.ExactSql.fsum(e)
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv
                         FROM embeddings WHERE vec_id < 8),
          scored AS (SELECT e.vec_id, cid,
                            ${dotSql("e.embedding", "cv")} /
                              (${normSql("e.embedding")} * ${normSql("cv")})
                              AS ccos
                     FROM embeddings e CROSS JOIN cents),
          assign AS (SELECT vec_id, cid AS cell FROM (
                       SELECT vec_id, cid,
                              row_number() OVER (PARTITION BY vec_id
                                ORDER BY ccos DESC, cid) AS rn
                       FROM scored) x WHERE rn = 1),
          lab AS (SELECT a.vec_id, cell, lang
                  FROM assign a JOIN documents d ON d.doc_id = a.vec_id),
          cl AS (SELECT cell, lang, count(*) AS m FROM lab GROUP BY 1, 2),
          nt AS (SELECT count(*) AS nn FROM lab),
          pc AS (SELECT cell, max(m) AS mx, sum(m) AS nc FROM cl GROUP BY 1),
          pl AS (SELECT lang, sum(m) AS nl FROM cl GROUP BY 1),
          mi AS (SELECT ${fs("""(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
                   * ln((CAST(m AS DOUBLE) * CAST(nn AS DOUBLE))
                        / (CAST(nc AS DOUBLE) * CAST(nl AS DOUBLE)))""")}
                   AS mi
                 FROM cl JOIN pc USING (cell) JOIN pl USING (lang)
                 CROSS JOIN nt),
          hcv AS (SELECT ${fs("""-((CAST(nc AS DOUBLE) / CAST(nn AS DOUBLE))
                    * ln(CAST(nc AS DOUBLE) / CAST(nn AS DOUBLE)))""")} AS hc
                  FROM pc CROSS JOIN nt),
          hlv AS (SELECT ${fs("""-((CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE))
                    * ln(CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE)))""")} AS hl
                  FROM pl CROSS JOIN nt),
          pur AS (SELECT CAST(sum(mx) AS DOUBLE) / CAST(max(nn) AS DOUBLE)
                    AS purity, count(*) AS n_cells, max(nn) AS nn
                  FROM pc CROSS JOIN nt)
          SELECT nn AS n, n_cells, round(purity, 6) AS purity,
                 round(CAST(2.0 AS DOUBLE) * mi / (hc + hl), 6) AS nmi
          FROM pur CROSS JOIN mi CROSS JOIN hcv CROSS JOIN hlv"""
    },
    "emb_knn_graph" ->
      s"""WITH ${cappedBucketSql(4, ConsumerCap, chain = true)},
          scored AS (
            SELECT x.vec_id AS src, y.vec_id AS dst,
                   ${dotSql("x.embedding", "y.embedding")} /
                     (${normSql("x.embedding")} * ${normSql("y.embedding")}) AS cos
            FROM cb x JOIN cb y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id)
          SELECT src, dst, CAST(rank AS INT) AS rank, cos FROM (
            SELECT src, dst, cos,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY cos DESC, dst) AS rank
            FROM scored) x
          WHERE rank <= 3 ORDER BY src, rank""",
    "emb_semdedup" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                         WHERE vec_id < 8),
          scored AS (
            SELECT e.vec_id, e.embedding, cid,
                   ${dotSql("e.embedding", "cv")} /
                     (${normSql("e.embedding")} * ${normSql("cv")}) AS ccos
            FROM embeddings e CROSS JOIN cents),
          assign AS (
            SELECT vec_id, embedding, cid AS cell FROM (
              SELECT vec_id, embedding, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY ccos DESC, cid) AS rn
              FROM scored) x WHERE rn = 1),
          drops AS (
            SELECT DISTINCT y.vec_id
            FROM assign x JOIN assign y
              ON x.cell = y.cell AND x.vec_id < y.vec_id
            WHERE ${dotSql("x.embedding", "y.embedding")} /
                    (${normSql("x.embedding")} * ${normSql("y.embedding")})
                  >= CAST(0.35 AS DOUBLE))
          SELECT a.vec_id, a.cell,
                 a.vec_id NOT IN (SELECT vec_id FROM drops) AS kept
          FROM assign a ORDER BY a.vec_id""",
    "emb_neardup" ->
      s"""WITH ${cappedBucketSql(4, ConsumerCap, chain = true)}
          SELECT x.vec_id AS da, y.vec_id AS db,
                 ${dotSql("x.embedding", "y.embedding")} /
                   (${normSql("x.embedding")} * ${normSql("y.embedding")}) AS cos
          FROM cb x JOIN cb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE ${dotSql("x.embedding", "y.embedding")} /
                  (${normSql("x.embedding")} * ${normSql("y.embedding")})
                >= CAST(0.35 AS DOUBLE)
          ORDER BY da, db""",
    // greedy rounds unrolled as CTEs (the emb_kmeans convention):
    // p_r = round-r pick, c_r = remaining candidates rescored against
    // the picks so far. greatest()/least() over the per-pick scores
    // mirror the Spark side's — identical doubles in, order-free
    // combine, identical doubles out.
    "emb_mmr" -> {
      def cosSql(a: String, b: String): String =
        s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"
      def msim(r: Int): String = {
        val sims = (1 until r).map(i => cosSql("c.emb", s"p$i.emb"))
        if (sims.size == 1) sims.head else s"greatest(${sims.mkString(", ")})"
      }
      def cte(r: Int): String = {
        val prev = (1 until r).map(i => s"p$i").mkString(", ")
        val notIn = (1 until r).map(i => s"p$i.id").mkString(", ")
        s"""c$r AS (SELECT c.id, c.emb, c.rel, ${msim(r)} AS msim
                    FROM cand c, $prev WHERE c.id NOT IN ($notIn)),
            p$r AS (SELECT id, emb, rel,
                           CAST(0.7 AS DOUBLE) * rel
                             - CAST(0.3 AS DOUBLE) * msim AS score
                    FROM c$r ORDER BY score DESC, id LIMIT 1)"""
      }
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          cand AS (SELECT e.vec_id AS id, e.embedding AS emb,
                          ${cosSql("e.embedding", "qv")} AS rel
                   FROM embeddings e, q WHERE e.vec_id <> 0),
          p1 AS (SELECT id, emb, rel, rel AS score FROM cand
                 ORDER BY rel DESC, id LIMIT 1),
          ${(2 to 4).map(cte).mkString(",\n")}
          ${(1 to 4).map(r =>
            s"SELECT CAST($r AS INT) AS round, id AS vec_id, rel, score FROM p$r")
            .mkString("\nUNION ALL ")}
          ORDER BY round"""
    },
    "emb_kcenter" -> {
      def d2Sql(a: String, b: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                 * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
            (acc, v) -> acc + v)"""
      def mind2(r: Int): String = {
        val ds = (1 until r).map(i => d2Sql("c.emb", s"p$i.emb"))
        if (ds.size == 1) ds.head else s"least(${ds.mkString(", ")})"
      }
      def cte(r: Int): String = {
        val prev = (1 until r).map(i => s"p$i").mkString(", ")
        val notIn = (1 until r).map(i => s"p$i.id").mkString(", ")
        s"""c$r AS (SELECT c.id, c.emb, ${mind2(r)} AS mind2
                    FROM e c, $prev WHERE c.id NOT IN ($notIn)),
            p$r AS (SELECT id, emb, mind2 FROM c$r
                    ORDER BY mind2 DESC, id LIMIT 1)"""
      }
      s"""WITH e AS (SELECT vec_id AS id, embedding AS emb FROM embeddings),
          p1 AS (SELECT id, emb, CAST(0.0 AS DOUBLE) AS mind2 FROM e WHERE id = 0),
          ${(2 to 4).map(cte).mkString(",\n")}
          ${(1 to 4).map(r =>
            s"SELECT CAST($r AS INT) AS round, id AS vec_id, mind2 FROM p$r")
            .mkString("\nUNION ALL ")}
          ORDER BY round"""
    },
    "emb_pca" ->
      s"""$pcaCteSql
          SELECT mu.pos, mu.m AS mu, v[mu.pos + 1] AS v
          FROM mu, v3 ORDER BY pos""",
    "emb_pca_scores" ->
      s"""$pcaCteSql,
          cxq AS (SELECT q.vec_id,
                         list_transform(list_zip(q.embedding, mua.mu),
                           p -> CAST(p[1] AS DOUBLE) - p[2]) AS cx, v
                  FROM (SELECT vec_id, embedding FROM embeddings) q, mua, v3),
          tq AS (SELECT vec_id, cx, v,
                   ${pcaFold("list_transform(list_zip(cx, v), p -> p[1] * p[2])")}
                     AS t
                 FROM cxq)
          SELECT vec_id, t,
                 ${pcaFold("list_transform(list_zip(cx, v), " +
                   "p -> (p[1] - t * p[2]) * (p[1] - t * p[2]))")} AS err
          FROM tq ORDER BY vec_id""",
    "emb_kmeans" -> {
      // squared-L2 as the same left fold the Spark side uses
      def d2Sql(a: String, c: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip($a, $c),
              p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))),
            (acc, v) -> acc + v)"""
      def assignSql(cents: String, out: String): String =
        s"""$out AS (
              SELECT vec_id, embedding, cid AS cell, d2 FROM (
                SELECT s.vec_id, s.embedding, s.cid, s.d2,
                       row_number() OVER (PARTITION BY s.vec_id
                                          ORDER BY s.d2 ASC, s.cid) AS rn
                FROM (SELECT e.vec_id, e.embedding, c.cid,
                             ${d2Sql("e.embedding", "c.cv")} AS d2
                      FROM e CROSS JOIN $cents c) s) x
              WHERE rn = 1)"""
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
          c0 AS (SELECT vec_id AS cid,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                 FROM embeddings WHERE vec_id < 4),
          ${assignSql("c0", "a1")},
          m1 AS (SELECT cell, i - 1 AS pos,
                        ${graft.core.ExactSql.fsum("embedding[i]")} / count(*) AS c
                 FROM a1, range(1, 65) r(i) GROUP BY cell, i),
          c1 AS (SELECT cell AS cid, array_agg(c ORDER BY pos) AS cv
                 FROM m1 GROUP BY cell),
          ${assignSql("c1", "a2")}
          SELECT vec_id, cell, d2 FROM a2 ORDER BY vec_id"""
    },

    "emb_triplets" ->
      s"""WITH a AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
                     FROM embeddings WHERE vec_id < 8),
          sc AS (
            SELECT qid, e.vec_id AS nid, (e.label = qlabel) AS same,
                   ${dotSql("qv", "e.embedding")} /
                     (${normSql("qv")} * ${normSql("e.embedding")}) AS cos
            FROM embeddings e CROSS JOIN a WHERE e.vec_id <> qid),
          p AS (SELECT qid, nid, cos FROM (
                  SELECT qid, nid, cos,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY cos DESC, nid) AS rn
                  FROM sc WHERE same) x WHERE rn = 1),
          n AS (SELECT qid, nid, cos FROM (
                  SELECT qid, nid, cos,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY cos DESC, nid) AS rn
                  FROM sc WHERE NOT same) x WHERE rn = 1)
          SELECT a.qid, p.nid AS pos_id, p.cos AS pos_cos,
                 n.nid AS neg_id, n.cos AS neg_cos,
                 p.cos - n.cos AS margin
          FROM a LEFT JOIN p ON p.qid = a.qid LEFT JOIN n ON n.qid = a.qid
          ORDER BY a.qid""",

    "emb_hardneg" ->
      s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
                     FROM embeddings WHERE vec_id < 8),
          scored AS (
            SELECT qid, e.vec_id AS nid, e.label AS nlabel,
                   ${dotSql("qv", "e.embedding")} /
                     (${normSql("qv")} * ${normSql("e.embedding")}) AS cos
            FROM embeddings e CROSS JOIN q WHERE e.label <> qlabel)
          SELECT qid, nid, nlabel, CAST(rank AS INT) AS rank, cos FROM (
            SELECT qid, nid, nlabel, cos,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, nid) AS rank
            FROM scored) r
          WHERE rank <= 3 ORDER BY qid, rank""",

    "text_rrf" ->
      s"""WITH lexs AS (
            SELECT doc_id,
                   CAST(len(list_filter(
                     list_filter(string_split(text, ' '), t -> t <> ''),
                     t -> t = 'the' OR t = 'data')) AS INT) AS lex
            FROM documents),
          lext AS (SELECT * FROM lexs WHERE lex > 0
                   ORDER BY lex DESC, doc_id LIMIT 50),
          lexr AS (SELECT doc_id,
                          CAST(row_number() OVER (ORDER BY lex DESC, doc_id)
                               AS INT) AS lex_rank
                   FROM lext),
          probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          sems AS (
            SELECT vec_id AS doc_id,
                   ${dotSql("qv", "e.embedding")} /
                     (${normSql("qv")} * ${normSql("e.embedding")}) AS cos
            FROM embeddings e CROSS JOIN probe WHERE e.vec_id <> 0),
          semt AS (SELECT * FROM sems ORDER BY cos DESC, doc_id LIMIT 50),
          semr AS (SELECT doc_id,
                          CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                               AS INT) AS sem_rank
                   FROM semt)
          SELECT doc_id, lex_rank, sem_rank,
                 (coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + lex_rank),
                           CAST(0.0 AS DOUBLE)) +
                  coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + sem_rank),
                           CAST(0.0 AS DOUBLE))) AS rrf
          FROM lexr FULL OUTER JOIN semr USING (doc_id)
          ORDER BY rrf DESC, doc_id LIMIT 20""",
    "emb_binary" ->
      """WITH codes AS (
            -- bit 63 is the BIGINT sign bit: DuckDB's << raises on
            -- 1<<63 (Spark's shiftleft wraps), so it enters as the
            -- min-long literal; the sum of distinct powers of two
            -- (hugeint during list_sum) casts back to the identical
            -- two's-complement BIGINT pattern.
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(0, 64), i ->
                     CASE WHEN embedding[CAST(i + 1 AS INT)] > CAST(0 AS FLOAT)
                          THEN (CASE WHEN i = 63
                                THEN CAST(-9223372036854775808 AS BIGINT)
                                ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END)
                          ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code
            FROM embeddings),
          probes AS (SELECT vec_id AS qid, code AS qcode FROM codes
                     WHERE vec_id < 8),
          scored AS (
            SELECT qid, c.vec_id AS nid,
                   CAST(bit_count(xor(c.code, qcode)) AS INT) AS hamming
            FROM codes c CROSS JOIN probes WHERE c.vec_id <> qid),
          ranked AS (
            SELECT qid, nid, hamming,
                   CAST(row_number() OVER (PARTITION BY qid
                                           ORDER BY hamming, nid) AS INT) AS rank
            FROM scored)
          SELECT qid, rank, nid, hamming FROM ranked
          WHERE rank <= 3 ORDER BY qid, rank""",
    "emb_mrr" -> {
      import graft.core.ExactSql
      def rr(p: Int) =
        s"""rr$p AS (SELECT b.qid,
                            coalesce(max(1.0 / i.rank), CAST(0.0 AS DOUBLE))
                              AS rr
                     FROM (SELECT qid, nid FROM brute
                           WHERE rank = 1 AND qid < 5) b
                     LEFT JOIN ivf$p i ON i.qid = b.qid AND i.nid = b.nid
                     GROUP BY b.qid)"""
      s"""WITH brute AS ($embKnnSql),
          ivf1 AS (${embIvfKnnSql(1)}),
          ivf2 AS (${embIvfKnnSql(2)}),
          ivf4 AS (${embIvfKnnSql(4)}),
          ${rr(1)}, ${rr(2)}, ${rr(4)}
          SELECT count(*) AS n_queries,
                 round(${ExactSql.fsum("rr1.rr")} / count(*), 6) AS mrr_p1,
                 round(${ExactSql.fsum("rr2.rr")} / count(*), 6) AS mrr_p2,
                 round(${ExactSql.fsum("rr4.rr")} / count(*), 6) AS mrr_p4
          FROM rr1 JOIN rr2 USING (qid) JOIN rr4 USING (qid)"""
    },
    "emb_ch_index" -> {
      import graft.core.ExactSql
      def d2f(a: String, b: String) =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip($a, $b),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
                   (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
            (acc, v) -> acc + v)"""
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv
                         FROM embeddings WHERE vec_id < 8),
          scored AS (SELECT e.vec_id, e.embedding, c.cid,
                            ${d2f("e.embedding", "c.cv")} AS d2
                     FROM embeddings e CROSS JOIN cents c),
          assign AS (SELECT vec_id, embedding, cid AS cell FROM (
                       SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cid) AS rn FROM scored) x
                     WHERE rn = 1),
          cm AS (SELECT cell, i,
                        ${ExactSql.fsum("CAST(embedding[i] AS DOUBLE)")}
                          / count(*) AS m
                 FROM assign, range(1, 65) r(i) GROUP BY cell, i),
          cma AS (SELECT cell, list(m ORDER BY i) AS cmv FROM cm GROUP BY 1),
          cn AS (SELECT cell, count(*) AS nc FROM assign GROUP BY 1),
          gm AS (SELECT i,
                        ${ExactSql.fsum("CAST(embedding[i] AS DOUBLE)")}
                          / count(*) AS m
                 FROM assign, range(1, 65) r(i) GROUP BY i),
          gma AS (SELECT list(m ORDER BY i) AS gmv FROM gm),
          sw AS (SELECT ${ExactSql.fsum(d2f("a.embedding", "cmv"))} AS ssw
                 FROM assign a JOIN cma USING (cell)),
          sb AS (SELECT ${ExactSql.fsum(
                   s"CAST(nc AS DOUBLE) * ${d2f("cmv", "gmv")}")} AS ssb,
                        count(*) AS k
                 FROM cma JOIN cn USING (cell) CROSS JOIN gma),
          nt AS (SELECT count(*) AS n FROM assign)
          SELECT k, n, round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
                 round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS ch
          FROM sb CROSS JOIN sw CROSS JOIN nt"""
    },
    "emb_probe" -> {
      import graft.core.ExactSql
      val foldW = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_zip(embedding, w),
          p -> CAST(p[1] AS DOUBLE) * p[2])), (acc, v) -> acc + v)"""
      def wnorm(wk: String) =
        s"""(SELECT round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(w, x -> x * x)), (a, b) -> a + b)), 6) FROM $wk)"""
      def stepCte(k: Int) =
        s"""s$k AS (SELECT embedding, y, ($foldW) - y AS err
                    FROM e CROSS JOIN w$k),
            l$k AS (SELECT $k AS step,
                      round(${ExactSql.fsum("err * err")}
                        / CAST(max(n) AS DOUBLE), 6) AS mse,
                      ${wnorm(s"w$k")} AS wnorm
                    FROM s$k CROSS JOIN nr),
            g$k AS (SELECT i,
                      ${ExactSql.fsum("err * CAST(embedding[i] AS DOUBLE)")}
                        AS gs
                    FROM s$k, range(1, 65) r(i) GROUP BY i),
            w${k + 1} AS (SELECT list(${ExactSql.q6(
                        "w[i] - 30.0 * gs / CAST(n AS DOUBLE)")}
                        ORDER BY i) AS w
                      FROM g$k CROSS JOIN w$k CROSS JOIN nr)"""
      s"""WITH e AS (SELECT embedding,
                    CASE WHEN label = 2 THEN CAST(1.0 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END AS y
                    FROM embeddings),
          nr AS (SELECT count(*) AS n FROM e),
          w0 AS (SELECT list_transform(range(0, 64),
                   x -> CAST(0.0 AS DOUBLE)) AS w),
          ${stepCte(0)}, ${stepCte(1)}, ${stepCte(2)},
          s3 AS (SELECT embedding, y, ($foldW) - y AS err
                 FROM e CROSS JOIN w3),
          l3 AS (SELECT 3 AS step,
                   round(${ExactSql.fsum("err * err")}
                     / CAST(max(n) AS DOUBLE), 6) AS mse,
                   ${wnorm("w3")} AS wnorm
                 FROM s3 CROSS JOIN nr)
          SELECT * FROM l0 UNION ALL SELECT * FROM l1
          UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
          ORDER BY step"""
    },
    "emb_decontam" ->
      s"""WITH bench AS (SELECT vec_id AS bid, embedding AS bv
                         FROM embeddings WHERE vec_id % 97 = 0
                         ORDER BY vec_id LIMIT 64),
          scored AS (
            SELECT e.vec_id, bid,
                   ${dotSql("e.embedding", "bv")} /
                     (${normSql("e.embedding")} * ${normSql("bv")}) AS cos
            FROM embeddings e CROSS JOIN bench WHERE e.vec_id % 97 <> 0),
          ranked AS (
            SELECT vec_id, bid, cos,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, bid) AS rn
            FROM scored)
          SELECT vec_id, bid AS bench_id, cos AS max_cos,
                 cos >= CAST(0.3 AS DOUBLE) AS contaminated
          FROM ranked WHERE rn = 1 ORDER BY vec_id""",
  )
}
