package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorFunctions}

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash-LSH, SimHash. The 100 TB-critical property of every variant:
  * candidate generation is BLOCKED (hash bucket / band / rare shingle),
  * never all-pairs. All hash functions route through TextOps.hash32 so
  * the DuckDB oracle verifies the full signature pipeline bit-for-bit.
  */
object DedupQueries extends GroupBase {

  // MinHash parameters: K hashes in B bands of R rows (K = B*R).
  // Constants live in MinHashParams, shared with the codegen kernel,
  // so the Spark signature and the oracle SQL provably agree.
  import graft.functions.MinHashParams.{P, K, A, B => Bc}
  private val B = 4
  private val R = 4

  /** dd_jaccard / dd_containment's blocked (doc_id, n, sh) relation,
    * factored out so Scaling pair mode's candidate-growth gate measures the
    * SAME generator the queries run (shared shingle width and
    * rare-shingle cap — a change here moves query and gate together,
    * so the gate can never silently attest a stale generator). */
  private[graft] val ShingleN = 3
  private[graft] val ShingleCap = 1000
  private[graft] def blockedShingles(s: SparkSession, d: String): DataFrame =
    graft.operators.ShingleDf.capRare(t(s, d, "documents")
      .withColumn("tk", TextOps.tokens(col("text")))
      .withColumn("hs",
        array_distinct(VectorFunctions.shingleHashes(col("tk"), ShingleN)))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), size(col("hs")).as("n"),
        explode(col("hs")).as("sh")), "sh", ShingleCap)

  /** dd_tfidf_cos's MATERIALIZATION stage, factored out so
    * Scaling pair mode's two-point curve can attribute the query's wall
    * between checkpoint build and pair math (r14 verdict #4). Builds
    * and EAGERLY localCheckpoints:
    *
    *  - `base` — the tokenized corpus: postings, the doc count, and
    *    the shingle candidate branch all re-scan the tokenized corpus
    *    otherwise (three tokenize passes + AQE re-derivations) —
    *    measured 3.26 s -> 2.55 s warm / 6.5 s -> 3.7 s cold at
    *    sf0.1. At deployment this is the tokenized corpus a
    *    production pipeline materializes before any
    *    postings/signature math.
    *  - `wp` — the idf-weighted postings (localCheckpoint → a
    *    LogicalRDD): wp feeds FOUR consumers (norms + both sides of
    *    the pair dot) and its lineage re-runs the tokenize+count
    *    shuffle per consumer otherwise — at deployment this is the
    *    postings table a production pipeline writes to parquet before
    *    any pair math. (.cache() is deliberately NOT used: an
    *    InMemoryRelation blocks AQE's runtime re-planning through the
    *    downstream joins — measured 2.6x worse on graph_domainrank.)
    *
    * Calling this CONSTRUCTS AND EXECUTES both checkpoints (the
    * SparkEntry catalog's constructor-executes contract) — callers
    * that only need the timing should release both frames after via
    * core.Resources.freeCheckpoint (NOT Dataset.unpersist, which is a
    * silent no-op on checkpoint blocks — they live outside the
    * CacheManager). */
  private[graft] def tfidfCheckpoints(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.core.Exact
    val docs = t(s, d, "documents")
    val base = docs.withColumn("tk", TextOps.tokens(col("text")))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"))
      .localCheckpoint()
    val post = base
      .select(col("doc_id"), explode(col("tk")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfr = post.groupBy("w").agg(count(lit(1)).as("df"))
    val nd = base.agg(count(lit(1)).as("nd"))
    val wp = post.join(broadcast(dfr), "w").crossJoin(broadcast(nd))
      .select(col("doc_id"), col("w"),
        Exact.q6(col("tf").cast("double") *
          log(col("nd").cast("double") / col("df").cast("double"))).as("w8"))
      .localCheckpoint()
    (base, wp)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup by content hash: kept = first doc_id per md5 group.
    // Keeper.withKeeper = two-phase hash-agg min + null-safe
    // shuffle-hash join back (see Keeper's scaladoc for why not a
    // window over the content hash, and why <=> matters for NULL text).
    "dd_exact" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"))
      graft.operators.Keeper.withKeeper(docs, col("h"), "doc_id")
        .select(col("doc_id"), (col("doc_id") === col("keeper")).as("kept"))
        .orderBy("doc_id")
    }),

    // n-gram Jaccard near-dup pairs, candidate-blocked by shared
    // 3-gram shingle with a doc-frequency cap (rare-shingle blocking:
    // a shingle appearing in >1000 docs generates no candidates —
    // the safety valve that keeps 100 TB from going quadratic)
    "dd_jaccard" -> ((s, d) => {
      // the (doc, shingle) relation carries h32 HASHES, not strings:
      // the join/count shuffles move BIGINTs (~4× fewer bytes), and
      // both engines hash identically so Jaccard over distinct hashes
      // is oracle-exact.
      // Duplicates only exist WITHIN a document, so array_distinct
      // dedups element-wise (no global distinct exchange) and the doc
      // size is just the array length (no doc-side window). The
      // doc-frequency cap is ShingleDf.capRare: a two-phase count
      // whose partial agg runs below its exchange (the count shuffle
      // carries pre-aggregated (sh, n) rows, never raw occurrences)
      // plus a zero-exchange shuffle-hash anti join, so no partition
      // is ever sorted and a hot shingle costs a streaming merge of
      // per-task partials — never a WindowExec sort + buffer of every
      // occurrence on one task. Accepted price: the count branch is a
      // second (column-pruned, text-only) scan+tokenize — ReuseExchange
      // cannot unify the differently-pruned branches; see ShingleDf's
      // scaladoc for why the one-scan window variant loses at 100 TB.
      // Both candidate-side exchanges ARE reused across the self-join
      // (ReusedExchange x2, verified in PLANS.md).
      val sh = blockedShingles(s, d)
      sh.as("a").join(sh.as("b").hint("shuffle_hash"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .select(col("da"), col("db"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter"))).as("jac"))
        .filter(col("jac") >= 0.2)
        .orderBy("da", "db")
    }),

    // DIRECTED n-gram containment C(A→B) = |S(A)∩S(B)| / |S(A)|: the
    // asymmetric complement of dd_jaccard's symmetric score. A short
    // quote wholly contained in a much longer page has near-zero
    // Jaccard (the union is dominated by the long side) but
    // containment ≈ 1 from the quote's side — this is the signal
    // subset/quote dedup thresholds on. Same 100 TB discipline as
    // dd_jaccard, unchanged: hashes-not-strings shuffles, within-doc
    // array_distinct (no global distinct exchange), ShingleDf.capRare
    // rare-shingle blocking (a hot boilerplate shingle generates no
    // candidates), ReuseExchange on the self-join. The only deltas:
    // the output is BOTH directions of each pair (the score is
    // asymmetric) and the denominator is the SOURCE side's shingle
    // count only. r16 optimization (guide §3, avoid exploding joins):
    // the candidate join runs ONCE per unordered pair (`<`, exactly
    // dd_jaccard's predicate — |S(A)∩S(B)| is symmetric), and the two
    // directed rows unfold AFTER the pair aggregate via one explode
    // over the already-collapsed (da,db) table — half the join output
    // and half the aggregate input vs the former `<>` join, identical
    // result rows.
    "dd_containment" -> ((s, d) => {
      val sh = blockedShingles(s, d)
      sh.as("a").join(sh.as("b").hint("shuffle_hash"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
          col("a.n").as("nx"), col("b.n").as("ny"))
        .agg(count(lit(1)).as("inter"))
        .select(explode(array(
          struct(col("x").as("da"), col("y").as("db"), col("nx").as("na")),
          struct(col("y").as("da"), col("x").as("db"), col("ny").as("na"))))
          .as("p"), col("inter"))
        .select(col("p.da").as("da"), col("p.db").as("db"),
          col("p.na").as("na"), col("inter"),
          (col("inter").cast("double") / col("p.na")).as("cont"))
        .filter(col("cont") >= 0.5)
        .orderBy("da", "db")
    }),

    // MinHash signatures + LSH banding: emit candidate pairs sharing
    // any band, with the fraction of equal minhash components.
    // Signature computation is SHUFFLE-FREE and runs in the codegen'd
    // shingle_minhash kernel (one primitive loop per document — the
    // HOF formulation paid ~0.7 ms/doc of interpreted lambda dispatch),
    // so at 100 TB the only shuffle is the LSH band bucket join —
    // no explode, no groupBy over exploded shingles.
    "dd_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val minhashes = docs
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("ms", VectorFunctions.shingleMinhash(col("tk"), 3))
        .filter(col("ms").isNotNull)
        .select(col("doc_id") +: (0 until K).map(k =>
          element_at(col("ms"), k + 1).as(s"m$k")): _*)
      // carry the full signature through the band rows: the candidate
      // join then yields both signatures directly, avoiding two more
      // shuffled joins back to the signature table (which Catalyst
      // can't dedup — different join keys, no exchange reuse).
      // Band rows come from ONE explode (not a 4-way unionAll whose
      // branches would each re-evaluate the tokenize+shingle+md5
      // signature subtree — 4× the dominant cost); the join's two
      // sides stay plan-identical, so ReuseExchange computes the
      // shuffled band table once.
      val mcols = (0 until K).map(k => col(s"m$k"))
      val bandArr = array((0 until B).map(b =>
        struct(lit(b).as("band"),
          concat_ws("_", (0 until R).map(r => col(s"m${b * R + r}")): _*)
            .as("bkey"))): _*)
      val bands = minhashes
        .withColumn("bb", explode(bandArr))
        .select(Seq(col("doc_id"), col("bb.band").as("band"),
          col("bb.bkey").as("bkey")) ++ mcols: _*)
      val eq = (0 until K).map(k =>
        when(col(s"x.m$k") === col(s"y.m$k"), 1).otherwise(0)).reduce(_ + _)
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          eq.as("n_eq"), (eq.cast("double") / K).as("est"))
        .distinct()
        .orderBy("da", "db")
    }),

    // LSH pipeline QA: recall of the MinHash band-blocking candidates
    // against the exact n-gram Jaccard truth, swept over the
    // similarity threshold — the dedup twin of emb_recall. Production
    // near-dup deploys banding (B bands × R rows fixes the S-curve);
    // this query measures what the curve actually delivers per
    // threshold tier before anyone trusts the candidate set. Pure
    // composition of dd_minhash and dd_jaccard: the corpus-side work
    // is theirs, the sweep re-filters the tiny joined pair table.
    "dd_recall" -> ((s, d) => {
      val truth = queries("dd_jaccard")(s, d).select("da", "db", "jac")
      val cand = queries("dd_minhash")(s, d)
        .select(col("da"), col("db")).withColumn("hit", lit(1))
      val joined = truth.join(cand, Seq("da", "db"), "left")
      // the 3-tier sweep is ONE conditional aggregation pass over the
      // pair table (map-side partials), not three filter+agg branches:
      // ReuseExchange would dedup the branches' shuffles but each
      // would still re-run the join + scan — at 100 TB the pair table
      // is the big intermediate, and it should be read once. The
      // 1-row result then unpivots via explode, so the whole query
      // stays a single lineage.
      val thrs = Seq(0.2, 0.5, 0.8)
      val aggs = thrs.zipWithIndex.flatMap { case (thr, i) => Seq(
        coalesce(sum(when(col("jac") >= thr, 1L).otherwise(0L)), lit(0L))
          .as(s"nt$i"),
        coalesce(sum(when(col("jac") >= thr, coalesce(col("hit"), lit(0)))
          .otherwise(0L)), lit(0L)).cast("long").as(s"nh$i")) }
      val tiers = thrs.zipWithIndex.map { case (thr, i) =>
        struct(lit(thr).as("thr"), col(s"nt$i").as("n_truth"),
          col(s"nh$i").as("n_hit")) }
      joined.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(tiers: _*)).as("r"))
        .select(col("r.thr").as("thr"), col("r.n_truth").as("n_truth"),
          col("r.n_hit").as("n_hit"),
          when(col("r.n_truth") === 0, lit(null).cast("double"))
            .otherwise(col("r.n_hit").cast("double") / col("r.n_truth"))
            .as("recall"))
        .orderBy("thr")
    }),

    // duplicated-substring measure (the span-level complement of the
    // doc-level dedups above): per document, the fraction of its
    // distinct 8-gram shingles that occur in at least one OTHER
    // document. This is the signal substring-level dedup pipelines
    // threshold on — a doc can be globally unique while 80% of its
    // spans are boilerplate copied corpus-wide. NO window, NO raw-row
    // shuffle: ndup = n8 - nuniq, where nuniq counts the doc's
    // shingles whose corpus-wide df == 1. A singleton group has
    // exactly one holder, so max(doc_id) attributes it exactly — df
    // count and attribution collapse into ONE O(1)-state hash agg
    // whose PARTIAL runs below the exchange, so every shuffle in the
    // query carries pre-aggregated rows (at most #distinct-keys per
    // map task), never the exploded (doc, h) relation. Hot 8-grams
    // (long-tailed) cost a streaming merge of per-task partials, not
    // a WindowExec sort + buffer of every occurrence on one task.
    // All shuffles carry BIGINT hashes, never shingle strings.
    "dd_substr" -> ((s, d) => {
      val sh = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("hs",
          array_distinct(VectorFunctions.shingleHashes(col("tk"), 8)))
        .filter(col("hs").isNotNull)
        .select(col("doc_id"), size(col("hs")).as("n8"),
          explode(col("hs")).as("h"))
      val nuniq = sh.groupBy("h")
        .agg(count(lit(1)).as("df"), max("doc_id").as("doc_id"))
        .filter(col("df") === 1)
        .groupBy("doc_id").agg(count(lit(1)).as("nuniq"))
      sh.groupBy("doc_id").agg(max("n8").as("n8"))
        .join(nuniq.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n8"),
          (col("n8") - coalesce(col("nuniq"), lit(0L))).cast("int").as("ndup"))
        .select(col("doc_id"), col("n8"), col("ndup"),
          (col("ndup").cast("double") / col("n8")).as("dupfrac"),
          (col("ndup").cast("double") / col("n8") >= 0.5).as("flagged"))
        .orderBy("doc_id")
    }),

    // chunk-level exact dedup (the CCNet paragraph-dedup analogue at
    // a granularity between dd_exact's whole-doc and dd_substr's
    // 8-gram span): docs split into consecutive 8-token chunks; a
    // chunk content-hash is KEPT only by the lowest doc_id holding it
    // corpus-wide (within-doc repeats collapse to one), and each doc
    // is re-scored by its surviving-chunk fraction — the signal CCNet
    // thresholds on to drop boilerplate-heavy pages. Same hash-agg
    // discipline as dd_substr: keeper attribution is min(doc_id)
    // folded INTO the per-hash count group (O(1) state, partial agg
    // below the exchange), never a window over the exploded relation,
    // and every shuffle carries BIGINT hashes. n_chunks is an
    // expression on the un-exploded row (ceil(n/8)), so the second
    // branch is a narrow pruned scan, not a second explode.
    "dd_chunk" -> ((s, d) => {
      // tk via the Generate barrier: the chunk-hash lambda below
      // CAPTURES tk (slice per position) — inlined tokenization would
      // re-split the text once per chunk (O(len²) on a huge doc; see
      // GroupBase.mat)
      val docs = withTokens(t(s, d, "documents"))
        .filter(size(col("tk")) > 0)
      val ch = docs.select(col("doc_id"),
          explode(transform(
            sequence(lit(0), ceil(size(col("tk")).cast("double") / 8.0)
              .cast("int") - 1),
            i => TextOps.hash32(array_join(
              slice(col("tk"), i * 8 + 1, lit(8)), " ")))).as("h"))
      // one row per (hash): the keeper doc. DISTINCT-free: min(doc_id)
      // both dedups within-doc repeats and attributes the keeper.
      val kept = ch.groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
      docs.select(col("doc_id"),
          ceil(size(col("tk")).cast("double") / 8.0).cast("long").as("n_chunks"))
        .join(kept.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (coalesce(col("n_kept"), lit(0L)).cast("decimal(18,8)") /
            col("n_chunks").cast("decimal(18,8)")).cast("double")
            .as("keep_frac"))
        .orderBy("doc_id")
    }),

    // CONTENT-DEFINED chunking dedup (rsync/LBFS-style): chunk
    // boundaries come from the CONTENT (rolling hash of the last
    // W=4 tokens ≡ 0 mod 16 → expected ~16-token chunks), not from
    // fixed offsets — so an insertion near the top of a document
    // shifts only the chunk it lands in, and every following chunk
    // still hashes identically. Fixed-stride chunking (dd_chunk)
    // re-aligns NOTHING after an insertion; CDC is the
    // shift-resistant variant a byte/token-level dedup pipeline
    // actually deploys. Everything is element-wise per doc (boundary
    // scan, cut points, chunk hashes are array ops inside one
    // projection); the only shuffles are the same two hash-aggs as
    // dd_chunk — no window, no all-pairs, scale shape unchanged.
    "dd_cdc" -> ((s, d) => {
      val W = 4; val MOD = 16
      // The whole boundary-scan + chunk-hash computation is ONE
      // codegen kernel call per row (cdc_chunks — same
      // md5-per-window contract the oracle mirrors). The r12 HOF
      // formulation needed tk/cuts Generate barriers against
      // lambda-capture re-derivation (O(len²)/row; one 500 KB doc =
      // one 25-minute task, see GroupBase.mat) and still paid
      // interpreted per-position slice+join+md5 chains; the kernel
      // takes tokens as an expression ARGUMENT (evaluated once) and
      // loops natively. tk stays behind its barrier, chs behind mat,
      // so no consumer can re-inline either derivation.
      val docs = mat(
        withTokens(t(s, d, "documents")).filter(size(col("tk")) > 0),
        "chs", graft.functions.VectorFunctions.cdcChunks(col("tk"), W, MOD))
      val ch = docs.select(col("doc_id"), explode(col("chs")).as("h"))
      val kept = ch.groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
      docs.select(col("doc_id"), size(col("chs")).cast("long").as("n_chunks"))
        .join(kept.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (coalesce(col("n_kept"), lit(0L)).cast("decimal(18,8)") /
            col("n_chunks").cast("decimal(18,8)")).cast("double")
            .as("keep_frac"))
        .orderBy("doc_id")
    }),

    // SimHash-32 near-dup: signature from 32 token-hash bit votes.
    // Shingle (3-gram) features, not bare tokens — with a tiny
    // vocabulary every doc shares most unigrams and a token-level
    // simhash collapses. Candidates are blocked on the 4 signature
    // bytes: for hamming <= 3, at least one byte must match
    // (pigeonhole), so the blocking is recall-lossless. Hamming filter
    // runs BEFORE the distinct — the byte buckets are skewed and the
    // candidate set dwarfs the survivors.
    // DEDUP-STACK CAPSTONE — the end-to-end KEEP LIST with per-stage
    // attribution, the artifact a curation run actually ships: every
    // doc labeled kept / removed-by-exact / removed-by-near-dup /
    // removed-by-semantic, stages applied in cost order (cheap exact
    // hash first, MinHash-LSH candidates second, embedding SemDeDup
    // last) with first-stage-wins attribution. Near-dup removal drops
    // the HIGHER doc_id of a candidate pair (est >= 0.75) whose lower
    // side survived the exact stage — the same one-pass keep-lower
    // convention as dd_minhash, not a transitive closure (dd_cluster
    // is the transitive view). Pure composition: three already-audited
    // catalog queries plus two hash joins on doc_id.
    "pipe_keepset" -> ((s, d) => {
      val exact = queries("dd_exact")(s, d)
        .select(col("doc_id"), col("kept").as("ex_kept"))
      val near = queries("dd_minhash")(s, d)
        .filter(col("est") >= 0.75).select(col("da"), col("db"))
      val nearRemoved = near
        .join(exact.filter(col("ex_kept")).select(col("doc_id").as("da")), "da")
        .select(col("db").as("doc_id")).distinct()
        .withColumn("near_rm", lit(1))
      val semLosers = EmbeddingQueries.queries("emb_semdedup")(s, d)
        .filter(!col("kept")).select(col("vec_id").as("doc_id"))
        .withColumn("sem_rm", lit(1))
      exact.join(nearRemoved, Seq("doc_id"), "left")
        .join(semLosers, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!col("ex_kept"), "exact")
            .when(col("near_rm").isNotNull, "near_dup")
            .when(col("sem_rm").isNotNull, "semantic")
            .otherwise("kept").as("removed_by"))
        .orderBy("doc_id")
    }),

    // MOSS-style near-dup PAIR DETECTION over winnowing fingerprints
    // (Schleimer et al. 2003 — the plagiarism-detection deployment of
    // the text_winnow primitive): each doc keeps its winnowed (h, pos)
    // picks, and two docs are flagged when they share >= 3 distinct
    // fingerprint hashes — guaranteed to fire for any shared token run
    // of W+K-1 = 6 tokens per fingerprint, while sampling only
    // ~2/(W+1) of the k-gram table. Scale shape mirrors dd_jaccard:
    // the pair join is BLOCKED on the fingerprint hash (never
    // all-pairs), ShingleDf.capRare drops boilerplate fingerprints
    // shared by > 1000 docs before the self-join can square them, and
    // every shuffle carries (doc_id, BIGINT hash) — the fingerprint
    // table is already ~3× smaller than the k-gram table dd_jaccard
    // starts from, which is the whole point of winnowing at 100 TB.
    "dd_winnow" -> ((s, d) => {
      val W = 4; val K = 3
      val fp = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("hs", VectorFunctions.shingleHashes(col("tk"), K))
        .select(col("doc_id"),
          explode(VectorFunctions.winnowFingerprints(col("hs"), W)).as("m"))
        .select(col("doc_id"), col("m.h").as("h")).distinct()
      val capped = graft.operators.ShingleDf.capRare(fp, "h", 1000)
      capped.as("a").join(capped.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy("doc_a", "doc_b")
    }),

    "dd_simhash" -> ((s, d) =>
      simhashPairs(s, d).orderBy("da", "db")),

    // transitive dup-CLUSTER representative: near-dup pairs only say
    // "A~B"; the keep-one rule needs the CONNECTED COMPONENT (A~B~C
    // must keep exactly one). Bounded min-label propagation (3 rounds)
    // over the SimHash edge set: each round every doc takes the min
    // of its own representative and its neighbors' — pure join+agg,
    // no driver-side union-find. 3 rounds close any dup chain of
    // diameter <= 3 (near-dup chains are short by construction; a
    // production run at 100 TB would iterate to fixpoint, persisting
    // labels between rounds instead of growing one lineage).
    "dd_cluster" -> ((s, d) => {
      val pairs = simhashPairs(s, d)
      val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
        .unionByName(pairs.select(col("db").as("src"), col("da").as("dst")))
      var labels = t(s, d, "documents")
        .select(col("doc_id"), col("doc_id").as("rep"))
      for (_ <- 1 to 3) {
        val nbr = edges.join(labels, edges("dst") === labels("doc_id"))
          .groupBy(col("src")).agg(min(col("rep")).as("nrep"))
        labels = labels.join(nbr, labels("doc_id") === nbr("src"), "left")
          .select(col("doc_id"),
            least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
      }
      labels.orderBy("doc_id")
    }),

    // CROSS-SOURCE duplication matrix — which crawls overlap: for
    // every source pair, the number of exact-duplicate DOC PAIRS
    // whose two sides come from those sources (the contamination map
    // that decides which source to drop when mixtures double-count).
    // 100 TB-critical shape: NEVER the naive self-join on the content
    // hash (a viral page with k copies explodes to k² pair rows) —
    // instead per-(hash, source) counts first, then pair counts by
    // the combinatorial identity k·(k−1)/2 within a source and
    // ka·kb across sources. The per-hash join fan-out is bounded by
    // #sources², and every aggregate is an integer hash-agg with
    // map-side partials.
    "dd_crossrc" -> ((s, d) => {
      val ks = t(s, d, "documents")
        .groupBy(md5(col("text")).as("h"), col("source"))
        .agg(count(lit(1)).as("k"))
      val exact = ks.as("a").join(ks.as("b").hint("shuffle_hash"),
          col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          // k·(k−1) is even and « 2^53, so the double floor-halving is
          // exact (Spark/DuckDB integer `/` both promote to double —
          // make the route explicit instead of relying on it)
          when(col("a.source") === col("b.source"),
            floor((col("a.k") * (col("a.k") - 1)).cast("double") / lit(2.0))
              .cast("long"))
            .otherwise(col("a.k") * col("b.k")).as("np"))
        .groupBy("src_a", "src_b")
        .agg(sum(col("np")).as("n_pairs"))
        .filter(col("n_pairs") > 0)
        .select(lit("exact").as("kind"), col("src_a"), col("src_b"),
          col("n_pairs"))
      val src = t(s, d, "documents").select(col("doc_id"), col("source"))
      val near = simhashPairs(s, d)
        .join(src.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
        .join(src.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit("near").as("kind"), col("src_a"), col("src_b"),
          col("n_pairs"))
      exact.unionByName(near).orderBy("kind", "src_a", "src_b")
    }),

    // EXACT shared-substring spans (the "deduplicating training data"
    // exact-substring method, Lee et al. 2021): for each candidate
    // pair, the LONGEST run of consecutive tokens both docs share —
    // the span-level evidence behind span-removal dedup, where
    // dd_substr only scores per-doc duplicated fractions. Seed &
    // extend without per-row iteration: positional 8-gram hash
    // matches land on (pair, diagonal = posA−posB) lines, and a run
    // of k CONSECUTIVE matches on one diagonal == a shared span of
    // k+7 tokens, detected by the gaps-and-islands idiom (pa −
    // row_number per diagonal). 100 TB shape: seeds are hash-blocked
    // (ShingleDf.capRare df<=1000 — boilerplate 8-grams seed
    // nothing); the run window partitions by (pair, diagonal), whose
    // row count is bounded by ONE document's length — never by corpus
    // size or key frequency; all shuffles carry BIGINT hashes and
    // integer positions. Pure integer arithmetic — exact everywhere.
    "dd_spans" -> ((s, d) => {
      val sh = graft.operators.ShingleDf.capRare(
        t(s, d, "documents")
          .withColumn("tk", TextOps.tokens(col("text")))
          .withColumn("hs", VectorFunctions.shingleHashes(col("tk"), 8))
          .filter(col("hs").isNotNull)
          .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h"))),
        "h", 1000)
      val m = sh.as("a").join(sh.as("b").hint("shuffle_hash"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("da", "db", "diag").orderBy("pa")
      m.withColumn("grp", col("pa") - row_number().over(w))
        .groupBy("da", "db", "diag", "grp")
        .agg(count(lit(1)).as("len8"))
        .groupBy("da", "db")
        .agg((max(col("len8")) + lit(7)).cast("int").as("max_span"),
          count(lit(1)).as("n_runs"))
        .filter(col("max_span") >= 12)
        .orderBy("da", "db")
    }),

    // TF-IDF-weighted sparse cosine near-dup — the bag-of-words twin
    // of dd_jaccard: two docs sharing rare, high-idf vocabulary score
    // high even when their shingle SETS barely overlap (paraphrase /
    // reorder robustness the n-gram family lacks). Block on shingles,
    // verify exact: candidates must share a rare (df<=1000,
    // ShingleDf.capRare) 3-gram shingle hash — exactly dd_jaccard's
    // skew-safe candidate generator — and the FULL tf-idf cosine is
    // then computed for candidates only, from the complete postings
    // of both sides. Output = the top-50 most-similar pairs (a
    // threshold is corpus-dependent; the ranked head is what a dedup
    // operator reviews to SET the threshold). 100 TB shape: postings
    // carry (doc, token, tf) — one tokenize pass; idf attaches via a
    // vocab-bounded broadcast; the pair dot is a per-(da,db) fsum
    // hash-agg (order-independent, map-side partials), never a
    // collect; norms are per-doc fsum aggs; top-50 is
    // TakeOrderedAndProject (per-partition heaps). Determinism: the
    // one transcendental (ln in idf) is floor-quantized to 1e-6
    // BEFORE any products, so dot/norm/cosine are exact-grid
    // arithmetic on both engines and the rank order is bit-stable.
    "dd_tfidf_cos" -> ((s, d) => {
      import graft.core.Exact
      val (base, wp) = tfidfCheckpoints(s, d)
      val nrm = wp.groupBy("doc_id")
        .agg(sqrt(Exact.fsum(col("w8") * col("w8"))).as("nrm"))
      val sh = graft.operators.ShingleDf.capRare(base
        .withColumn("hs",
          array_distinct(VectorFunctions.shingleHashes(col("tk"), 3)))
        .filter(col("hs").isNotNull)
        .select(col("doc_id"), explode(col("hs")).as("sh")), "sh", 1000)
      val cand = sh.as("a").join(sh.as("b").hint("shuffle_hash"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      // Pair dot as a DOC-VECTOR merge, not a postings join: wp
      // collapses to one sorted (term, weight) array per doc (state
      // bounded by doc length — shuffles/broadcasts fine at any corpus
      // size), the candidate list picks up both vectors with two
      // doc_id hash joins, and the codegen sparse_dot_q20 kernel
      // two-pointer-merges the sorted arrays — O(|a|+|b|) per pair
      // with NO |cand| x |postings| contribution shuffle and no
      // pair-keyed hash-agg. The kernel's exact long accumulation on
      // the 2^-20 grid is mirrored verbatim in the oracle SQL.
      // Measured at sf0.1 (1.13M candidate pairs): postings-join 6.2 s
      // -> +wp checkpoint 5.4 s -> doc-vector merge kernel 2.8 s.
      val dv = wp.groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("w"), col("w8"))))
          .as("terms"))
      val dots = cand
        .join(dv.select(col("doc_id").as("da"), col("terms").as("ta")),
          Seq("da"))
        .join(dv.select(col("doc_id").as("db"), col("terms").as("tb")),
          Seq("db"))
        .select(col("da"), col("db"),
          VectorFunctions.sparseDot(col("ta"), col("tb")).as("dot"))
      dots
        .join(nrm.select(col("doc_id").as("da"), col("nrm").as("na")), Seq("da"))
        .join(nrm.select(col("doc_id").as("db"), col("nrm").as("nb")), Seq("db"))
        // NULLIF: an ALL-DUPLICATES corpus — the exact input a dedup
        // operator exists for — gives every term idf = ln(1) = 0, so
        // every doc vector and norm is zero and the cosine is 0/0;
        // ANSI throws on the double division, so undefined similarity
        // must read NULL (sorted last), not crash the dedup pass
        // (EdgeExec identical-docs probe, round 10)
        .select(col("da"), col("db"),
          (col("dot") / nullif(col("na") * col("nb"), lit(0.0))).as("cos"))
        .orderBy(col("cos").desc, col("da"), col("db")).limit(50)
    }),

    // INCREMENTAL exact dedup: gate an incoming batch against an
    // already-ingested corpus (the steady-state shape of a 100 TB
    // pipeline — full-corpus re-dedup per crawl snapshot is the thing
    // you must NOT do). Corpus = doc_id % 5 != 0 (the standing index),
    // incoming = doc_id % 5 == 0 (today's batch). The corpus collapses
    // ONCE to a Bloom filter of content hashes (a 16 KB bitset that
    // persists across batches); each incoming doc probes the broadcast
    // bitset — no corpus scan, no shuffle — and only the bloom-POSITIVE
    // sliver pays the exact confirm join (no false negatives, so a
    // bloom miss is proof-new). Same Kirsch-Mitzenmacher K=3/65536
    // construction as agg_bloom, hash32-based so DuckDB replays the
    // bitset bit-for-bit; output = per incoming doc the bloom verdict
    // and the exact verdict (their disagreement rate IS the measured
    // false-positive rate).
    "dd_incremental" -> ((s, d) => {
      val K = 3; val BITS = 65536
      def hb(i: Int, c: Column) =
        pmod(TextOps.hash32(concat(lit("inc:"), c)) * (2 * i + 1)
          + lit(i * 7919), lit(BITS))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val bloom = corpus
        .select(explode(array((0 until K).map(i => hb(i, col("h"))): _*)).as("b"))
        .select((col("b") / 32).cast("int").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))").as("bit"))
        .groupBy("w").agg(expr("bit_or(bit)").as("word"))
      val probed = incoming
        .select(col("doc_id"), col("h"),
          explode(array((0 until K).map(i => hb(i, col("h"))): _*)).as("b"))
        .select(col("doc_id"), col("h"), (col("b") / 32).cast("int").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))").as("bit"))
        .join(broadcast(bloom), Seq("w"), "left")
        .groupBy("doc_id", "h")
        .agg((count(when(coalesce(col("word"), lit(0L))
          .bitwiseAND(col("bit")) =!= 0, 1)) === K).as("bloom_hit"))
      // Exact confirm with the bloom verdict as a RESIDUAL join
      // condition: bloom-negative rows are proof-new and never match
      // (at deployment, `filter(bloom_hit)` before this join is what
      // keeps proof-new rows out of the confirm shuffle; here the
      // residual form keeps one lineage so the bloom builds once).
      val ch = corpus.select(col("h").as("ch")).distinct()
      probed.join(ch,
          probed("h") === col("ch") && col("bloom_hit"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          col("ch").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    }),
  )

  /** SimHash near-dup pairs (hamming <= 3), byte-blocked — the shared
    * edge generator for `dd_simhash` and `dd_cluster`.
    *
    * Signature from the codegen'd shingle_simhash kernel: distinct
    * feature hashes and the 32 bit votes in one pass per document, no
    * shuffle until the block join. distinct is on the HASH (not the
    * shingle string) on both the Spark and oracle side, so intra-doc
    * hash collisions can't diverge the two engines. Block rows come
    * from ONE explode over (block-index, byte) pairs — a 4-way union
    * of per-byte self-joins would re-evaluate the 32-vote signature
    * subtree 8×; here the two join sides are plan-identical and
    * ReuseExchange computes the table once, with the block index as
    * part of the join key. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val sig = docs
      .withColumn("tk", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        VectorFunctions.shingleSimhash(col("tk"), 3).as("sim"))
      .filter(col("sim").isNotNull)
    val keyed = sig
      .withColumn("blk", explode(array((0 until 4).map(b =>
        struct(lit(b).as("bi"),
          shiftright(col("sim"), b * 8).bitwiseAND(255).as("bv"))): _*)))
      .select(col("doc_id"), col("sim"),
        col("blk.bi").as("bi"), col("blk.bv").as("bv"))
    keyed.as("x").join(keyed.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  private def jaccardSql: String =
    s"""WITH sh AS (SELECT DISTINCT doc_id, ${TextOps.hash32Sql("sh")} AS sh
                    FROM ($shinglesSql)),
        rare AS (SELECT sh FROM (SELECT sh, count(*) df FROM sh GROUP BY 1)
                 WHERE df <= 1000),
        shr AS (SELECT doc_id, x.sh FROM sh x JOIN rare USING (sh)),
        sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) inter
                  FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT da, db,
               CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
        FROM pairs JOIN sizes sa ON da = sa.doc_id
                   JOIN sizes sb ON db = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
        ORDER BY da, db"""

  private def minhashSql: String = {
    val h = TextOps.hash32Sql("sh")
    val mins = (0 until K).map(k =>
      s"min((($h) * ${A(k)} + ${Bc(k)}) % $P) AS m$k").mkString(", ")
    val allM = (0 until K).map(k => s"m$k").mkString(", ")
    val bandRows = (0 until B).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws('_', " +
        (0 until R).map(r => s"m${b * R + r}").mkString(", ") +
        s") AS bkey, $allM FROM mh").mkString(" UNION ALL ")
    val eqExpr = (0 until K).map(k =>
      s"CASE WHEN x.m$k = y.m$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sh AS ($shinglesSql),
        mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
        bands AS ($bandRows)
        SELECT DISTINCT x.doc_id da, y.doc_id db, ($eqExpr) AS n_eq,
               CAST(($eqExpr) AS DOUBLE) / $K AS est
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        ORDER BY da, db"""
  }
  // DuckDB-side 3-gram shingles (1-based list indexing)
  private val shinglesSql =
    s"""SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
        FROM (SELECT doc_id, $toksSql AS tk FROM documents) t,
             LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
        WHERE i + 2 <= len(tk)"""

  def oracleSql: Map[String, String] = Map(
    "dd_exact" ->
      """SELECT doc_id,
                doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS kept
         FROM documents ORDER BY doc_id""",
    "dd_jaccard" -> jaccardSql,
    "dd_containment" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, ${TextOps.hash32Sql("sh")} AS sh
                      FROM ($shinglesSql)),
          rare AS (SELECT sh FROM (SELECT sh, count(*) df FROM sh GROUP BY 1)
                   WHERE df <= 1000),
          shr AS (SELECT doc_id, x.sh FROM sh x JOIN rare USING (sh)),
          sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
          pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) inter
                    FROM shr a JOIN shr b
                      ON a.sh = b.sh AND a.doc_id <> b.doc_id
                    GROUP BY 1, 2)
          SELECT da, db, CAST(sa.n AS INT) AS na, inter,
                 CAST(inter AS DOUBLE) / sa.n AS cont
          FROM pairs JOIN sizes sa ON da = sa.doc_id
          WHERE CAST(inter AS DOUBLE) / sa.n >= CAST(0.5 AS DOUBLE)
          ORDER BY da, db""",
    "dd_minhash" -> minhashSql,
    "dd_recall" ->
      s"""WITH truth AS ($jaccardSql),
          cand AS (SELECT da, db, 1 AS hit FROM ($minhashSql)),
          j AS (SELECT t.da, t.db, t.jac, c.hit
                FROM truth t LEFT JOIN cand c USING (da, db)),
          sel AS (SELECT t.thr, count(j.da) AS n_truth,
                         CAST(coalesce(sum(j.hit), 0) AS BIGINT) AS n_hit
                  FROM (VALUES (CAST(0.2 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                               (CAST(0.8 AS DOUBLE))) t(thr)
                       LEFT JOIN j ON j.jac >= t.thr
                  GROUP BY t.thr)
          SELECT thr, n_truth, n_hit,
                 CASE WHEN n_truth = 0 THEN NULL
                      ELSE CAST(n_hit AS DOUBLE) / n_truth END AS recall
          FROM sel ORDER BY thr""",
    "dd_substr" -> {
      // 8-gram shingles: 1-based inclusive slice tk[i : i+7]
      val sh8 =
        s"""SELECT DISTINCT doc_id,
                   ${TextOps.hash32Sql("array_to_string(tk[i : i + 7], ' ')")} AS h
            FROM (SELECT doc_id, $toksSql AS tk FROM documents) t,
                 LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
            WHERE i + 7 <= len(tk)"""
      s"""WITH sh AS ($sh8),
          df AS (SELECT h, count(*) AS df FROM sh GROUP BY 1),
          per AS (SELECT doc_id, count(*) AS n8,
                         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS ndup
                  FROM sh JOIN df USING (h) GROUP BY 1)
          SELECT doc_id, CAST(n8 AS INT) AS n8, CAST(ndup AS INT) AS ndup,
                 CAST(ndup AS DOUBLE) / n8 AS dupfrac,
                 CAST(ndup AS DOUBLE) / n8 >= CAST(0.5 AS DOUBLE) AS flagged
          FROM per ORDER BY doc_id"""
    },
    "dd_chunk" ->
      s"""WITH tkt AS (SELECT doc_id, $toksSql AS tk FROM documents
                       WHERE len($toksSql) > 0),
          ch AS (SELECT doc_id,
                   ${TextOps.hash32Sql(
                     "array_to_string(tk[i * 8 + 1 : i * 8 + 8], ' ')")} AS h
                 FROM tkt,
                      LATERAL (SELECT unnest(range(0,
                        CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS i) r),
          keeper AS (SELECT h, min(doc_id) AS doc_id FROM ch GROUP BY 1),
          kept AS (SELECT doc_id, count(*) AS n_kept FROM keeper GROUP BY 1)
          SELECT t.doc_id,
                 CAST(ceil(len(tk) / 8.0) AS BIGINT) AS n_chunks,
                 CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
                 CAST(CAST(coalesce(n_kept, 0) AS DECIMAL(18,8))
                      / CAST(CAST(ceil(len(tk) / 8.0) AS BIGINT)
                             AS DECIMAL(18,8)) AS DOUBLE) AS keep_frac
          FROM tkt t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""",
    "dd_cdc" ->
      s"""WITH tkt AS (SELECT doc_id, $toksSql AS tk FROM documents
                       WHERE len($toksSql) > 0),
          cut AS (SELECT doc_id, tk,
                    [0] || [i FOR i IN range(4, len(tk) + 1)
                           IF ${TextOps.hash32Sql(
                             "array_to_string(tk[i - 3 : i], ' ')")} % 16 = 0]
                        || [len(tk)] AS cuts
                  FROM tkt),
          chs AS (SELECT doc_id,
                    [${TextOps.hash32Sql(
                      "array_to_string(tk[cuts[j] + 1 : cuts[j + 1]], ' ')")}
                     FOR j IN range(1, len(cuts))
                     IF cuts[j + 1] > cuts[j]] AS chs
                  FROM cut),
          ch AS (SELECT doc_id, unnest(chs) AS h FROM chs),
          keeper AS (SELECT h, min(doc_id) AS doc_id FROM ch GROUP BY 1),
          kept AS (SELECT doc_id, count(*) AS n_kept FROM keeper GROUP BY 1)
          SELECT c.doc_id,
                 CAST(len(chs) AS BIGINT) AS n_chunks,
                 CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
                 CAST(CAST(coalesce(n_kept, 0) AS DECIMAL(18,8))
                      / CAST(CAST(len(chs) AS BIGINT)
                             AS DECIMAL(18,8)) AS DOUBLE) AS keep_frac
          FROM chs c LEFT JOIN kept USING (doc_id) ORDER BY doc_id""",
    "pipe_keepset" -> {
      val semSql = EmbeddingQueries.oracleSql("emb_semdedup")
      s"""WITH ex AS (SELECT doc_id,
                   doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                     AS ex_kept
                 FROM documents),
          near AS (SELECT da, db FROM ($minhashSql)
                   WHERE est >= CAST(0.75 AS DOUBLE)),
          nr AS (SELECT DISTINCT near.db AS doc_id
                 FROM near JOIN ex ON ex.doc_id = near.da AND ex.ex_kept),
          sem AS (SELECT vec_id AS doc_id FROM ($semSql) WHERE NOT kept)
          SELECT e.doc_id,
                 CASE WHEN NOT e.ex_kept THEN 'exact'
                      WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                      WHEN sem.doc_id IS NOT NULL THEN 'semantic'
                      ELSE 'kept' END AS removed_by
          FROM ex e LEFT JOIN nr ON nr.doc_id = e.doc_id
          LEFT JOIN sem ON sem.doc_id = e.doc_id
          ORDER BY e.doc_id"""
    },
    "dd_winnow" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents),
          kg AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                   ${TextOps.hash32Sql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
                 FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
                 WHERE i + 2 <= len(tk)),
          win AS (SELECT a.doc_id, a.pos AS wstart, b.pos, b.h,
                         count(*) OVER (PARTITION BY a.doc_id, a.pos) AS n,
                         row_number() OVER (PARTITION BY a.doc_id, a.pos
                                            ORDER BY b.h, b.pos DESC) AS rn
                  FROM kg a JOIN kg b
                    ON a.doc_id = b.doc_id
                   AND b.pos BETWEEN a.pos AND a.pos + 3),
          fp AS (SELECT DISTINCT doc_id, h FROM win WHERE n = 4 AND rn = 1),
          ok AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 1000),
          fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN ok USING (h))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS n_shared
          FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""",
    "dd_simhash" ->
      s"""$simhashPairsSql
          SELECT da, db, hamming FROM pairs ORDER BY da, db""",
    "dd_cluster" -> {
      // one unrolled min-label round: rep_{i+1}(v) =
      // least(rep_i(v), min over neighbors rep_i(u))
      def round(prev: String, out: String): String =
        s"""$out AS (
              SELECT l.doc_id,
                     least(l.rep, coalesce(min(r.rep), l.rep)) AS rep
              FROM $prev l
              LEFT JOIN edges e ON e.src = l.doc_id
              LEFT JOIN $prev r ON r.doc_id = e.dst
              GROUP BY l.doc_id, l.rep)"""
      s"""$simhashPairsSql,
          edges AS (SELECT da AS src, db AS dst FROM pairs
                    UNION ALL SELECT db, da FROM pairs),
          l0 AS (SELECT doc_id, doc_id AS rep FROM documents),
          ${round("l0", "l1")},
          ${round("l1", "l2")},
          ${round("l2", "l3")}
          SELECT doc_id, rep FROM l3 ORDER BY doc_id"""
    },

    "dd_crossrc" ->
      s"""$simhashPairsSql,
         ks AS (SELECT md5(text) AS h, source, count(*) AS k
                FROM documents GROUP BY 1, 2),
         ex AS (SELECT 'exact' AS kind, src_a, src_b, n_pairs FROM (
                  SELECT a.source AS src_a, b.source AS src_b,
                         CAST(sum(CASE WHEN a.source = b.source
                              THEN CAST(floor(CAST(a.k * (a.k - 1) AS DOUBLE)
                                              / CAST(2.0 AS DOUBLE)) AS BIGINT)
                              ELSE a.k * b.k END) AS BIGINT) AS n_pairs
                  FROM ks a JOIN ks b ON a.h = b.h AND a.source <= b.source
                  GROUP BY 1, 2) x WHERE n_pairs > 0),
         nr AS (SELECT 'near' AS kind,
                       least(sa.source, sb.source) AS src_a,
                       greatest(sa.source, sb.source) AS src_b,
                       count(*) AS n_pairs
                FROM pairs
                JOIN documents sa ON sa.doc_id = pairs.da
                JOIN documents sb ON sb.doc_id = pairs.db
                GROUP BY 1, 2, 3)
         SELECT kind, src_a, src_b, n_pairs FROM ex
         UNION ALL SELECT kind, src_a, src_b, n_pairs FROM nr
         ORDER BY kind, src_a, src_b""",
    "dd_spans" -> {
      val sh8pos =
        s"""SELECT doc_id, CAST(i AS INT) - 1 AS pos,
                   ${TextOps.hash32Sql("array_to_string(tk[i : i + 7], ' ')")} AS h
            FROM (SELECT doc_id, $toksSql AS tk FROM documents) t,
                 LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
            WHERE i + 7 <= len(tk)"""
      s"""WITH sh0 AS ($sh8pos),
          ok AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= 1000),
          sh AS (SELECT sh0.doc_id, sh0.pos, sh0.h FROM sh0 JOIN ok USING (h)),
          m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
                       a.pos - b.pos AS diag
                FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id),
          g AS (SELECT da, db, diag,
                       pa - row_number() OVER (PARTITION BY da, db, diag
                                               ORDER BY pa) AS grp
                FROM m),
          runs AS (SELECT da, db, diag, grp, count(*) AS len8
                   FROM g GROUP BY 1, 2, 3, 4)
          SELECT da, db, CAST(max(len8) + 7 AS INT) AS max_span,
                 count(*) AS n_runs
          FROM runs GROUP BY 1, 2 HAVING max(len8) + 7 >= 12
          ORDER BY da, db"""
    },
    "dd_tfidf_cos" -> {
      val toks = "list_filter(string_split(text, ' '), t -> t <> '')"
      import graft.core.ExactSql
      s"""WITH dtok AS (SELECT doc_id, unnest($toks) AS w FROM documents
                        WHERE len($toks) > 0),
          post AS (SELECT doc_id, w, count(*) AS tf FROM dtok GROUP BY 1, 2),
          dfr AS (SELECT w, count(*) AS df FROM post GROUP BY 1),
          nd AS (SELECT count(*) AS nd FROM documents WHERE len($toks) > 0),
          wp AS (SELECT doc_id, w,
                        ${ExactSql.q6("CAST(tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE))")} AS w8
                 FROM post JOIN dfr USING (w) CROSS JOIN nd),
          nrm AS (SELECT doc_id, sqrt(${ExactSql.fsum("w8 * w8")}) AS nrm
                  FROM wp GROUP BY doc_id),
          shh AS (SELECT DISTINCT doc_id, ${TextOps.hash32Sql("sh")} AS sh
                  FROM ($shinglesSql)),
          rare AS (SELECT sh FROM (SELECT sh, count(*) AS sdf FROM shh GROUP BY 1)
                   WHERE sdf <= 1000),
          shr AS (SELECT doc_id, x.sh FROM shh x JOIN rare USING (sh)),
          cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                   FROM shr a JOIN shr b
                     ON a.sh = b.sh AND a.doc_id < b.doc_id),
          dots AS (SELECT cand.da, cand.db,
                          coalesce(CAST(SUM(CAST(floor(pa.w8 * pb.w8 * 1048576.0)
                                   AS BIGINT)) AS DOUBLE) / 1048576.0, 0.0) AS dot
                   -- LEFT joins: a candidate pair sharing NO terms stays in
                   -- the pool at dot = 0, exactly as the engine's doc-vector
                   -- merge emits it — an inner postings join would rank a
                   -- smaller pool whenever < 50 pairs have positive cosine
                   FROM cand
                   LEFT JOIN wp pa ON pa.doc_id = cand.da
                   LEFT JOIN wp pb ON pb.doc_id = cand.db AND pb.w = pa.w
                   GROUP BY 1, 2)
          SELECT da, db, dot / (na.nrm * nb.nrm) AS cos
          FROM dots
          JOIN nrm na ON na.doc_id = dots.da
          JOIN nrm nb ON nb.doc_id = dots.db
          ORDER BY cos DESC, da, db LIMIT 50"""
    },
    "dd_incremental" -> {
      val h = (i: Int, e: String) => "(" + TextOps.hash32Sql(
        s"'inc:' || $e") + s" * ${2 * i + 1} + ${i * 7919}) % 65536"
      def hashRows(extra: String) =
        (0 until 3).map(i =>
          s"SELECT doc_id, h, ${h(i, "h")} AS hb FROM $extra")
          .mkString(" UNION ALL ")
      s"""WITH docs AS (SELECT doc_id, md5(text) AS h FROM documents),
          corpus AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
          incoming AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
          bh AS (${hashRows("corpus")}),
          bloom AS (SELECT hb // 32 AS w,
                           bit_or(CAST(1 AS BIGINT) << CAST(hb % 32 AS INT)) AS word
                    FROM bh GROUP BY 1),
          ph AS (${hashRows("incoming")}),
          probed AS (
            SELECT doc_id, h,
                   count(CASE WHEN (coalesce(word, 0) &
                     (CAST(1 AS BIGINT) << CAST(hb % 32 AS INT))) <> 0
                     THEN 1 END) = 3 AS bloom_hit
            FROM ph LEFT JOIN bloom ON hb // 32 = w
            GROUP BY 1, 2)
          SELECT p.doc_id, p.bloom_hit,
                 p.bloom_hit AND
                   EXISTS (SELECT 1 FROM corpus c WHERE c.h = p.h) AS is_dup
          FROM probed p ORDER BY doc_id"""
    },
  )

  /** Shared CTE prefix ending in `pairs(da, db, hamming)` — the
    * SimHash near-dup edge set (mirrors `simhashPairs`). */
  private val simhashPairsSql: String = {
    val votes = (0 until 32).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val simExpr = (0 until 32).map(j =>
      s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val blocks = (0 until 4).map(b =>
      s"""SELECT x.doc_id da, y.doc_id db,
                 bit_count(xor(x.sim, y.sim)) AS hamming
          FROM keyed x JOIN keyed y ON x.b$b = y.b$b AND x.doc_id < y.doc_id
          WHERE bit_count(xor(x.sim, y.sim)) <= 3""").mkString(" UNION ")
    s"""WITH tok AS (SELECT DISTINCT doc_id, ${TextOps.hash32Sql("sh")} AS h
                     FROM ($shinglesSql)),
        v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS sim FROM v),
        keyed AS (SELECT doc_id, sim, sim & 255 AS b0, (sim >> 8) & 255 AS b1,
                         (sim >> 16) & 255 AS b2, (sim >> 24) & 255 AS b3
                  FROM sig),
        pairs AS (SELECT da, db, CAST(hamming AS INT) AS hamming FROM ($blocks))"""
  }
}
