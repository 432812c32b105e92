package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.core.{Exact, ExactSql}

/** Text-analysis operators over `documents` — the training-data
  * pipeline surface (driver north star): token stats, quality scoring,
  * language-ID heuristic, token frequencies, content fingerprinting.
  *
  * Every op is element-wise or one hash-aggregate — at 100 TB each is
  * an embarrassingly-parallel scan (no driver-side collection, no
  * UDFs; array higher-order functions are codegen-friendly).
  */
object TextQueries extends GroupBase {

  private val stopwords = Seq("the", "a", "and", "of")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-doc token/char stats (token counting, SURVEY north-star)
    "text_stats" -> ((s, d) => {
      val toks = col("tk") // materialized once; see TextOps.shingles doc
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .select(
          col("doc_id"),
          size(toks).as("n_tok"),
          length(col("text")).as("n_char"),
          size(array_distinct(toks)).as("n_uniq"),
          aggregate(transform(toks, t => length(t)), lit(0),
            (acc, x) => acc + x).as("tok_chars"))
        .orderBy("doc_id")
    }),

    // quality scoring: stopword ratio, type-token ratio, length score
    // (length/punct/stopword heuristics per the driver spec)
    "text_quality" -> ((s, d) => {
      val toks = col("tk")
      val nTok = size(toks)
      // NULLIF: an empty/whitespace-only document has zero tokens —
      // its ratios are undefined (NULL), not an ANSI DIVIDE_BY_ZERO
      // crash (TextExec adversarial-text sweep, round 10)
      val nTokDen = nullif(nTok, lit(0)).cast("decimal(18,8)")
      val nStop = size(filter(toks, t => t.isInCollection(stopwords)))
      val ttr = size(array_distinct(toks)).cast("decimal(18,8)") / nTokDen
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .select(
        col("doc_id"),
        nStop.as("n_stop"),
        (nStop.cast("decimal(18,8)") / nTokDen)
          .cast("double").as("stop_ratio"),
        ttr.cast("double").as("ttr"),
        (nTok >= 20 && nTok <= 90).as("len_ok"))
        .orderBy("doc_id")
    }),

    // Gopher-style quality-rule battery (Rae et al. 2021 appendix A
    // shape, thresholds re-centered on the synthetic corpus so every
    // rule splits the data): per-document metrics, one boolean per
    // rule, and the composed keep flag a curation pipeline thresholds
    // on. Every metric is an element-wise array expression over the
    // one materialized token column — no shuffle but the output sort,
    // so at 100 TB this is an embarrassingly-parallel scan exactly
    // like text_quality. Ratios go through DECIMAL(18,8) before
    // double, the house rule that keeps Spark and DuckDB hashes
    // identical on division results.
    "text_gopher" -> ((s, d) => {
      val tk = col("tk")
      val n = size(tk)
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,8)")
      val meanWlen = (dec(aggregate(transform(tk, t => length(t)), lit(0),
        (a, x) => a + x)) / dec(n)).cast("double")
      val nStop = size(filter(tk, t => t.isInCollection(stopwords)))
      val ttr = (dec(size(array_distinct(tk))) / dec(n)).cast("double")
      // top-token fraction via the token_topcount kernel (one hashmap
      // pass per row — the O(u·n) distinct×filter HOF this replaced
      // was already element-wise, but the kernel keeps long docs
      // linear; same value, text_repetition's discipline)
      val topFrac = (dec(graft.functions.VectorFunctions.tokenTopCount(tk)) /
        dec(n)).cast("double")
      val rLen = n >= 15 && n <= 90
      val rWlen = meanWlen >= 3.8 && meanWlen <= 4.4
      val rStop = nStop >= 2
      val rTtr = ttr >= 0.45
      val rTop = topFrac <= 0.11
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(n > 0)
        .select(col("doc_id"), n.as("n_tok"), meanWlen.as("mean_wlen"),
          nStop.as("n_stop"), ttr.as("ttr"), topFrac.as("top_frac"),
          rLen.as("r_len"), rWlen.as("r_wlen"), rStop.as("r_stop"),
          rTtr.as("r_ttr"), rTop.as("r_top"),
          (rLen && rWlen && rStop && rTtr && rTop).as("keep"))
        .orderBy("doc_id")
    }),

    // language-ID heuristic (n-gram/marker-based): deterministic
    // marker-token vote, compared against the labeled lang column
    "text_langid" -> ((s, d) => {
      val toks = col("tk")
      val guess = when(size(filter(toks, t => t.isInCollection(stopwords))) > 0, "en")
        .otherwise("unk")
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .select(
          col("doc_id"), col("lang"), guess.as("guess"),
          (col("lang") === guess).as("agree"))
        .orderBy("doc_id")
    }),

    // TRAINED language-ID (multinomial naive Bayes — the fastText/
    // langid.py shape, where text_langid is the marker heuristic):
    // per-language Laplace-smoothed token log-probs and document
    // priors are fit on the labeled corpus in one tokenize pass, every
    // doc is scored under every language, and the output is the
    // (actual, predicted) confusion matrix a pipeline owner reads
    // before trusting the classifier. Scale shape: the model — the
    // (lang, token) count table, per-lang totals, vocab size, priors —
    // is (vocab × L)-bounded and broadcasts; scoring expands the
    // per-doc distinct-token relation by L candidate languages
    // (bounded fan-out) and folds per (doc, lang) with a ≤|doc vocab|
    // sorted fold; argmax is a min(struct) hash-agg, no window. Scores
    // round to 6 (ln) BEFORE the argmax so both engines pick the same
    // winner; ties break to the alphabetically-first language.
    "text_langid_nb" -> ((s, d) => {
      // every model table folds out of the ONE (doc,lang,token) count
      // table (dtm): lt re-aggregates its counts, vocab and priors are
      // its projections — no branch goes back to the raw text. The
      // tokenized BASE is materialized once (localCheckpoint): column
      // pruning specializes dtm's subplan per consumer, which defeats
      // runtime exchange reuse (AQE-finalized plan read 11 documents
      // scans, 1 reused exchange), so without the barrier the
      // tokenizer ran per model statistic. Measured at sf0.1 (r13):
      // 1.98 -> 1.71 s steady; checkpointing dtm itself was also
      // tried — bigger state for less win (the explode+partial-agg
      // below the dtm exchange is cheap; the split() above it is not).
      // An InMemoryRelation persist stays a LOSS (blocks AQE).
      val dtm = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("lang"), col("tk"))
        .localCheckpoint()
        .select(col("doc_id"), col("lang"), explode(col("tk")).as("w"))
        .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("m"))
      val lt = dtm.groupBy(col("lang").as("l"), col("w")).agg(sum(col("m")).as("c"))
      val tl = lt.groupBy("l").agg(sum(col("c")).as("t"))
      val vs = lt.agg(countDistinct(col("w")).as("v"))
      val docLang = dtm.select("doc_id", "lang").distinct()
      val pri = docLang.groupBy(col("lang").as("l")).agg(count(lit(1)).as("nd"))
      val nda = pri.agg(sum(col("nd")).as("ndall"))
      val langs = tl.join(pri, "l").crossJoin(broadcast(nda))
        .crossJoin(broadcast(vs))
      val terms = dtm.crossJoin(broadcast(langs))
        .join(broadcast(lt), Seq("l", "w"), "left")
        .select(col("doc_id"), col("lang"), col("l"),
          (col("m").cast("double") *
            log((coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
              (col("t") + col("v")).cast("double"))).as("term"),
          col("nd"), col("ndall"))
      // fsum, not a collect_list fold: |m·ln p| ≤ ~1100 worst-case, so
      // the exact 2^53-grid sum applies after an exact /4 prescale
      // (the agg_bootstrap discipline) — O(1) group state with
      // map-side partials instead of buffering every doc's terms
      val pl = terms
        .groupBy(col("doc_id"), col("lang"), col("l"), col("nd"), col("ndall"))
        .agg(round(
          graft.core.Exact.fsum(col("term") / lit(4.0)) * lit(4.0) +
            log(col("nd").cast("double") / col("ndall").cast("double")), 6)
          .as("w8"))
      pl.groupBy("doc_id", "lang")
        .agg(min(struct(negate(col("w8")).as("nw"), col("l").as("g"))).as("mm"))
        .select(col("lang"), col("mm.g").as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess")
    }),

    // READABILITY proxy (SMOG/Flesch family, sentence-free): mean
    // syllables per word and the polysyllable fraction, from a
    // vowel-group syllable estimate (`[aeiou]+` runs per token — the
    // standard heuristic when no dictionary is available). The corpus
    // has no sentence punctuation, so the sentence-length term of the
    // classic formulas is omitted and the flag thresholds on the two
    // word-level signals. Pure per-row array/regex expressions — one
    // embarrassingly-parallel projection scan; ratios take the
    // DECIMAL(18,8) route (exact cross-engine).
    "text_readability" -> ((s, d) => {
      def syl(t: Column) =
        size(regexp_extract_all(t, lit("[aeiou]+"), lit(0)))
      def dec(c: Column) = c.cast("decimal(18,8)")
      val tk = col("tk")
      val n = size(tk)
      val nSyl = aggregate(transform(tk, t => syl(t)), lit(0), (a, x) => a + x)
      val nPoly = size(filter(tk, t => syl(t) >= 3))
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), n.as("n_tok"), nSyl.as("n_syl"),
          nPoly.as("n_poly"),
          (dec(nSyl) / dec(n)).cast("double").as("syl_per_word"),
          (dec(nPoly) / dec(n)).cast("double").as("poly_frac"),
          ((dec(nSyl) / dec(n)).cast("double") > 1.8 ||
            (dec(nPoly) / dec(n)).cast("double") > 0.1).as("hard"))
        .orderBy("doc_id")
    }),

    // ZIPF-FIT corpus diagnostic: least-squares slope of ln(freq) on
    // ln(rank) over the top-30 token ranks — natural language sits
    // near −1; a synthetic, templated, or spam-heavy corpus drifts
    // flat (toward 0) or cliff-steep, which makes the slope a one-row
    // health check a curation pipeline trends per ingest batch. One
    // tokenize pass collapses to the vocab; the rank window orders a
    // VOCAB-sized post-aggregate table (bounded, the §2.6 global-rank
    // idiom), and the regression sums run over 30 rows via the exact
    // fsum. Slope/intercept round to 6 (ln is transcendental).
    "text_zipf" -> ((s, d) => {
      val K = 30
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("w"))
      val ranked = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(log(col("rank").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
      val kD = lit(K.toDouble)
      ranked.agg(
          Exact.fsum(col("x")).as("sx"), Exact.fsum(col("y")).as("sy"),
          Exact.fsum(col("x") * col("x")).as("sxx"),
          Exact.fsum(col("x") * col("y")).as("sxy"))
        .select(lit(K).as("k"),
          round((kD * col("sxy") - col("sx") * col("sy")) /
            (kD * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") - ((kD * col("sxy") - col("sx") * col("sy")) /
            (kD * col("sxx") - col("sx") * col("sx"))) * col("sx")) / kD, 6)
            .as("intercept"))
    }),

    // corpus token frequencies, top 20 (flatMap/explode + agg;
    // Transform.scala:67-90 flatMap → word count idiom)
    "text_token_freq" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .select(explode(col("tk")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(20)),

    // TF-IDF: per-doc top term by tf-idf weight — the two-stage
    // (per-doc tf × corpus idf) aggregation shape of a 100 TB feature
    // pipeline; idf side is tiny (vocab) and broadcasts
    "text_tfidf" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
      val toks = docs.select(col("doc_id"), size(col("tk")).as("dlen"),
        explode(col("tk")).as("tok"))
      val nDocs = docs.select(countDistinct(col("doc_id")).as("n"))
      val tf = toks.groupBy("doc_id", "dlen", "tok").agg(count(lit(1)).as("tf"))
      // tf already has one row per (doc, tok): document frequency is a
      // row count per tok over it — no second explode+distinct lineage.
      // The tf >= 1 filter is vacuous (counts are positive) but forces
      // this branch to consume the count column: without it, pruning
      // rewrites the inner agg to a bare distinct, the partial-agg
      // exchanges stop being identical, and ReuseExchange re-tokenizes
      // the whole corpus for the df side.
      val df = tf.filter(col("tf") >= 1)
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), "tok").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"),
          round((col("tf").cast("double") / col("dlen")) *
            log(col("n").cast("double") / col("df")), 8).as("w"))
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("doc_id")
        .orderBy(col("w").desc, col("tok"))
      scored.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select("doc_id", "tok", "w")
        .orderBy("doc_id")
    }),

    // unigram-LM quality score: per-doc mean negative log-likelihood
    // under the corpus unigram distribution (the LM-based quality
    // signal of a curation pipeline; low NLL ≈ typical text, high ≈
    // outlier). Two-stage shape: corpus vocab agg (broadcastable),
    // then one per-doc agg. ln() is transcendental (engines differ in
    // the last ulp) → sorted-fold the per-doc sum and round(6).
    "text_lm_nll" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
      // ONE corpus tokenize: aggregate to per-(doc, token) counts
      // first; the corpus vocab then folds out of that table (same
      // ReuseExchange trick as text_tfidf — the m >= 1 filter keeps
      // the two consumers' partial-agg exchanges identical, see the
      // tfidf comment), and the per-doc NLL weights each distinct
      // token by its multiplicity instead of re-joining every token
      // instance. Shuffles carry (doc, distinct-token) rows — smaller
      // than the token stream — and the text column is read once.
      val tf = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("m"))
      val freq = tf.filter(col("m") >= 1)
        .groupBy("tok").agg(sum(col("m")).as("cnt"))
      // total token count folds out of the vocab table — the corpus is
      // not scanned a third time for one scalar
      val total = freq.agg(sum(col("cnt")).as("n"))
      tf.join(broadcast(freq), "tok").crossJoin(broadcast(total))
        .select(col("doc_id"), col("m"),
          (col("m").cast("double") *
            log(col("cnt").cast("double") / col("n").cast("double"))).as("mlnp"))
        .groupBy("doc_id")
        .agg(round(-(aggregate(sort_array(collect_list(col("mlnp"))),
            lit(0.0), (a, v) => a + v) / sum(col("m")).cast("double")), 6)
          .as("nll"))
        .orderBy("doc_id")
    }),

    // per-doc token-distribution Shannon entropy (bits): the
    // model-free diversity signal between text_repetition's fixed
    // n-gram fractions and text_lm_nll's corpus-model NLL — a spam
    // page repeating one phrase scores near 0, varied prose near
    // log2(vocab). Needs NO corpus statistics, so unlike lm_nll there
    // is no broadcast join: one tokenize, one (doc, distinct-token)
    // count agg (partial below the exchange), one per-doc agg.
    // Identity H = ln(n) - (1/n)·Σ m·ln(m), all in nats then one
    // /ln(2), avoids needing p=m/n before the per-doc total n is
    // known — a single agg instead of two. ln() is transcendental
    // (engines differ in the last ulp) → per-doc sorted-fold of the
    // m·ln(m) terms + round(6), the text_lm_nll discipline; the fold
    // state is one doc's distinct-token terms, bounded by doc vocab.
    "text_entropy" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("m"))
      val n = sum(col("m")).cast("double")
      tf.select(col("doc_id"), col("m"),
          (col("m").cast("double") * log(col("m").cast("double"))).as("mlm"))
        .groupBy("doc_id")
        .agg(sum(col("m")).as("n"), count(lit(1)).as("k"),
          round((log(n) - aggregate(sort_array(collect_list(col("mlm"))),
              lit(0.0), (a, v) => a + v) / n) / log(lit(2.0)), 6)
            .as("ent"))
        .orderBy("doc_id")
    }),

    // bigram-LM quality score (perplexity-filter shape, one level
    // deeper than text_lm_nll): per-doc mean -ln P(w_i | w_{i-1})
    // with ML estimates from corpus counts. Context count derives
    // from the bigram table itself (sum over bigrams sharing the
    // first token) — no second corpus pass. Both count tables are
    // vocabulary-sized → broadcast; ln() is transcendental so the
    // per-doc sum is a sorted fold and rounds to 6.
    "text_lm_bigram" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("bg",
          graft.functions.VectorFunctions.shingleStrings(col("tk"), 2))
        .filter(col("bg").isNotNull)
      // ONE corpus tokenize+shingle (same shape as text_lm_nll): the
      // per-(doc, bigram) table is the shared lineage; corpus bigram
      // counts fold out of it and the per-doc score weights each
      // distinct bigram by its in-doc multiplicity.
      val bgd = docs.select(col("doc_id"), explode(col("bg")).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("m"))
      val bgf = bgd.filter(col("m") >= 1)
        .groupBy("b").agg(sum(col("m")).as("cb"))
      val ctxf = bgf.groupBy(substring_index(col("b"), " ", 1).as("w1"))
        .agg(sum(col("cb")).as("cc"))
      // fold the context count INTO the bigram table first (both are
      // vocabulary-sized): the corpus-scale bigram rows then pay ONE
      // broadcast join instead of two
      val bgcc = bgf.withColumn("w1", substring_index(col("b"), " ", 1))
        .join(ctxf, "w1").select(col("b"), col("cb"), col("cc"))
      bgd.join(broadcast(bgcc), "b")
        .select(col("doc_id"), col("m"),
          (col("m").cast("double") *
            log(col("cb").cast("double") / col("cc").cast("double"))).as("mlnp"))
        .groupBy("doc_id")
        .agg(round(-(aggregate(sort_array(collect_list(col("mlnp"))),
            lit(0.0), (a, v) => a + v) / sum(col("m")).cast("double")), 6)
          .as("nll2"))
        .orderBy("doc_id")
    }),

    // Interpolated KNESER-NEY bigram scoring — the smoothing KenLM
    // (and therefore the CCNet perplexity filter) actually uses, where
    // text_lm_bigram is the unsmoothed MLE: P(w2|w1) =
    // (c(w1w2)−D)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··) with
    // absolute discount D = 0.75; the continuation probability
    // N1+(·w2)/N1+(··) scores a word by how many CONTEXTS it follows,
    // not how often — the insight that makes KN the strongest n-gram
    // smoother. Scale shape identical to text_lm_bigram: ONE corpus
    // tokenize+shingle; every KN statistic (bigram counts, context
    // totals, left/right continuation type counts, grand type count)
    // folds out of the vocab-sized bigram table, the assembled
    // probability table broadcasts back to the corpus-scale
    // (doc, bigram) relation, and the per-doc NLL is the sorted fold
    // rounded to 6 (ln is transcendental).
    "text_kneser" -> ((s, d) => {
      val D = 0.75
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("bg",
          graft.functions.VectorFunctions.shingleStrings(col("tk"), 2))
        .filter(col("bg").isNotNull)
      val bgd = docs.select(col("doc_id"), explode(col("bg")).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("m"))
      val bgf = bgd.groupBy("b").agg(sum(col("m")).as("cb"))
        .withColumn("w1", substring_index(col("b"), " ", 1))
        .withColumn("w2", substring_index(col("b"), " ", -1))
      val cc = bgf.groupBy("w1")
        .agg(sum(col("cb")).as("cc"), count(lit(1)).as("n1r"))
      val n1l = bgf.groupBy("w2").agg(count(lit(1)).as("n1l"))
      val nb = bgf.agg(count(lit(1)).as("nb"))
      val tbl = bgf.join(cc, "w1").join(n1l, "w2")
        .crossJoin(broadcast(nb))
        .select(col("b"),
          ((col("cb").cast("double") - lit(D)) / col("cc").cast("double") +
            (lit(D) * col("n1r").cast("double")) / col("cc").cast("double") *
              (col("n1l").cast("double") / col("nb").cast("double"))).as("p"))
      bgd.join(broadcast(tbl), "b")
        .select(col("doc_id"), col("m"),
          (col("m").cast("double") * log(col("p"))).as("mlnp"))
        .groupBy("doc_id")
        .agg(round(-(aggregate(sort_array(collect_list(col("mlnp"))),
            lit(0.0), (a, v) => a + v) / sum(col("m")).cast("double")), 6)
          .as("nll_kn"))
        .orderBy("doc_id")
    }),

    // top collocations by pointwise mutual information over the
    // corpus bigram distribution — the phrase-mining signal a
    // tokenizer/vocab builder uses to decide which pairs deserve a
    // merged token ("new york" scores high, "of the" near 0). PMI =
    // ln(P(a,b) / (P(a,·)·P(·,b))) with margins taken from the
    // bigram table itself (first-word / second-word sums), so the
    // corpus is tokenized ONCE; a count floor kills the noise at the
    // rare tail (PMI's known failure mode).
    // Scale shape: the token stream collapses to vocab²-bounded
    // bigram counts (partial agg below the exchange); margins and the
    // grand total re-aggregate the COUNT table, not the corpus, and
    // broadcast back. The double products inside ln() are IEEE-
    // identical on both engines but ln is transcendental → round(6)
    // BEFORE the rank, ties broken by the words themselves; top-50 is
    // a TakeOrderedAndProject, never a global sort materialization.
    "text_pmi" -> ((s, d) => {
      val bg = t(s, d, "documents")
        .select(graft.functions.VectorFunctions.shingleStrings(
          TextOps.tokens(col("text")), 2).as("bgs"))
        .filter(col("bgs").isNotNull)
        .select(explode(col("bgs")).as("b"))
      val cnt = bg.groupBy("b").agg(count(lit(1)).as("n_ab"))
      val w = cnt.select(col("b"), col("n_ab"),
        substring_index(col("b"), " ", 1).as("w1"),
        substring_index(col("b"), " ", -1).as("w2"))
      val ca = w.groupBy("w1").agg(sum(col("n_ab")).as("ca"))
      val cb = w.groupBy("w2").agg(sum(col("n_ab")).as("cb"))
      val tot = cnt.agg(sum(col("n_ab")).as("nb"))
      w.join(broadcast(ca), "w1").join(broadcast(cb), "w2")
        .crossJoin(broadcast(tot))
        .filter(col("n_ab") >= 5)
        .select(col("w1"), col("w2"), col("n_ab"),
          round(log(col("n_ab").cast("double") * col("nb").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double"))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    }),

    // deterministic train/val/test split (80/10/10) by salted content
    // hash — the reproducible-split primitive of a training pipeline.
    // Hash-mod, not rand(): same rows land in the same split on any
    // cluster size, re-run, or engine (the oracle reproduces it).
    // GROUP-aware split (GroupKFold / dedup-aware eval hygiene): a
    // doc-hash split (pipe_split) puts exact duplicates on BOTH sides
    // of the train/test fence — the eval then "generalizes" to rows
    // it memorized. Splitting on the hash of the CONTENT GROUP
    // (md5(text): every duplicate shares it) pins each dup cluster to
    // one fold by construction. The query emits the group-aware split
    // stats AND the leakage audit of the naive doc split — the number
    // of content groups straddling folds, i.e. exactly what this
    // operator eliminates. Shape: one (group) hash-agg for the audit,
    // one split-keyed agg for the stats, a 1-row audit broadcast.
    "pipe_groupsplit" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("h"))
        .withColumn("dsp", pmod(TextOps.hash32(
          concat(lit("split:"), col("doc_id").cast("string"))), lit(100)))
        .withColumn("gsp", pmod(TextOps.hash32(
          concat(lit("gsplit:"), col("h"))), lit(100)))
      def name(c: org.apache.spark.sql.Column) =
        when(c < 80, "train").when(c < 90, "val").otherwise("test")
      val leak = base
        .groupBy("h").agg(countDistinct(name(col("dsp"))).as("nsp"))
        .agg(sum(when(col("nsp") > 1, 1L).otherwise(0L))
          .as("leaked_groups_docsplit"))
      base.groupBy(name(col("gsp")).as("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_groups"),
          sum(col("n_chars").cast("decimal(38,0)"))
            .try_cast("long").as("n_chars"))
        .crossJoin(broadcast(leak))
        .orderBy("split")
    }),

    "pipe_split" -> ((s, d) => {
      val h = pmod(TextOps.hash32(
        concat(lit("split:"), col("doc_id").cast("string"))), lit(100))
      t(s, d, "documents")
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          // DECIMAL(38,0) + try_cast: sentinel-polluted n_chars
          // (MaxValue markers) overflow the plain BIGINT sum under
          // ANSI (NumExec sweep, round 10); exact on clean data
          sum(col("n_chars").cast("decimal(38,0)"))
            .try_cast("long").as("n_chars"))
        .orderBy("lang", "split")
    }),

    // stratified sampling with per-language rates (downsample the
    // dominant language, keep the rest) — hash-bucketed, so the
    // sample is deterministic and re-runnable at any scale
    "pipe_sample" -> ((s, d) => {
      val bucket = pmod(TextOps.hash32(
        concat(lit("sample:"), col("doc_id").cast("string"))), lit(100))
      val rate = when(col("lang") === "en", 20).otherwise(50)
      t(s, d, "documents")
        .filter(bucket < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Z-ORDER layout (multi-dimensional clustering): quantize two
    // pruning dimensions to 8 bits each — document length and
    // type-token ratio — and bit-interleave them into a 16-bit
    // z-value; rows sorted/sharded by z cluster BOTH dimensions, so a
    // parquet layout written in z-order serves min/max-pruned scans on
    // either column (the standard lakehouse technique for 100 TB
    // tables with two hot filter columns). The interleave is the
    // classic shift-or-mask bit spread — pure integer ops, exact in
    // both engines; the shard is the top 6 z bits (64 z-range files).
    "pipe_zorder" -> ((s, d) => {
      def spread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val m1 = c.bitwiseAND(lit(0xFF))
        val m2 = (m1.bitwiseOR(shiftleft(m1, 4))).bitwiseAND(lit(0x0F0F))
        val m3 = (m2.bitwiseOR(shiftleft(m2, 2))).bitwiseAND(lit(0x3333))
        m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x5555))
      }
      val tk = col("tk")
      // NULLIF: zero tokens -> NULL ttr quantile -> NULL z/shard, not
      // an ANSI DIVIDE_BY_ZERO crash (TextExec sweep, round 10)
      val ttr = (size(array_distinct(tk)).cast("decimal(18,8)") /
        nullif(size(tk), lit(0)).cast("decimal(18,8)")).cast("double")
      t(s, d, "documents")
        .withColumn("tk", graft.functions.TextOps.tokens(col("text")))
        .select(col("doc_id"),
          greatest(least(floor(col("n_chars") / 16), lit(255)), lit(0)).cast("int").as("q_len"),
          floor(ttr * 255).cast("int").as("q_ttr"))
        .withColumn("z",
          shiftleft(spread(col("q_len")), 1).bitwiseOR(spread(col("q_ttr"))))
        .withColumn("shard", shiftright(col("z"), 10))
        .orderBy("doc_id")
    }),

    // URL canonicalization + domain blocklist + URL-dedup (the web
    // half of a curation pipeline: Common-Crawl-style corpora dedup by
    // canonical URL and drop blocked domains before any text pass).
    // The testdata has no URL column, so a deterministically MESSY url
    // is synthesized per document (case noise, optional WWW, utm_*
    // tracking params, fragments — same fake-source convention as
    // mm_*); the normalization is the real operator and is pure
    // element-wise column work: lowercase scheme/host, strip www.,
    // drop utm_* query params via split->filter->rejoin (no regex
    // backtracking semantics to diverge cross-engine), drop the
    // fragment. Dedup = min doc_id per canonical URL (hash-partition
    // on the canonical string); blocklist is a tiny IN list (broadcast
    // at scale).
    "pipe_urlnorm" -> ((s, d) => {
      val id = col("doc_id")
      val rawUrl = concat(
        when(id % 2 === 0, "https").otherwise("HTTPS"), lit("://"),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
        when(id % 5 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".example.com/doc/"), (id % 50).cast("string"),
        lit("?utm_source=feed&id="), (id % 7).cast("string"),
        when(id % 4 === 0, lit("&utm_campaign=x")).otherwise(lit("")),
        when(id % 2 === 0, lit("#sec")).otherwise(lit("")))
      val noFrag = substring_index(rawUrl, "#", 1)
      val qsplit = split(noFrag, "\\?")
      val base = element_at(qsplit, 1)
      val query = when(size(qsplit) > 1, element_at(qsplit, 2)).otherwise(lit(""))
      val keptParams = array_join(
        filter(split(query, "&"), p => !p.startsWith("utm_")), "&")
      val scheme = lower(substring_index(base, "://", 1))
      val hostPath = element_at(split(base, "://"), 2)
      val hostRaw = substring_index(hostPath, "/", 1)
      val host = regexp_replace(lower(hostRaw), lit("^www\\."), lit(""))
      val path = hostPath.substr(length(hostRaw) + lit(1), length(hostPath))
      val canon = concat(scheme, lit("://"), host, path,
        when(keptParams =!= "", concat(lit("?"), keptParams)).otherwise(lit("")))
      // keeper = min doc_id per canonical URL via Keeper.withKeeper
      // (two-phase hash-agg + null-safe shuffle-hash join back — see
      // Keeper's scaladoc for the hot-URL and NULL-key rationale)
      val urls = t(s, d, "documents")
        .select(id, canon.as("canon"), host.as("domain"))
        .withColumn("blocked", col("domain").isin("src3.example.com"))
      graft.operators.Keeper.withKeeper(urls, col("canon"), "doc_id")
        .withColumn("kept", !col("blocked") && col("doc_id") === col("keeper"))
        .select("doc_id", "canon", "domain", "blocked", "kept")
        .orderBy("doc_id")
    }),

    // exactly-k-per-stratum deterministic sample (the fixed-BUDGET
    // complement of pipe_sample's fixed-RATE thinning): per (lang,
    // source) stratum, the k docs with the smallest salted hash — a
    // uniform random draw that any cluster size / re-run / engine
    // reproduces, with a hard per-stratum row guarantee (evaluation
    // sets, human-review pools). The per-stratum top-k is a
    // WindowGroupLimit: partitions stream, no stratum ever
    // materializes beyond k rows per partition before the shuffle.
    "pipe_ksample" -> ((s, d) => {
      val h = TextOps.hash32(
        concat(lit("ksample:"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source")
        .orderBy(col("h").asc, col("doc_id").asc)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), h.as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("lang", "source", "rk", "doc_id")
        .orderBy("lang", "source", "rk")
    }),

    // chi-square test of independence between lang and source — the
    // third leg of the statistical-QC family (agg_ab's z-test for a
    // designed split, text_ks for one numeric signal across two
    // groups, chi2 for two categoricals: "is language mix independent
    // of source?"). chi2 = sum over cells of (o - e)^2/e with
    // e = rowTot*colTot/N; emitted with the table shape (r, c, df) so
    // the consumer picks the critical value.
    // Scale shape: ONE corpus pass collapses to the R x C contingency
    // cells; margins re-aggregate the CELLS (not the corpus) and
    // broadcast back. The cell terms are exact doubles but their SUM
    // is order-sensitive, so it runs as the bounded sorted-fold
    // (collect_list state = R x C cells, text_entropy discipline) +
    // round(6); margins multiply as doubles (bigint product would
    // overflow at extreme counts, the text_ks lesson).
    "text_chi2" -> ((s, d) => {
      val cells = t(s, d, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("lang").agg(sum(col("o")).as("rl"))
      val cols = cells.groupBy("source").agg(sum(col("o")).as("cs"))
      val n = cells.agg(sum(col("o")).as("n"))
      val e = col("rl").cast("double") * col("cs").cast("double") /
        col("n").cast("double")
      val od = col("o").cast("double")
      cells.join(broadcast(rows), "lang").join(broadcast(cols), "source")
        .crossJoin(broadcast(n))
        .select(col("lang"), col("source"), col("n"),
          ((od - e) * (od - e) / e).as("term"))
        .groupBy("n")
        .agg(countDistinct(col("lang")).as("r"),
          countDistinct(col("source")).as("c"),
          round(aggregate(sort_array(collect_list(col("term"))),
            lit(0.0), (a, v) => a + v), 6).as("chi2"))
        .select(col("n"), col("r"), col("c"),
          ((col("r") - 1) * (col("c") - 1)).as("df"), col("chi2"))
    }),

    // two-sample Kolmogorov-Smirnov drift test between two sources'
    // token-count distributions — the QC a mixture builder runs
    // before folding a new crawl snapshot in ("did this source's
    // length profile shift?"). KS = max_v |F1(v) - F2(v)|, drift at
    // the 5% critical value 1.358*sqrt((n1+n2)/(n1*n2)).
    // Scale shape: the corpus collapses to a (n_tok, c1, c2)
    // histogram in ONE pass (bounded by distinct integer token
    // counts, not rows); the CDFs come from a triangular <= self-join
    // of that broadcast-tiny histogram — NOT a global-partition
    // window, which the catalog-wide plan audit forbids (WindowExec
    // would put the whole CDF on one task; here the hist is provably
    // tiny so the BNLJ is the deliberate-broadcast class). No
    // rounding needed anywhere: counts are integers, the ratios and
    // |diffs| are exact doubles, and IEEE sqrt is correctly rounded,
    // so both engines agree bit-for-bit.
    "text_ks" -> ((s, d) => {
      val b = t(s, d, "documents")
        .filter(col("source").isin("src1", "src2"))
        .select(col("source"), size(TextOps.tokens(col("text"))).as("n_tok"))
      val h = b.groupBy("n_tok").agg(
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"),
        sum(when(col("source") === "src2", 1L).otherwise(0L)).as("c2"))
      val tot = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val cdf = h.as("x").join(broadcast(h.as("y")),
          col("y.n_tok") <= col("x.n_tok"))
        .groupBy(col("x.n_tok"))
        .agg(sum(col("y.c1")).as("f1"), sum(col("y.c2")).as("f2"))
      // NULLIF on the group sizes: an empty source must yield NULL on
      // BOTH engines (unguarded, Spark x/0 is NULL where DuckDB
      // follows IEEE inf — the emb_sq8 divergence class)
      cdf.crossJoin(broadcast(tot))
        .groupBy("n1", "n2")
        .agg(max(abs(
          col("f1").cast("double") / nullif(col("n1"), lit(0L)) -
          col("f2").cast("double") / nullif(col("n2"), lit(0L)))).as("ks"))
        .select(col("n1"), col("n2"), col("ks"),
          // n1*n2 multiplies as DOUBLE: a bigint product overflows
          // past ~3e9 docs per source, a double (exact under 2^53
          // per factor) does not — and both engines IEEE-agree
          (col("ks") > lit(1.358) *
            sqrt((col("n1") + col("n2")).cast("double") /
              (col("n1").cast("double") * col("n2").cast("double"))))
            .as("drifted"))
    }),

    // Mann–Whitney U rank-sum drift test (the nonparametric
    // LOCATION-shift companion to text_ks's max-CDF-gap): are src1's
    // token counts systematically larger/smaller than src2's? Same
    // 100 TB discipline as text_ks: the corpus collapses to a bounded
    // integer histogram in ONE pass, cumulative counts come from a
    // broadcast triangular join over the histogram (never a global
    // rank window over rows), and the midrank sum uses the 2·R1
    // integer identity in exact DECIMAL(38,0) — rank products reach
    // ~n² and the tie cubes ~c³, both past 2^63 near ~3e9 docs per
    // source (the graph_assortativity overflow class, round-10
    // audit), so the factors lift to decimal BEFORE the multiplies;
    // the rank sum stays exact integer arithmetic, order-independent,
    // no fsum needed.
    // Tie-corrected normal approximation; σ=0 (all values tied)
    // nullifies z on both engines.
    "text_mannwhitney" -> ((s, d) => {
      val b = t(s, d, "documents")
        .filter(col("source").isin("src1", "src2"))
        .select(col("source"), size(TextOps.tokens(col("text"))).as("n_tok"))
      val h = b.groupBy("n_tok").agg(
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"),
        sum(when(col("source") === "src2", 1L).otherwise(0L)).as("c2"))
      val tot = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val cum = h.as("x").join(broadcast(h.as("y")),
          col("y.n_tok") < col("x.n_tok"), "left")
        .groupBy(col("x.n_tok"), col("x.c1"), col("x.c2"))
        .agg(coalesce(sum(col("y.c1") + col("y.c2")), lit(0L)).as("fb"))
      val dec0 = "decimal(38,0)"
      val tt = (col("c1") + col("c2")).cast(dec0)
      val terms = cum.select(
        (col("c1").cast(dec0) *
          (lit(2L) * col("fb") + col("c1") + col("c2") + lit(1L)))
          .as("r2x"),
        (tt * tt * tt - tt).as("t3t"))
        .agg(sum(col("r2x")).as("r2x"), sum(col("t3t")).as("tcorr"))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = n1d + n2d
      val u1 = col("r2x").cast("double") / lit(2.0) -
        n1d * (n1d + lit(1.0)) / lit(2.0)
      val mu = n1d * n2d / lit(2.0)
      val sig2 = n1d * n2d / lit(12.0) *
        // NULLIF: the tie correction divides by n(n-1), zero when the
        // two sources hold a single doc total (EdgeExec sweep, r10);
        // the z NULLIF below already covers sigma = 0
        ((nd + lit(1.0)) - col("tcorr").cast("double") /
          nullif(nd * (nd - lit(1.0)), lit(0.0)))
      val z = (u1 - mu) / nullif(sqrt(sig2), lit(0.0))
      terms.crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"), u1.as("u1"), z.as("z"),
          (abs(z) > lit(1.96)).as("shifted"))
    }),

    // robust per-language outlier detection (median/MAD, the data-QC
    // gate that flags anomalous documents without assuming
    // normality): dev = |n_tok - median|, outlier when
    // dev > 3 * 1.4826 * MAD (1.4826 scales MAD to sigma under a
    // normal reference). Mean/stddev z-scores break exactly when
    // outliers are present; median/MAD does not.
    // Scale shape: Spark's exact `percentile` aggregates a value ->
    // count map, so per-group state is O(distinct token counts) — an
    // integer signal with bounded range — not O(rows), and the map is
    // a map-side partial. The two stats tables are per-lang rows,
    // broadcast back; the corpus lineage is re-derived per pass
    // (persist between passes at 100 TB — the pipe_ccnet trade).
    // med/MAD interpolate on the integer grid (exact in double), dev
    // and the threshold derive identically on both engines, so the
    // boolean is engine-exact with no rounding needed.
    "text_outliers" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).as("n_tok"))
      val med = base.groupBy("lang")
        .agg(expr("percentile(n_tok, 0.5)").as("med"))
      val dev = base.join(broadcast(med), "lang")
        .withColumn("dev", abs(col("n_tok") - col("med")))
      val mad = dev.groupBy("lang")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "lang")
        .select(col("doc_id"), col("lang"), col("n_tok"), col("med"),
          col("mad"), col("dev"),
          (col("dev") > lit(3.0) * lit(1.4826) * col("mad")).as("outlier"))
        .orderBy("doc_id")
    }),

    // WEIGHTED sampling without replacement (priority/A-ExpJ shape):
    // draw k=100 docs with inclusion probability proportional to
    // token count — the draw a mixture builder uses when "sample 1%
    // of tokens" must not over-represent short documents. Each doc
    // gets priority ln(u)/w (u = salted-hash uniform in (0,1],
    // w = n_tok); the k LARGEST priorities are exactly an
    // exponential-race draw ∝ w. Deterministic: u is hash-derived, so
    // any cluster size / re-run / engine reproduces the same sample.
    // Scale shape: priorities are element-wise; the global top-k is
    // orderBy+limit = TakeOrderedAndProject (per-partition k-heaps,
    // k-row merge on one task) — never a global sort or window. The
    // priority is rounded to 6 dp BEFORE ranking with a doc_id
    // tie-break, so a last-ulp ln() difference between engines cannot
    // flip the boundary of the kept set (text_lm_nll discipline).
    "pipe_wsample" -> ((s, d) => {
      val h = TextOps.hash32(
        concat(lit("wsample:"), col("doc_id").cast("string")))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).as("n_tok"), h.as("h"))
        .filter(col("n_tok") > 0)
        .withColumn("pri", round(
          log((col("h").cast("double") + lit(1.0)) / lit(4294967296.0))
            / col("n_tok"), 6))
        .orderBy(col("pri").desc, col("doc_id").asc)
        .limit(100)
        .select("doc_id", "lang", "n_tok", "pri")
    }),

    // deterministic global shuffle into training shards: shard by a
    // salted content-independent hash, order within the shard by the
    // same hash — the data-layout primitive before sequence packing.
    // Hash-derived, so any cluster size / re-run / engine reproduces
    // the exact permutation. One shuffle keyed by shard; the
    // per-shard sort parallelizes across shards (at 100 TB you run
    // thousands of shards, so every core sorts its own slice — and
    // the shard files are exactly what a training loader consumes).
    "pipe_shard" -> ((s, d) => {
      val h = TextOps.hash32(
        concat(lit("shard:"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("h", "doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(64)))
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id")
    }),

    // LENGTH-BUCKETED batching readout — the padding-efficiency
    // accounting behind bucketed batch samplers: docs grouped into a
    // fixed power-of-two token-length ladder (16/32/64/128/256), per
    // (lang, bucket) the doc count, real tokens, padding waste, and
    // fill efficiency a trainer would realize padding every sequence
    // to its bucket. The ladder is an explicit CASE (never
    // ceil(log2(n)) — IEEE log2 of an exact power of two can land a
    // hair above the integer and misbucket the boundary). One
    // projection scan + one bounded hash-agg; integer arithmetic
    // until the final efficiency division.
    "pipe_lenbucket" -> ((s, d) => {
      val n = col("n_tok")
      val bucket = when(n <= 16, 16).when(n <= 32, 32).when(n <= 64, 64)
        .when(n <= 128, 128).otherwise(256)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).as("n_tok"))
        .filter(n > 0)
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum(n).as("sum_tok"),
          sum(col("bucket") - n).as("waste"))
        .select(col("lang"), col("bucket"), col("n_docs"), col("sum_tok"),
          col("waste"),
          (col("sum_tok").cast("double") / (col("bucket") * col("n_docs")))
            .as("fill"))
        .orderBy("lang", "bucket")
    }),

    // MULTI-EPOCH shuffle manifest — the trainer-side order pipe_shard
    // feeds: every epoch re-shuffles the corpus under a DIFFERENT
    // epoch-salted hash, so epoch 2 visits documents in an order
    // decorrelated from epoch 1 (the "reshuffle each epoch" every
    // data loader promises), yet any worker can recompute its slice
    // from (epoch, doc_id) alone — no stored permutation, no driver
    // state. Two-level order (shard by hash % 64, then position
    // within shard) is exactly how shard-based loaders shuffle at
    // 100 TB: the per-(epoch, shard) rank windows are 2·64
    // independent partitions, never a global sort.
    "pipe_epochs" -> ((s, d) => {
      val h = TextOps.hash32(concat(
        col("doc_id").cast("string"), lit(":"), col("epoch").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("epoch", "shard").orderBy("h", "doc_id")
      t(s, d, "documents")
        .select(col("doc_id"))
        .withColumn("epoch", explode(sequence(lit(0), lit(1))))
        .withColumn("h", h)
        .withColumn("shard", pmod(col("h"), lit(64)))
        .withColumn("pos", row_number().over(w))
        .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
        .orderBy("epoch", "shard", "pos")
    }),

    // CURRICULUM schedule: easy-to-hard training order (Bengio et al.
    // 2009's curriculum learning, as data engineering). Difficulty =
    // token count, staged by a fixed power-of-two ladder (<32 / <64 /
    // <128 / rest — explicit thresholds, the pipe_lenbucket lesson:
    // never IEEE log2 at bucket edges); the reading order is
    // (stage, shard, pos) where shard = salted hash % 64 and pos is
    // the within-(stage, shard) hash rank — a trainer streams stages
    // in order, shards within a stage in parallel, and any worker
    // recomputes its slice from doc_id alone (pipe_epochs
    // discipline). The rank windows partition by the UNIFORM
    // (stage, shard) key — 4·64 independent partitions, never a
    // per-stage (corpus/4-sized) window and never a global sort.
    "pipe_curriculum" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("stage", "shard").orderBy("h", "doc_id")
      t(s, d, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_tok"))
        .withColumn("stage",
          when(col("n_tok") < 32, 0).when(col("n_tok") < 64, 1)
            .when(col("n_tok") < 128, 2).otherwise(3))
        .withColumn("h", TextOps.hash32(
          concat(lit("cur:"), col("doc_id").cast("string"))))
        .withColumn("shard", pmod(col("h"), lit(64)))
        .withColumn("pos", row_number().over(w))
        .select(col("stage"), col("shard"), col("pos"),
          col("doc_id"), col("n_tok"))
        .orderBy("stage", "shard", "pos")
    }),

    // CAPSTONE 2 (CCNet shape, Wenzek et al. 2020): the web-corpus
    // curation recipe as ONE composed flow — corpus-wide chunk-level
    // dedup gate (the paragraph-dedup analogue; a doc survives only if
    // at least half its 8-token chunks are first-occurrences) →
    // language ID → unigram-LM scoring of the gated corpus → per-
    // language perplexity bucketing into head/middle/tail. Differs
    // from pipe_curation in every stage: chunk granularity instead of
    // whole-doc/Jaccard, LM score instead of length gate, bucketing
    // instead of dropping. 100 TB shape notes:
    //  - the dedup gate is dd_chunk's hash-agg (keeper = min(doc_id)
    //    folded into the per-hash group, no window, hash-only
    //    shuffles) and the gate itself is the INTEGER comparison
    //    2*n_kept >= n_chunks — no division, no threshold drift;
    //  - the LM is text_lm_nll's one-tokenize (doc,tok) partial-agg
    //    lineage; vocab + total fold out of the same exchange and
    //    broadcast back (vocab-sized, never corpus-sized);
    //  - bucket thresholds are mean-relative (±1% of the per-language
    //    mean NLL) rather than ntile terciles: the mean is a hash
    //    aggregate over exact micro-unit BIGINTs (round(nll*1e6) —
    //    decimal(30,4) would truncate 6-dp NLLs), so there is NO
    //    whole-language window sort, which at 100 TB with a handful
    //    of languages would be the classic hot-partition cliff.
    "pipe_ccnet" -> ((s, d) => {
      // tokenized base materialized ONCE (localCheckpoint): it feeds
      // the chunk-dedup branch AND the post-gate LM branch, which
      // otherwise re-run the tokenize lineage each (round 13 —
      // measured 1.79 -> 1.58 s warm / 8.0 -> 3.0 s cold at sf0.1).
      // The physical materialization is also a STRONGER barrier than
      // GroupBase.mat against the lambda-capture re-derivation class
      // (the chunk-hash lambda below captures tk per position): no
      // optimizer rule can substitute into an ExistingRDD. PlanSpec
      // pins the plan at zero split() copies + a LogicalRDD scan.
      val docs = withTokens(t(s, d, "documents"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"),
          size(col("tk")).cast("long").as("ntok"),
          when(size(filter(col("tk"), t => t.isInCollection(stopwords))) > 0,
            "en").otherwise("unk").as("lang_guess"))
        .localCheckpoint()
      val ch = docs.select(col("doc_id"),
        explode(transform(
          sequence(lit(0), ceil(size(col("tk")).cast("double") / 8.0)
            .cast("int") - 1),
          i => TextOps.hash32(array_join(
            slice(col("tk"), i * 8 + 1, lit(8)), " ")))).as("h"))
      val kept = ch.groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
      val gated = docs.join(kept.hint("shuffle_hash"), Seq("doc_id"), "left")
        .filter(coalesce(col("n_kept"), lit(0L)) * 2 >=
          ceil(col("ntok").cast("double") / 8.0).cast("long"))
        .select(col("doc_id"), col("tk"), col("ntok"), col("lang_guess"))
      // lang_guess / ntok are constant per doc, so they ride the
      // (doc, token) aggregation as extra group keys (same group
      // cardinality) instead of a second join back to `gated` — which
      // would re-run the whole tokenize + chunk-dedup lineage a
      // second time (exchange reuse dedups shuffles, not the
      // upstream scan). One gated computation total.
      val tf = gated.select(col("doc_id"), col("lang_guess"), col("ntok"),
          explode(col("tk")).as("tok"))
        .groupBy("doc_id", "lang_guess", "ntok", "tok")
        .agg(count(lit(1)).as("m"))
      val freq = tf.filter(col("m") >= 1)
        .groupBy("tok").agg(sum(col("m")).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("n"))
      val scored = tf.join(broadcast(freq), "tok").crossJoin(broadcast(total))
        .select(col("doc_id"), col("lang_guess"), col("ntok"), col("m"),
          (col("m").cast("double") *
            log(col("cnt").cast("double") / col("n").cast("double")))
            .as("mlnp"))
        .groupBy("doc_id", "lang_guess", "ntok")
        .agg(round(-(aggregate(sort_array(collect_list(col("mlnp"))),
            lit(0.0), (a, v) => a + v) / sum(col("m")).cast("double")), 6)
          .as("nll"))
        .withColumn("nll_u", round(col("nll") * 1e6, 0).cast("long"))
      val means = scored.groupBy("lang_guess")
        .agg((sum(col("nll_u")).cast("double") /
          count(lit(1)).cast("double") / 1e6).as("mean_nll"))
      scored.join(broadcast(means), Seq("lang_guess"))
        .withColumn("bucket",
          when(col("nll") <= col("mean_nll") * 0.99, "head")
            .when(col("nll") >= col("mean_nll") * 1.01, "tail")
            .otherwise("middle"))
        .groupBy("lang_guess", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          round(sum(col("nll_u")).cast("double") /
            count(lit(1)).cast("double") / 1e6, 6).as("avg_nll"))
        .orderBy("lang_guess", "bucket")
    }),

    // CAPSTONE: the full curation pipeline as ONE composed flow —
    // quality gate → exact dedup (keep first) → near-dup removal
    // (Jaccard-blocked, drop the higher doc_id of any >=0.5 pair) →
    // per-language corpus stats. Each stage is the oracle-checked
    // operator above; the pipeline proves they compose into the
    // 100 TB curation job shape (scan → hash-agg → blocked join →
    // hash-agg; no stage is all-pairs or driver-side).
    "pipe_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
      val quality = docs.filter(size(col("tk")) >= 15)
      // exact dedup as a min_by hash-agg, not a row_number window: the
      // aggregate gets map-side partials and skips the per-partition
      // sort a window needs — the shape that wins when one content
      // hash has millions of duplicates at 100 TB. Everything any
      // downstream consumer needs (lang, token/char counts, the
      // shingle-hash array) is folded into the ONE min_by struct:
      // column pruning can't split a struct-valued aggregate, so the
      // pair-gen branch and the stats branch share the same partial-agg
      // exchange (scan+tokenize runs once) — and the shuffle carries
      // compact longs instead of the raw text + token array.
      val exactKeep = quality
        .groupBy(md5(col("text")).as("h"))
        .agg(min_by(struct(
            col("doc_id"), col("lang"),
            size(col("tk")).cast("long").as("ntok"),
            length(col("text")).cast("long").as("nchars"),
            array_distinct(graft.functions.VectorFunctions
              .shingleHashes(col("tk"), 3)).as("hs")),
          col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.ntok").as("ntok"), col("r.nchars").as("nchars"),
          col("r.hs").as("hs"))
      // hash-keyed (doc, shingle) relation, deduped element-wise and
      // sized from the array — no distinct exchange (see dd_jaccard).
      // Same rare-shingle df <= 1000 cap as dd_jaccard (ShingleDf):
      // without it a boilerplate 3-gram shared by a million kept docs
      // makes this self-join quadratic on one key at 100 TB. Doc
      // sizes `n` are taken from the UNCAPPED array, so Jaccard
      // denominators are exact; the cap only prunes candidate
      // generation.
      val sh = graft.operators.ShingleDf.capRare(exactKeep
        .filter(col("hs").isNotNull)
        .select(col("doc_id"), size(col("hs")).as("n"),
          explode(col("hs")).as("sh")), "sh", 1000)
      val dupB = sh.as("a").join(sh.as("b").hint("shuffle_hash"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")) >= 0.5)
        .select(col("db").as("doc_id")).distinct()
      exactKeep.join(dupB, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(col("nchars")).as("n_chars"))
        .orderBy("lang")
    }),

    // content fingerprinting: md5 + stable 32-bit hash
    "text_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        md5(col("text")).as("fp_md5"),
        TextOps.hash32(col("text")).as("fp32"))
        .orderBy("doc_id")),

    // MOSS-style WINNOWING fingerprints — the edit-robust complement
    // to text_fingerprint's whole-doc hash: hash every token 3-gram,
    // slide a window of W=4 consecutive hashes, keep the RIGHTMOST
    // MINIMUM per window; the distinct (pos, hash) survivors are the
    // doc's fingerprint (density → 2/(W+1), guaranteed match for any
    // shared run of W+K-1 tokens). Shape: two codegen kernels per ROW
    // (shingle_hashes = one md5 pass per k-gram, winnow_fingerprints
    // = one primitive min-scan per window with consecutive-duplicate
    // collapse — equal to a global distinct because a position's pick
    // range is contiguous); NO explode of the k-gram table, NO
    // self-join, zero shuffle until the output sort. The HOF
    // formulation this replaced (per-window aggregate fold +
    // array_distinct) allocated ~W structs per position through
    // interpreted lambdas — 2.5× slower at sf0.1. The oracle
    // deliberately takes the other road (banded self-join +
    // row_number) so the two engines cross-check algorithm against
    // algorithm, not a shared formulation. Docs with < W full
    // windows contribute nothing (kernel returns an empty array;
    // docs under K tokens hash to null and explode drops them).
    "text_winnow" -> ((s, d) => {
      val W = 4; val K = 3
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("hs",
          graft.functions.VectorFunctions.shingleHashes(col("tk"), K))
        .select(col("doc_id"),
          explode(graft.functions.VectorFunctions
            .winnowFingerprints(col("hs"), W)).as("m"))
        .select(col("doc_id"), col("m.pos").as("pos"), col("m.h").as("h"))
        .orderBy("doc_id", "pos")
    }),

    // BPE-ish token counting: a GPT-2-style regex pre-tokenizer
    // (letter runs / digit runs / other) plus a deterministic subword
    // estimate (ceil(len/4) pieces per pre-token — the avg BPE piece
    // is ~4 chars). Pure per-row expressions: embarrassingly parallel,
    // no shuffle except the output sort. The regex is dialect-neutral
    // (same semantics in Java regex and RE2/DuckDB).
    // VOCABULARY COVERAGE / OOV RATE per language — fertility's
    // companion tokenizer-eval table: with a top-K frequency vocab
    // (K = 20 here; a real vocab is larger, same shape), what
    // fraction of each language's running tokens falls out of
    // vocabulary? High OOV = the language is under-served by the
    // vocab (it pays UNK/byte-fallback cost). The vocab is a
    // frequency top-k via TakeOrderedAndProject, broadcast back; the
    // per-lang rates are exact integer ratios, rounded to 6.
    "text_oov" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) > 0)
        .select(col("lang"), explode(col("tk")).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("cf"))
        .orderBy(col("cf").desc, col("w")).limit(20)
        .select(col("w"), lit(1).as("inv"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 6).as("oov_rate"),
          round(lit(1.0) - col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 6).as("coverage"))
        .orderBy("lang")
    }),

    // TOKENIZER FERTILITY per language — the table every multilingual
    // tokenizer paper reports (subwords per word; high fertility =
    // the language pays more sequence length per content): fertility
    // = Σ subwords / Σ whitespace words and compression = bytes per
    // subword, both per lang under the same BPE-ish subword estimate
    // text_bpe uses per document. One projection scan into a
    // lang-keyed hash-agg; integer sums, two divisions per lang,
    // rounded to 6.
    "text_fertility" -> ((s, d) => {
      val pre = regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) > 0)
        .select(col("lang"), size(col("tk")).cast("long").as("nw"),
          aggregate(transform(pre,
              t0 => ceil(length(t0).cast("double") / 4.0).cast("long")),
            lit(0L), (a, v) => a + v).as("nb"),
          length(col("text")).cast("long").as("nc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
          sum(col("nb")).as("n_subwords"), sum(col("nc")).as("n_bytes"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_subwords"),
          round(col("n_subwords").cast("double") /
            col("n_words").cast("double"), 6).as("fertility"),
          round(col("n_bytes").cast("double") /
            col("n_subwords").cast("double"), 6).as("bytes_per_subword"))
        .orderBy("lang")
    }),

    "text_bpe" -> ((s, d) => {
      val pre = regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))
      t(s, d, "documents")
        .withColumn("pre", pre)
        .select(col("doc_id"),
          size(col("pre")).as("n_pretok"),
          aggregate(transform(col("pre"),
              t => ceil(length(t).cast("double") / 4.0).cast("long")),
            lit(0L), (a, v) => a + v).as("n_bpe"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer TRAINING (the induction side of text_bpe's
    // application estimate): 3 unrolled merge rounds of byte-pair
    // encoding over the corpus word vocabulary. The 100 TB shape is
    // the point — the corpus is scanned ONCE to build the (word,
    // count) vocabulary (map-side combine collapses the token stream
    // to vocab-sized partials), and every training round then runs on
    // the vocab table: pair counting is a vocab-sized aggregation,
    // the winning merge is a 1-row broadcast, and merge application
    // is an element-wise string replace. Pairs are counted with
    // overlaps (standard BPE); merge APPLICATION is leftmost
    // non-overlapping on the space-padded symbol string, so an odd
    // run of a merged symbol defers its tail to a later round — a
    // deliberate, deterministic deviation from canonical
    // list-walking BPE that both engines reproduce exactly
    // (Java String.replace and DuckDB replace share the same
    // leftmost-nonoverlap scan, verified " a a a a " -> " aa a a ").
    "text_bpe_train" -> ((s, d) => {
      // symbol string padded with one leading/trailing space: a merge
      // target " s1 s2 " then only matches whole adjacent symbols,
      // never a substring spanning a symbol boundary
      val wf = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .withColumn("sym", concat(lit(" "),
          concat_ws(" ", filter(split(col("w"), ""), c => c =!= "")), lit(" ")))
        .select("cnt", "sym")
      def pairs(df: DataFrame): DataFrame = df
        .select(col("cnt"), explode(
          graft.functions.VectorFunctions.shingleStrings(
            filter(split(col("sym"), " "), c => c =!= ""), 2)).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("pcnt"))
      def top(pc: DataFrame, rnd: Int): DataFrame = pc
        .orderBy(col("pcnt").desc, col("pair").asc).limit(1)
        .select(lit(rnd).as("rnd"), col("pair"),
          expr("replace(pair, ' ', '')").as("merged"), col("pcnt"))
      def applyMerge(df: DataFrame, t: DataFrame): DataFrame = df
        .crossJoin(broadcast(t.select(col("pair").as("mp"), col("merged").as("mm"))))
        .withColumn("sym", expr(
          "replace(sym, concat(' ', mp, ' '), concat(' ', mm, ' '))"))
        .select("cnt", "sym")
      val t1 = top(pairs(wf), 1)
      val wf2 = applyMerge(wf, t1)
      val t2 = top(pairs(wf2), 2)
      val wf3 = applyMerge(wf2, t2)
      val t3 = top(pairs(wf3), 3)
      t1.unionByName(t2).unionByName(t3).orderBy("rnd")
    }),

    // Unigram-LM tokenizer SEED VOCABULARY (the SentencePiece
    // counterpart of text_bpe_train's merge induction): enumerate every
    // character substring of length 2-6 of every vocabulary word (the
    // suffix-array substring-counting stage of Kudo 2018, expressed as
    // a per-word array expression), score each candidate piece by
    // corpus frequency × piece length, and keep the top-30 — the seed
    // set unigram-LM EM pruning starts from. The 100 TB shape matches
    // bpe_train: ONE corpus scan collapses the token stream to the
    // (word, count) vocabulary with map-side combine; the substring
    // explosion and piece aggregation are vocab-sized, not
    // corpus-sized, and the top-30 runs through TakeOrderedAndProject
    // (per-partition heaps, no global sort).
    "text_unigram_seed" -> ((s, d) => {
      val wf = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      wf.select(col("cnt"), explode(flatten(
          transform(sequence(lit(1), length(col("w"))), i =>
            filter(transform(sequence(lit(2), lit(6)), l =>
              when(i + l - lit(1) <= length(col("w")), col("w").substr(i, l))),
              p => p.isNotNull)))).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).as("freq"))
        .select(col("piece"), col("freq"),
          (col("freq") * length(col("piece"))).as("score"))
        .orderBy(col("score").desc, col("piece").asc).limit(30)
    }),

    // benchmark decontamination: flag training docs sharing 3-gram
    // shingles with the held-out benchmark set (source = src0 stands in
    // for the eval corpus). The benchmark n-gram set is tiny relative
    // to the corpus → broadcast; the training side streams through one
    // explode + hash join + per-doc count. At 100 TB the only shuffle
    // is the per-doc hit count, keyed by doc_id.
    "pipe_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("hs", array_distinct(
          graft.functions.VectorFunctions.shingleHashes(col("tk"), 3)))
        .filter(col("hs").isNotNull)
      val bench = docs.filter(col("source") === "src0")
        .select(explode(col("hs")).as("sh")).distinct()
      // LEFT join the exploded training shingles to the broadcast
      // bench set and count matches in the same per-doc aggregate:
      // zero-hit docs keep their rows (hit = 0), so the corpus is
      // scanned ONCE — no second pass to recover unmatched doc_ids
      docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), explode(col("hs")).as("sh"))
        .join(broadcast(bench.withColumn("hit", lit(1))), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(col("doc_id"), col("n_hits"),
          (col("n_hits") >= 5).as("contaminated"))
        .orderBy("doc_id")
    }),

    // T5/UL2-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4): the
    // denoising-objective data prep that masks contiguous token spans
    // (not i.i.d. tokens) and emits (masked input, span targets)
    // pairs. Span starts fire at ~5% of positions from the
    // deterministic h32(doc:pos) draw, each span runs 2-4 tokens
    // (2 + h%3), and overlapping spans merge into runs — doc-level
    // corruption stats (span count, corrupted fraction) ride along.
    // Everything is per-row array arithmetic: the span-extension flag
    // is a bounded 4-position lookback (exists over [i-3, i]), so the
    // whole operator is one embarrassingly-parallel projection scan —
    // the 100 TB shape of every real pretraining tokenizer pass.
    "pipe_spancorrupt" -> ((s, d) => {
      // The span draw, coverage flags, run count and masked/targets
      // rendering are ONE codegen kernel call per row (span_corrupt —
      // same h32(doc:pos) contract the oracle mirrors). The r12 HOF
      // formulation needed tk/sl/fl Generate barriers against
      // lambda-capture re-derivation (O(len²)–O(len³)/row on a huge
      // doc, see GroupBase.mat) and still ran interpreted per
      // position; the kernel takes its inputs as expression ARGUMENTS
      // (evaluated once) and loops natively. The struct goes behind
      // mat so the five field reads below can't re-inline the kernel.
      val base = mat(
        withTokens(t(s, d, "documents"))
          .filter(size(col("tk")) > 0)
          .withColumn("n", size(col("tk"))),
        "sc", graft.functions.VectorFunctions.spanCorrupt(
          col("doc_id").cast("string"), col("tk")))
      base.select(col("doc_id"), col("n").cast("int").as("n_tok"),
          col("sc.n_corr").as("n_corr"),
          col("sc.n_spans").as("n_spans"),
          round(col("sc.n_corr").cast("double") /
            col("n").cast("double"), 6).as("corrupt_ratio"),
          col("sc.masked").as("masked"),
          col("sc.targets").as("targets"))
        .orderBy("doc_id")
    }),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw doc
    // by its importance weight under hashed-bigram bag models of the
    // TARGET domain (source = src0, as in pipe_decontam) vs the raw
    // pool — log w(x) = Σ_f m_f · (ln p_tgt[f] − ln p_raw[f]) with
    // Laplace-smoothed 64-bucket feature distributions — and keep the
    // top-100. Where pipe_classify gates on FIXED weights, DSIR's
    // weights are corpus-derived: this is the method that picks
    // "Wikipedia-like" training data out of a web crawl. Scale shape:
    // ONE corpus tokenize+shingle to the (doc, bucket) multiplicity
    // table (≤64 rows per doc, partial agg below the exchange); both
    // feature distributions and the totals are 64-row/1-row
    // broadcasts; the per-doc weight is a ≤64-term sorted fold
    // (ln is transcendental → round 6) and the top-100 is a
    // TakeOrderedAndProject, never a global sort.
    "pipe_dsir" -> ((s, d) => {
      val NB = 64
      val feats = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("fs",
          graft.functions.VectorFunctions.shingleHashes(col("tk"), 2))
        .filter(col("fs").isNotNull)
        .select(col("doc_id"), col("source"), explode(col("fs")).as("h"))
        .select(col("doc_id"), col("source"),
          pmod(col("h"), lit(NB.toLong)).as("f"))
      // materialized ONCE: dfb feeds the target distribution, the raw
      // distribution, and the per-doc scoring branch; column pruning
      // specializes each consumer's subplan (tgt/raw drop doc_id), so
      // exchange reuse can't dedup them and the tokenize+shingle scan
      // re-ran per consumer (r13, the text_langid_nb lesson: 1.39 ->
      // 1.18 s steady at sf0.1). State is ≤64 longs per doc — the
      // feature table a production DSIR job writes before scoring.
      val dfb = feats.groupBy("doc_id", "source", "f")
        .agg(count(lit(1)).as("m"))
        .localCheckpoint()
      // full bucket spine so smoothing covers buckets absent from one
      // side (matters at smoke scale; free at 64 rows)
      val spine = s.range(0, NB).select(col("id").as("f"))
      def side(pred: Column, cname: String) = spine.join(
          dfb.filter(pred).groupBy("f").agg(sum(col("m")).as(cname)),
          Seq("f"), "left")
        .select(col("f"), coalesce(col(cname), lit(0L)).as(cname))
      val tgt = side(col("source") === "src0", "ct")
      val raw = side(col("source") =!= "src0", "cr")
      val tots = tgt.agg(sum(col("ct")).as("st"))
        .crossJoin(raw.agg(sum(col("cr")).as("sr")))
        .select((col("st") + NB).as("tt"), (col("sr") + NB).as("tr"))
      val lr = tgt.join(raw, "f").crossJoin(broadcast(tots))
        .select(col("f"),
          (log((col("ct").cast("double") + lit(1.0)) /
              col("tt").cast("double")) -
            log((col("cr").cast("double") + lit(1.0)) /
              col("tr").cast("double"))).as("lw"))
      dfb.filter(col("source") =!= "src0")
        .join(broadcast(lr), "f")
        .groupBy("doc_id")
        .agg(round(aggregate(
            sort_array(collect_list(col("m").cast("double") * col("lw"))),
            lit(0.0), (a, v) => a + v), 6).as("w"))
        .orderBy(col("w").desc, col("doc_id").asc).limit(100)
    }),

    // repetition-based quality signals (the Gopher-style filters):
    // duplicate-3-gram fraction and top-token frequency fraction per
    // document. Both are exact small-integer ratios, so the doubles
    // are bit-identical across engines without rounding. Per-doc
    // n-gram stats come from the codegen'd shingle kernel (no
    // shuffle); the token mode needs one (doc_id, tok) hash-agg.
    "text_repetition" -> ((s, d) => {
      // every signal is a per-row kernel/array expression: the token
      // mode comes from the codegen token_topcount kernel, so the
      // whole query is ONE projection scan — no explode, no shuffle
      // at all beyond the output sort (the previous shape hash-agged
      // one row per TOKEN; at 100 TB that shuffle dwarfed the scan)
      val dup3 = lit(1.0) - col("g_uni").cast("double") / col("g_tot").cast("double")
      val topf = col("max_c").cast("double") / col("n_tok").cast("double")
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("hs",
          graft.functions.VectorFunctions.shingleHashes(col("tk"), 3))
        .filter(col("hs").isNotNull)
        .select(col("doc_id"),
          size(col("tk")).as("n_tok"),
          size(col("hs")).as("g_tot"),
          size(array_distinct(col("hs"))).as("g_uni"),
          graft.functions.VectorFunctions.tokenTopCount(col("tk")).as("max_c"))
        .select(col("doc_id"),
          dup3.as("dup_3gram_frac"),
          topf.as("top_tok_frac"),
          (dup3 > 0.01 || topf > 0.14).as("repetitive"))
        .orderBy("doc_id")
    }),

    // dataset mixture weights: temperature-scaled (alpha = 0.5)
    // per-source sampling weights from token counts — the mixing knob
    // of a multi-source training pipeline. Per-source aggregation is
    // one hash-agg; the normalizer is a 20-row sorted fold (sum order
    // fixed so the double matches the oracle bit-for-bit pre-round).
    "pipe_mix" -> ((s, d) => {
      // the normalizer is a window over the POST-AGG rows (cardinality
      // = #sources, small by construction), not a second aggregation
      // lineage — the corpus is tokenized and scanned exactly once
      import org.apache.spark.sql.expressions.Window
      val all = Window.partitionBy(lit(0))
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("tk")).cast("long")).as("n_tokens"))
        .withColumn("w_raw", sqrt(col("n_tokens").cast("double")))
        .withColumn("z",
          aggregate(sort_array(collect_list(col("w_raw")).over(all)),
            lit(0.0), (a, v) => a + v))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("w_raw") / col("z"), 8).as("weight"))
        .orderBy("source")
    }),

    // sequence packing (concat-then-split, ctx=256): documents are
    // laid end-to-end in deterministic (lang, doc_id) order and the
    // stream of tokens is cut every 256 — each doc's sequence is the
    // one its START offset falls in. The running offset is a window
    // cumsum PARTITIONED BY lang, so packing parallelizes across
    // languages (at 100 TB partition by shard/split key: the cumsum
    // is per-partition, never global). Output is per-sequence
    // bookkeeping (fill stats), the metadata a packed-dataset writer
    // needs.
    "pipe_pack" -> ((s, d) => {
      val CTX = 256
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
        .withColumn("ofs", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("seq_id", floor(col("ofs") / lit(CTX)).cast("long"))
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "seq_id")
    }),

    // model-based quality filter: logistic scoring over the
    // text_quality features with FIXED published weights — the
    // "fasttext-style classifier gate" shape of a curation pipeline
    // (feature extract → w·x → sigmoid → threshold), all per-row
    // expressions so inference is an embarrassingly-parallel scan. At
    // 100 TB the weights ride the closure (or a broadcast var for real
    // models); nothing shuffles until the output sort. Features use
    // the decimal-exact ratio forms (cross-engine bit-equal); sigmoid
    // is transcendental → round(6) on both sides.
    "pipe_classify" -> ((s, d) => {
      val toks = col("tk")
      val nTok = size(toks)
      // NULLIF: zero tokens -> NULL score/keep, not an ANSI
      // DIVIDE_BY_ZERO crash (TextExec sweep, round 10)
      val nTokDen = nullif(nTok, lit(0)).cast("decimal(18,8)")
      val nStop = size(filter(toks, t => t.isInCollection(stopwords)))
      val stopRatio = (nStop.cast("decimal(18,8)") / nTokDen).cast("double")
      val ttr = (size(array_distinct(toks)).cast("decimal(18,8)") /
        nTokDen).cast("double")
      val lenN = nTok.cast("double") / lit(100.0)
      val z = lit(-0.8) + lit(2.5) * stopRatio +
        lit(-1.2) * ttr + lit(0.9) * lenN
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"))
        .withColumn("keep", col("score") >= 0.4)
        .orderBy("doc_id")
    }),

    // fixed-size overlapping token chunks (training-sequence windowing:
    // context size 32, stride 24). Pure per-row explode — no shuffle
    // beyond the output sort; chunk count rides the token array, so a
    // 100 TB corpus chunks in one embarrassingly-parallel scan.
    "pipe_chunk" -> ((s, d) => {
      val SIZE = 32; val STRIDE = 24
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .withColumn("s", explode(sequence(lit(0),
          greatest(size(col("tk")) - 1, lit(0)), lit(STRIDE))))
        .select(col("doc_id"),
          (col("s") / STRIDE).cast("int").as("chunk_idx"),
          size(slice(col("tk"), col("s") + 1, lit(SIZE))).as("n_tok"),
          concat_ws(" ", slice(col("tk"), col("s") + 1, lit(SIZE))).as("chunk"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // heavy hitters via a Misra-Gries bounded sketch (agg/MisraGries):
    // each partition contributes at most k counters to the shuffle, so
    // corpus-wide top-token estimation costs O(partitions × k) state —
    // never O(vocabulary). Capacity 64 exceeds this corpus's
    // vocabulary, so every count is provably exact (no decrement can
    // fire) and the result hash-matches the exact DuckDB counts; the
    // under-capacity error bound is asserted in HeavyHitterSpec.
    "agg_heavy_hitters" -> ((s, d) => {
      val mg = udaf(new graft.agg.MisraGries(64), org.apache.spark.sql.Encoders.STRING)
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .select(explode(col("tk")).as("tok"))
        .agg(mg(col("tok")).as("mg"))
        .select(explode(col("mg.counters")).as(Seq("tok", "est")))
        .orderBy(col("est").desc, col("tok"))
    }),

    // dataset profiling (the ANALYZE-TABLE primitive of a curation
    // pipeline): per-column row/null/distinct counts and min/max, in
    // long format. One scan + a 5× expand + one hash-agg; the exact
    // count(DISTINCT) is the oracle-checkable form — at 100 TB swap it
    // for approx_count_distinct and the shape is unchanged.
    "pipe_profile" -> ((s, d) => {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      t(s, d, "documents")
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("e"))
        .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("v").isNull, lit(1))).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_s"),
          max(col("v")).as("max_s"))
        .orderBy("col_name")
    }),

    // Jensen-Shannon divergence between two crawl generations' unigram
    // distributions (sources src0-9 = generation A, src10-19 = B) —
    // the bounded, symmetric drift number ([0, 1] bit) a mixture
    // builder tracks per snapshot, where KS (text_ks) sees only one
    // numeric signal and chi2 (text_chi2) only categorical counts.
    // JSD = (KL(P||M) + KL(Q||M))/2, M = (P+Q)/2; zero-count terms
    // drop out exactly (lim p->0 of p ln(p/m) = 0). Scale shape: ONE
    // corpus tokenize pass collapses to the vocab-sized (tok, c1, c2)
    // table with map-side partials; totals re-aggregate that table,
    // not the corpus. The term sum is ONE group spanning the whole
    // vocabulary — at 100 TB that rules out the sorted-fold discipline
    // (its collect state would be the full vocab on one task), so it
    // runs as Exact.fsum: floor-quantized 2^-53-grid partials that
    // are order-INDEPENDENT, distributed, and bit-identical in DuckDB
    // (|term| < ln2/2 is far inside fsum's documented |x| bound);
    // the result rounds to 6 after the /ln2 rescale.
    "text_jsd" -> ((s, d) => {
      // try_cast + isNotNull: a source id that doesn't parse (dirty
      // metadata is a routine production state) excludes the row from
      // the divergence estimate instead of throwing CAST_INVALID_INPUT
      // under ANSI (TextExec adversarial-text sweep, round 10)
      val toks = t(s, d, "documents")
        .select(substring(col("source"), 4, 10).try_cast("int").as("gen"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("gen").isNotNull)
      val cnt = toks.groupBy("tok").agg(
        sum(when(col("gen") < 10, 1L).otherwise(0L)).as("c1"),
        sum(when(col("gen") >= 10, 1L).otherwise(0L)).as("c2"))
      val tot = cnt.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      // NULLIF: with one crawl generation entirely absent the JSD is
      // undefined — every term (and the readout) goes NULL instead of
      // an ANSI DIVIDE_BY_ZERO crash (EdgeExec single-row sweep, r10)
      val p = col("c1").cast("double") /
        nullif(col("n1").cast("double"), lit(0.0))
      val q = col("c2").cast("double") /
        nullif(col("n2").cast("double"), lit(0.0))
      val m = (p + q) / lit(2.0)
      cnt.crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"),
          ((when(col("c1") > 0, p * log(p / m)).otherwise(lit(0.0)) +
            when(col("c2") > 0, q * log(q / m)).otherwise(lit(0.0))) /
            lit(2.0)).as("term"))
        .groupBy("n1", "n2")
        .agg(count(lit(1)).as("vocab"),
          round(graft.core.Exact.fsum(col("term")) / log(lit(2.0)), 6)
            .as("jsd_bits"))
        .select(col("n1"), col("n2"), col("vocab"), col("jsd_bits"))
    }),

    // CLOZE eval-sample synthesis — the EVAL-DATA-CONSTRUCTION family
    // (the other side of decontamination: the pipeline that BUILDS
    // held-out probes from the corpus): mask one deterministically
    // chosen token per document (position = h32(doc) % n_tok, skewed
    // away from position 0 so the blank has left context), emit the
    // masked text, the answer, and the answer's corpus frequency band
    // (rare answers make harder probes — the difficulty metadata an
    // eval harness stratifies on). Element-wise masking + one
    // vocab-sized frequency broadcast; an embarrassingly parallel
    // projection scan at any scale.
    "pipe_cloze" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) >= 2)
        .withColumn("pos", (pmod(TextOps.hash32(
          concat(lit("cloze:"), col("doc_id").cast("string"))),
          size(col("tk")) - 1) + 1).cast("int"))
        .withColumn("answer", element_at(col("tk"), col("pos") + 1))
      val freq = docs.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cf"))
      docs.join(broadcast(freq), col("answer") === col("w"))
        .select(col("doc_id"), col("pos"), col("answer"),
          col("cf").as("answer_freq"),
          concat_ws(" ", transform(
            zip_with(col("tk"), sequence(lit(0), size(col("tk")) - 1),
              (t0, i) => when(i === col("pos"), lit("____")).otherwise(t0)),
            x => x)).as("masked"))
        .orderBy("doc_id")
    }),

    // TERM BURSTINESS (variance-to-mean ratio of per-document counts,
    // zeros included) — the overdispersion diagnostic separating
    // function words (Poisson-ish, VMR ≈ 1: they occur evenly) from
    // content/topical words (bursty, VMR >> 1: absent mostly, heavy
    // where present; Church & Gale 1995). Feeds stopword induction
    // and keyword weighting where raw frequency misleads. Exact
    // integer sufficient statistics (Σtf, Σtf² per term + the doc
    // count); VMR = (Σtf²/N − (Σtf/N)²) / (Σtf/N) pays three
    // divisions, rounded to 6. One tokenize pass → vocab-sized table.
    "text_dispersion" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) > 0)
      val nd = docs.agg(count(lit(1)).as("nd"))
      val tf = docs.select(col("doc_id"), explode(col("tk")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val st = tf.groupBy("w").agg(count(lit(1)).as("df"),
        // DECIMAL(38,0) Σtf²: per-doc tf is doc-length-bounded but the
        // per-term sum runs over every document — nd x max_tf² crosses
        // 2^63 near 1e11 docs x 1e4-token docs (round-10 overflow
        // audit); per-row tf² stays in long
        sum(col("tf")).as("st"),
        sum((col("tf") * col("tf")).cast("decimal(38,0)")).as("sq"))
      val ndD = col("nd").cast("double")
      val mean = col("st").cast("double") / ndD
      st.crossJoin(broadcast(nd))
        .select(col("w"), col("df"), col("st").as("total"),
          round(((col("sq").cast("double") / ndD) - mean * mean) / mean, 6)
            .as("vmr"))
        .orderBy(col("vmr").desc, col("w"))
    }),

    // RAKE keyphrase extraction (Rose et al. 2010) — the multi-word
    // complement of text_tfidf's single-term keywords and text_pmi's
    // adjacent bigrams: candidate phrases are the maximal runs of
    // non-stopword tokens (stopwords delimit), each scored by
    // Σ_w deg(w)/freq(w) where freq counts w's occurrences in
    // candidates and deg additionally credits the length of every
    // phrase containing w (so words that travel in long phrases
    // outrank loners). Run segmentation is ELEMENT-WISE — runid =
    // (token position) − (index among the doc's non-stop tokens),
    // the gaps-and-islands identity computed inside array HOFs, so
    // no per-token window ever forms. 100 TB shape: one tokenize
    // scan → (doc, run) hash-agg (state = one phrase) → vocab-sized
    // word-stat table joined back by hash; the per-phrase score is
    // an fsum of q6-quantized per-word ratios (order-independent),
    // top-20 via TakeOrderedAndProject. Integer deg/freq keep
    // everything exact up to the one division per word.
    "text_rake" -> ((s, d) => {
      val runs = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) > 0)
        .withColumn("ns", filter(
          zip_with(col("tk"), sequence(lit(0), size(col("tk")) - 1),
            (t0, i) => struct(t0.as("tok"), i.as("pos"))),
          x => !x.getField("tok").isInCollection(stopwords)))
        .select(col("doc_id"), explode(zip_with(col("ns"),
          sequence(lit(0), size(col("ns")) - 1),
          (x, j) => struct(x.getField("tok").as("tok"),
            x.getField("pos").as("pos"),
            (x.getField("pos") - j).as("rid")))).as("e"))
        .select(col("doc_id"), col("e.tok"), col("e.pos"), col("e.rid"))
      // the standard RAKE max-phrase-length parameter (4): without it
      // a stopword-free document becomes one giant pseudo-phrase
      val phrases = runs.groupBy("doc_id", "rid")
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("phrase"),
          count(lit(1)).as("plen"))
        .filter(col("plen") <= 4)
      // collapse repeated phrase TEXT first (multiplicity rides as
      // n_occ), so word statistics weight by occurrence count while
      // each phrase's score sums its own words exactly once per slot
      val pdist = phrases.groupBy("phrase", "plen")
        .agg(count(lit(1)).as("n_occ"))
      val pwords = pdist.select(col("phrase"), col("plen"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      val stats = pwords.groupBy("w").agg(
        sum(col("n_occ")).as("freq"),
        sum(col("n_occ") * col("plen")).as("deg"))
      pwords.join(stats, "w")
        .groupBy("phrase", "plen", "n_occ")
        .agg(round(Exact.fsum(Exact.q6(
          col("deg").cast("double") / col("freq").cast("double"))), 6)
          .as("score"))
        .select(col("phrase"), col("n_occ"),
          col("plen").as("n_words"), col("score"))
        .orderBy(col("score").desc, col("phrase")).limit(20)
    }),

    // C4-style rule battery (Raffel et al. 2020 §2.2) — the OTHER
    // canonical heuristic filter next to text_gopher's: where Gopher
    // thresholds corpus statistics (mean word length, TTR, stopword
    // density), C4 drops documents by hard structural markers — too
    // short, absurdly long words, code/markup braces, boilerplate
    // phrases ("lorem ipsum", "javascript", policy pages). Every rule
    // here is element-wise on the token array: ONE projection scan, no
    // shuffle, no corpus statistics — the 100 TB shape is
    // embarrassingly parallel and the filter composes in front of any
    // downstream stage. (C4's remaining rule — the corpus-level
    // three-sentence dedup — is the span family: dd_chunk/dd_spans.)
    "text_c4" -> ((s, d) => {
      val tk = col("tk")
      val n = size(tk)
      val maxWlen = array_max(transform(tk, t => length(t)))
      val rMinlen = n >= 5
      val rWordcap = maxWlen <= 15
      val rBrace = !exists(tk, t => t.contains("{") || t.contains("}"))
      val rJs = !array_contains(tk, "javascript")
      val rLorem = !(array_contains(tk, "lorem") &&
        array_contains(tk, "ipsum"))
      val rPolicy = size(filter(tk, t =>
        t === "cookie" || t === "privacy" || t === "terms")) === 0
      t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(n > 0)
        .select(col("doc_id"), n.cast("int").as("n_tok"),
          maxWlen.cast("int").as("max_wlen"),
          rMinlen.as("r_minlen"), rWordcap.as("r_wordcap"),
          rBrace.as("r_brace"), rJs.as("r_js"),
          rLorem.as("r_lorem"), rPolicy.as("r_policy"),
          (rMinlen && rWordcap && rBrace && rJs && rLorem && rPolicy)
            .as("keep"))
        .orderBy("doc_id")
    }),

    // UniMax source allocation (Chung et al. 2023) — the fair
    // water-filling alternative to pipe_mix's fixed weights: spread
    // the token budget B UNIFORMLY over sources, but never take more
    // than E_s epochs of any source (per-source caps — the
    // licensing/quality-tier generalization of the paper's uniform
    // cap; E_s = 1 + src_index % 4 here); budget freed by small or
    // tightly-capped sources redistributes to the rest. Closed form,
    // no iteration: sort sources by capacity c_s = E_s·n_s ascending;
    // source i is capped iff c_i·(L−i+1) ≤ B − Σ_{j<i} c_j (once one
    // source is uncapped every larger one is too — the test is
    // monotone), and every uncapped source gets the common water
    // level (B − Σ_capped c_j) / #uncapped. 100 TB shape: the corpus
    // collapses to an L-row (source, n_tokens) hash-agg — the sort /
    // prefix-sum / level windows all run on the L-row table
    // (L = #sources, dozens), never on the corpus. Integer token
    // counts keep capacities and the capped test exact; the one
    // division (water level) rounds to 6 at the edge.
    "pipe_unimax" -> ((s, d) => {
      val B = 2L   // budget = B·(total corpus tokens)
      val src = t(s, d, "documents")
        .withColumn("tk", TextOps.tokens(col("text")))
        .groupBy("source").agg(sum(size(col("tk"))).as("n_tok"))
        // try_cast+coalesce: an unparseable source id (dirty metadata)
        // falls back to the minimum epoch cap instead of throwing
        // CAST_INVALID_INPUT under ANSI (TextExec sweep, round 10)
        .withColumn("e_cap", lit(1) +
          pmod(coalesce(substring(col("source"), 4, 10).try_cast("int"),
            lit(0)), lit(4)))
      val tot = src.agg(
        (sum(col("n_tok")) * lit(B)).as("b"), count(lit(1)).as("l"))
      val ord = Window.orderBy(col("cap"), col("source"))
      val all = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val lvl = src.crossJoin(broadcast(tot))
        .withColumn("cap", col("n_tok") * col("e_cap"))
        .withColumn("i", row_number().over(ord))
        // integer capped test: all quantities are exact token counts
        .withColumn("capped", col("cap") * (col("l") - col("i") + 1) <=
          col("b") - coalesce(sum(col("cap")).over(
            ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("level",
          // NULLIF: when EVERY source is capped there is no water
          // level (the capped branch below never reads it) — NULL,
          // not an ANSI DIVIDE_BY_ZERO crash (EdgeExec single-row
          // sweep, round 10)
          (col("b") - coalesce(sum(when(col("capped"), col("cap")))
            .over(all), lit(0L))).cast("double") /
          nullif(sum(when(!col("capped"), 1).otherwise(0)).over(all)
            .cast("double"), lit(0.0)))
      lvl.select(col("source"), col("n_tok"), col("e_cap"),
          col("cap").as("cap_tokens"),
          when(col("capped"), col("cap").cast("double"))
            .otherwise(round(col("level"), 6)).as("alloc_tokens"),
          round(when(col("capped"), col("cap").cast("double"))
            .otherwise(round(col("level"), 6)) /
            col("n_tok").cast("double"), 6).as("epochs"))
        .orderBy("source")
    }),
  )

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"
  private val stopSql = "['the', 'a', 'and', 'of']"

  def oracleSql: Map[String, String] = Map(
    "text_stats" ->
      s"""SELECT doc_id,
          CAST(len($toksSql) AS INT) AS n_tok,
          CAST(length(text) AS INT) AS n_char,
          CAST(len(list_distinct($toksSql)) AS INT) AS n_uniq,
          CAST(list_sum(list_transform($toksSql, t -> length(t))) AS INT) AS tok_chars
          FROM documents ORDER BY doc_id""",
    "text_quality" ->
      s"""SELECT doc_id,
          CAST(len(list_filter($toksSql, t -> list_contains($stopSql, t))) AS INT) AS n_stop,
          CAST(CAST(len(list_filter($toksSql, t -> list_contains($stopSql, t)))
                    AS DECIMAL(18,8))
               / CAST(NULLIF(len($toksSql), 0) AS DECIMAL(18,8)) AS DOUBLE) AS stop_ratio,
          CAST(CAST(len(list_distinct($toksSql)) AS DECIMAL(18,8))
               / CAST(NULLIF(len($toksSql), 0) AS DECIMAL(18,8)) AS DOUBLE) AS ttr,
          (len($toksSql) >= 20 AND len($toksSql) <= 90) AS len_ok
          FROM documents ORDER BY doc_id""",
    "text_gopher" ->
      s"""WITH f AS (SELECT doc_id, $toksSql AS tk FROM documents),
          g AS (SELECT doc_id, len(tk) AS n_tok,
                  CAST(CAST(list_sum(list_transform(tk, t -> length(t)))
                            AS DECIMAL(18,8))
                       / CAST(len(tk) AS DECIMAL(18,8)) AS DOUBLE) AS mean_wlen,
                  len(list_filter(tk, t -> list_contains($stopSql, t))) AS n_stop,
                  CAST(CAST(len(list_distinct(tk)) AS DECIMAL(18,8))
                       / CAST(len(tk) AS DECIMAL(18,8)) AS DOUBLE) AS ttr,
                  CAST(CAST(list_max(list_transform(list_distinct(tk),
                              u -> len(list_filter(tk, x -> x = u))))
                            AS DECIMAL(18,8))
                       / CAST(len(tk) AS DECIMAL(18,8)) AS DOUBLE) AS top_frac
                FROM f WHERE len(tk) > 0)
          SELECT doc_id, CAST(n_tok AS INT) AS n_tok, mean_wlen,
                 CAST(n_stop AS INT) AS n_stop, ttr, top_frac,
                 (n_tok BETWEEN 15 AND 90) AS r_len,
                 (mean_wlen BETWEEN CAST(3.8 AS DOUBLE) AND CAST(4.4 AS DOUBLE))
                   AS r_wlen,
                 (n_stop >= 2) AS r_stop,
                 (ttr >= CAST(0.45 AS DOUBLE)) AS r_ttr,
                 (top_frac <= CAST(0.11 AS DOUBLE)) AS r_top,
                 ((n_tok BETWEEN 15 AND 90)
                  AND (mean_wlen BETWEEN CAST(3.8 AS DOUBLE) AND CAST(4.4 AS DOUBLE))
                  AND (n_stop >= 2)
                  AND (ttr >= CAST(0.45 AS DOUBLE))
                  AND (top_frac <= CAST(0.11 AS DOUBLE))) AS keep
          FROM g ORDER BY doc_id""",
    "text_langid" ->
      s"""SELECT doc_id, lang,
          CASE WHEN len(list_filter($toksSql, t -> list_contains($stopSql, t))) > 0
               THEN 'en' ELSE 'unk' END AS guess,
          (lang = CASE WHEN len(list_filter($toksSql, t -> list_contains($stopSql, t))) > 0
                       THEN 'en' ELSE 'unk' END) AS agree
          FROM documents ORDER BY doc_id""",
    "text_readability" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
                     WHERE len($toksSql) > 0),
          m AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_tok,
                  CAST(list_sum(list_transform(tk,
                    t -> len(regexp_extract_all(t, '[aeiou]+')))) AS INT)
                    AS n_syl,
                  CAST(len(list_filter(tk,
                    t -> len(regexp_extract_all(t, '[aeiou]+')) >= 3))
                    AS INT) AS n_poly
                FROM d)
          SELECT doc_id, n_tok, n_syl, n_poly,
                 CAST(CAST(n_syl AS DECIMAL(18,8)) /
                      CAST(n_tok AS DECIMAL(18,8)) AS DOUBLE)
                   AS syl_per_word,
                 CAST(CAST(n_poly AS DECIMAL(18,8)) /
                      CAST(n_tok AS DECIMAL(18,8)) AS DOUBLE) AS poly_frac,
                 (CAST(CAST(n_syl AS DECIMAL(18,8)) /
                       CAST(n_tok AS DECIMAL(18,8)) AS DOUBLE)
                    > CAST(1.8 AS DOUBLE)
                  OR CAST(CAST(n_poly AS DECIMAL(18,8)) /
                          CAST(n_tok AS DECIMAL(18,8)) AS DOUBLE)
                    > CAST(0.1 AS DOUBLE)) AS hard
          FROM m ORDER BY doc_id""",
    "text_zipf" ->
      s"""WITH vocab AS (SELECT w, count(*) AS c
                         FROM (SELECT unnest($toksSql) AS w FROM documents)
                         GROUP BY 1),
          ranked AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
                            ln(CAST(c AS DOUBLE)) AS y FROM (
                       SELECT c, row_number() OVER (ORDER BY c DESC, w)
                         AS rank
                       FROM vocab) r WHERE rank <= 30),
          sums AS (SELECT ${ExactSql.fsum("x")} AS sx,
                          ${ExactSql.fsum("y")} AS sy,
                          ${ExactSql.fsum("x * x")} AS sxx,
                          ${ExactSql.fsum("x * y")} AS sxy
                   FROM ranked)
          SELECT CAST(30 AS INT) AS k,
                 round((CAST(30.0 AS DOUBLE) * sxy - sx * sy)
                   / (CAST(30.0 AS DOUBLE) * sxx - sx * sx), 6) AS slope,
                 round((sy - ((CAST(30.0 AS DOUBLE) * sxy - sx * sy)
                   / (CAST(30.0 AS DOUBLE) * sxx - sx * sx)) * sx)
                   / CAST(30.0 AS DOUBLE), 6) AS intercept
          FROM sums""",
    "text_langid_nb" ->
      s"""WITH d AS (SELECT doc_id, lang, $toksSql AS tk FROM documents
                     WHERE len($toksSql) > 0),
          dt AS (SELECT doc_id, lang, unnest(tk) AS w FROM d),
          dtm AS (SELECT doc_id, lang, w, count(*) AS m FROM dt GROUP BY 1, 2, 3),
          lt AS (SELECT lang AS l, w, count(*) AS c FROM dt GROUP BY 1, 2),
          tl AS (SELECT l, sum(c) AS t FROM lt GROUP BY 1),
          vs AS (SELECT count(DISTINCT w) AS v FROM dt),
          pri AS (SELECT lang AS l, count(*) AS nd FROM d GROUP BY 1),
          nda AS (SELECT count(*) AS ndall FROM d),
          langs AS (SELECT l, t, nd, ndall, v
                    FROM tl JOIN pri USING (l) CROSS JOIN nda CROSS JOIN vs),
          terms AS (SELECT dtm.doc_id, dtm.lang, lg.l,
                           CAST(m AS DOUBLE) *
                             ln((CAST(coalesce(c, 0) AS DOUBLE)
                                 + CAST(1.0 AS DOUBLE))
                                / CAST(t + v AS DOUBLE)) AS term,
                           nd, ndall
                    FROM dtm CROSS JOIN langs lg
                    LEFT JOIN lt ON lt.l = lg.l AND lt.w = dtm.w),
          pl AS (SELECT doc_id, lang, l,
                        round(${graft.core.ExactSql.fsum(
                          "term / CAST(4.0 AS DOUBLE)")}
                          * CAST(4.0 AS DOUBLE)
                        + ln(CAST(nd AS DOUBLE) / CAST(ndall AS DOUBLE)), 6)
                          AS w8
                 FROM terms GROUP BY doc_id, lang, l, nd, ndall),
          pred AS (SELECT doc_id, lang, l AS guess FROM (
                     SELECT doc_id, lang, l,
                            row_number() OVER (PARTITION BY doc_id
                                               ORDER BY w8 DESC, l) AS rn
                     FROM pl) x WHERE rn = 1)
          SELECT lang, guess, count(*) AS n
          FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_tfidf" ->
      s"""WITH docs AS (SELECT doc_id, $toksSql AS tk FROM documents),
          toks AS (SELECT doc_id, len(tk) AS dlen, unnest(tk) AS tok FROM docs),
          nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
          dfr AS (SELECT tok, count(*) AS df
                  FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1),
          tfr AS (SELECT doc_id, dlen, tok, count(*) AS tf
                  FROM toks GROUP BY 1, 2, 3),
          scored AS (
            SELECT doc_id, tok,
                   round((CAST(tf AS DOUBLE) / dlen)
                         * ln(CAST(n AS DOUBLE) / df), 8) AS w
            FROM tfr JOIN dfr USING (tok) CROSS JOIN nd)
          SELECT doc_id, tok, w FROM (
            SELECT doc_id, tok, w,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY w DESC, tok) AS rn
            FROM scored) x
          WHERE rn = 1 ORDER BY doc_id""",
    "text_token_freq" ->
      s"""SELECT tok, count(*) AS cnt
          FROM (SELECT unnest($toksSql) AS tok FROM documents)
          GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""",
    "pipe_groupsplit" -> {
      val dh = TextOps.hash32Sql("'split:' || CAST(doc_id AS VARCHAR)")
      val gh = TextOps.hash32Sql("'gsplit:' || md5(text)")
      def nm(e: String) =
        s"""CASE WHEN ($e) % 100 < 80 THEN 'train'
                 WHEN ($e) % 100 < 90 THEN 'val' ELSE 'test' END"""
      s"""WITH base AS (SELECT doc_id, n_chars, md5(text) AS h,
                               ${nm(dh)} AS dsp, ${nm(gh)} AS gsp
                        FROM documents),
          leak AS (SELECT CAST(sum(CASE WHEN nsp > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS leaked_groups_docsplit
                   FROM (SELECT h, count(DISTINCT dsp) AS nsp
                         FROM base GROUP BY 1) g)
          SELECT gsp AS split, count(*) AS n_docs,
                 count(DISTINCT h) AS n_groups,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars,
                 leaked_groups_docsplit
          FROM base CROSS JOIN leak
          GROUP BY 1, leaked_groups_docsplit ORDER BY split"""
    },
    "pipe_split" -> {
      val h = TextOps.hash32Sql("'split:' || CAST(doc_id AS VARCHAR)")
      s"""SELECT lang,
                 CASE WHEN ($h) % 100 < 80 THEN 'train'
                      WHEN ($h) % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
          FROM documents GROUP BY 1, 2 ORDER BY lang, split"""
    },
    "pipe_sample" -> {
      val h = TextOps.hash32Sql("'sample:' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang FROM documents
          WHERE ($h) % 100 < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
          ORDER BY doc_id"""
    },
    "pipe_zorder" -> {
      def spread(e: String): String = {
        val m1 = s"(($e) & 255)"
        val m2 = s"((($m1) | (($m1) << 4)) & 3855)"   // 0x0F0F
        val m3 = s"((($m2) | (($m2) << 2)) & 13107)"  // 0x3333
        s"((($m3) | (($m3) << 1)) & 21845)"           // 0x5555
      }
      s"""WITH q AS (
            SELECT doc_id,
                   CAST(greatest(least(floor(n_chars / 16), 255), 0) AS INT) AS q_len,
                   CAST(floor(CAST(CAST(len(list_distinct($toksSql)) AS DECIMAL(18,8))
                              / CAST(NULLIF(len($toksSql), 0) AS DECIMAL(18,8)) AS DOUBLE)
                              * 255) AS INT) AS q_ttr
            FROM documents)
          SELECT doc_id, q_len, q_ttr,
                 CAST(((${spread("q_len")}) << 1) | (${spread("q_ttr")}) AS INT)
                   AS z,
                 CAST((((${spread("q_len")}) << 1) | (${spread("q_ttr")})) >> 10
                   AS INT) AS shard
          FROM q ORDER BY doc_id"""
    },
    "pipe_urlnorm" ->
      s"""WITH raw AS (
            SELECT doc_id, source,
                   (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
                   || '://'
                   || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
                   || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
                   || '.example.com/doc/' || CAST(doc_id % 50 AS VARCHAR)
                   || '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
                   || (CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END)
                   || (CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END) AS url
            FROM documents),
          parts AS (
            SELECT doc_id,
                   split_part(split_part(url, '#', 1), '?', 1) AS base,
                   split_part(split_part(url, '#', 1), '?', 2) AS query
            FROM raw),
          np AS (
            SELECT doc_id,
                   lower(split_part(base, '://', 1)) AS scheme,
                   split_part(base, '://', 2) AS hostpath,
                   array_to_string(list_filter(string_split(query, '&'),
                     p -> NOT starts_with(p, 'utm_')), '&') AS kept_params
            FROM parts),
          canon AS (
            SELECT doc_id,
                   scheme || '://'
                   || regexp_replace(lower(split_part(hostpath, '/', 1)),
                                     '^www\\.', '')
                   || substr(hostpath, length(split_part(hostpath, '/', 1)) + 1)
                   || (CASE WHEN kept_params <> '' THEN '?' || kept_params
                            ELSE '' END) AS canon,
                   regexp_replace(lower(split_part(hostpath, '/', 1)),
                                  '^www\\.', '') AS domain
            FROM np)
          SELECT doc_id, canon, domain,
                 domain IN ('src3.example.com') AS blocked,
                 (NOT domain IN ('src3.example.com'))
                   AND doc_id = min(doc_id) OVER (PARTITION BY canon) AS kept
          FROM canon ORDER BY doc_id""",
    "pipe_ksample" -> {
      val h = TextOps.hash32Sql("'ksample:' || CAST(doc_id AS VARCHAR)")
      s"""WITH r AS (SELECT lang, source, doc_id,
                            row_number() OVER (PARTITION BY lang, source
                                               ORDER BY ($h) ASC, doc_id ASC)
                              AS rk
                     FROM documents)
          SELECT lang, source, CAST(rk AS INT) AS rk, doc_id
          FROM r WHERE rk <= 5 ORDER BY lang, source, rk"""
    },
    "text_chi2" ->
      s"""WITH cells AS (SELECT lang, source, count(*) AS o
                         FROM documents GROUP BY 1, 2),
          rws AS (SELECT lang, sum(o) AS rl FROM cells GROUP BY 1),
          cls AS (SELECT source, sum(o) AS cs FROM cells GROUP BY 1),
          nn AS (SELECT sum(o) AS n FROM cells),
          terms AS (SELECT cells.lang, cells.source, nn.n,
                      (CAST(o AS DOUBLE) -
                       CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
                         / CAST(n AS DOUBLE)) *
                      (CAST(o AS DOUBLE) -
                       CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
                         / CAST(n AS DOUBLE)) /
                      (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
                         / CAST(n AS DOUBLE)) AS term
                    FROM cells JOIN rws USING (lang)
                    JOIN cls USING (source) CROSS JOIN nn)
          SELECT CAST(n AS BIGINT) AS n,
                 CAST(count(DISTINCT lang) AS BIGINT) AS r,
                 CAST(count(DISTINCT source) AS BIGINT) AS c,
                 CAST((count(DISTINCT lang) - 1) *
                      (count(DISTINCT source) - 1) AS BIGINT) AS df,
                 round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_sort(array_agg(term))), (a, v) -> a + v), 6) AS chi2
          FROM terms GROUP BY n""",
    "text_ks" ->
      s"""WITH b AS (SELECT source, CAST(len($toksSql) AS INT) AS n_tok
                     FROM documents WHERE source IN ('src1', 'src2')),
          h AS (SELECT n_tok,
                  CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1,
                  CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c2
                FROM b GROUP BY 1),
          tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                         CAST(sum(c2) AS BIGINT) AS n2 FROM h),
          cdf AS (SELECT x.n_tok, CAST(sum(y.c1) AS BIGINT) AS f1,
                         CAST(sum(y.c2) AS BIGINT) AS f2
                  FROM h x JOIN h y ON y.n_tok <= x.n_tok GROUP BY 1),
          k AS (SELECT n1, n2,
                       max(abs(CAST(f1 AS DOUBLE) / NULLIF(n1, 0) -
                               CAST(f2 AS DOUBLE) / NULLIF(n2, 0))) AS ks
                FROM cdf CROSS JOIN tot GROUP BY 1, 2)
          SELECT n1, n2, ks,
                 ks > CAST(1.358 AS DOUBLE) *
                      sqrt(CAST(n1 + n2 AS DOUBLE) /
                           (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                   AS drifted
          FROM k""",
    "text_mannwhitney" ->
      s"""WITH b AS (SELECT source, CAST(len($toksSql) AS INT) AS n_tok
                     FROM documents WHERE source IN ('src1', 'src2')),
          h AS (SELECT n_tok,
                  CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1,
                  CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c2
                FROM b GROUP BY 1),
          tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                         CAST(sum(c2) AS BIGINT) AS n2 FROM h),
          cum AS (SELECT x.n_tok, x.c1, x.c2,
                         CAST(coalesce(sum(y.c1 + y.c2), 0) AS BIGINT) AS fb
                  FROM h x LEFT JOIN h y ON y.n_tok < x.n_tok
                  GROUP BY 1, 2, 3),
          trm AS (SELECT
                    CAST(sum(c1 * (2 * fb + c1 + c2 + 1)) AS BIGINT) AS r2x,
                    CAST(sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
                         AS BIGINT) AS tcorr
                  FROM cum)
          SELECT n1, n2,
                 CAST(r2x AS DOUBLE) / CAST(2.0 AS DOUBLE)
                   - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                       / CAST(2.0 AS DOUBLE) AS u1,
                 (CAST(r2x AS DOUBLE) / CAST(2.0 AS DOUBLE)
                    - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                        / CAST(2.0 AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(2.0 AS DOUBLE))
                 / NULLIF(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(12.0 AS DOUBLE)
                     * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                        - CAST(tcorr AS DOUBLE)
                          / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                             * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - CAST(1.0 AS DOUBLE))))),
                   CAST(0.0 AS DOUBLE)) AS z,
                 abs((CAST(r2x AS DOUBLE) / CAST(2.0 AS DOUBLE)
                    - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                        / CAST(2.0 AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(2.0 AS DOUBLE))
                 / NULLIF(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(12.0 AS DOUBLE)
                     * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                        - CAST(tcorr AS DOUBLE)
                          / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                             * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - CAST(1.0 AS DOUBLE))))),
                   CAST(0.0 AS DOUBLE))) > CAST(1.96 AS DOUBLE) AS shifted
          FROM trm CROSS JOIN tot""",
    "text_outliers" ->
      s"""WITH b AS (SELECT doc_id, lang, CAST(len($toksSql) AS INT) AS n_tok
                     FROM documents),
          med AS (SELECT lang, quantile_cont(n_tok, 0.5) AS med
                  FROM b GROUP BY 1),
          dv AS (SELECT b.doc_id, b.lang, b.n_tok, med.med,
                        abs(n_tok - med) AS dev
                 FROM b JOIN med USING (lang)),
          mad AS (SELECT lang, quantile_cont(dev, 0.5) AS mad
                  FROM dv GROUP BY 1)
          SELECT doc_id, dv.lang, n_tok, med, mad, dev,
                 dev > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad
                   AS outlier
          FROM dv JOIN mad USING (lang) ORDER BY doc_id""",
    "pipe_wsample" -> {
      val h = TextOps.hash32Sql("'wsample:' || CAST(doc_id AS VARCHAR)")
      s"""WITH w AS (SELECT doc_id, lang,
                            CAST(len($toksSql) AS INT) AS n_tok,
                            ($h) AS h
                     FROM documents)
          SELECT doc_id, lang, n_tok,
                 round(ln((CAST(h AS DOUBLE) + CAST(1.0 AS DOUBLE))
                          / CAST(4294967296.0 AS DOUBLE))
                       / n_tok, 6) AS pri
          FROM w WHERE n_tok > 0
          ORDER BY pri DESC, doc_id ASC LIMIT 100"""
    },
    "pipe_shard" -> {
      val h = TextOps.hash32Sql("'shard:' || CAST(doc_id AS VARCHAR)")
      s"""WITH hs AS (SELECT doc_id, ($h) AS h FROM documents)
          SELECT doc_id, h % 64 AS shard,
                 CAST(row_number() OVER (PARTITION BY h % 64
                                         ORDER BY h, doc_id) AS INT) AS pos
          FROM hs ORDER BY doc_id"""
    },
    "pipe_lenbucket" ->
      s"""WITH b AS (SELECT doc_id, lang, CAST(len($toksSql) AS INT) AS n_tok
                     FROM documents),
          f AS (SELECT doc_id, lang, n_tok,
                       CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                            WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                            ELSE 256 END AS bucket
                FROM b WHERE n_tok > 0)
          SELECT lang, bucket, count(*) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS sum_tok,
                 CAST(sum(bucket - n_tok) AS BIGINT) AS waste,
                 CAST(sum(n_tok) AS DOUBLE) / (bucket * count(*)) AS fill
          FROM f GROUP BY 1, 2 ORDER BY lang, bucket""",
    "pipe_epochs" -> {
      val h = TextOps.hash32Sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)")
      s"""WITH b AS (SELECT doc_id, CAST(unnest(range(0, 2)) AS INT) AS epoch
                     FROM documents),
          hs AS (SELECT doc_id, epoch, ($h) AS h FROM b)
          SELECT epoch, h % 64 AS shard,
                 CAST(row_number() OVER (PARTITION BY epoch, h % 64
                                         ORDER BY h, doc_id) AS INT) AS pos,
                 doc_id
          FROM hs ORDER BY epoch, shard, pos"""
    },
    "pipe_curriculum" -> {
      val h = TextOps.hash32Sql("'cur:' || CAST(doc_id AS VARCHAR)")
      s"""WITH b AS (SELECT doc_id,
                            CAST(len($toksSql) AS INT) AS n_tok,
                            ($h) AS h
                     FROM documents),
          st AS (SELECT doc_id, n_tok, h,
                        CASE WHEN n_tok < 32 THEN 0
                             WHEN n_tok < 64 THEN 1
                             WHEN n_tok < 128 THEN 2
                             ELSE 3 END AS stage,
                        h % 64 AS shard
                 FROM b)
          SELECT stage, shard,
                 CAST(row_number() OVER (PARTITION BY stage, shard
                                         ORDER BY h, doc_id) AS INT) AS pos,
                 doc_id, n_tok
          FROM st ORDER BY stage, shard, pos"""
    },
    "text_lm_nll" ->
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS m
                      FROM (SELECT doc_id, unnest($toksSql) AS tok
                            FROM documents) GROUP BY 1, 2),
          freq AS (SELECT tok, sum(m) AS cnt FROM tf GROUP BY 1),
          n AS (SELECT sum(cnt) AS n FROM freq),
          lp AS (SELECT doc_id, m,
                        CAST(m AS DOUBLE) *
                          ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) AS mlnp
                 FROM tf JOIN freq USING (tok) CROSS JOIN n)
          SELECT doc_id,
                 round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_sort(array_agg(mlnp))), (a, v) -> a + v)
                   / CAST(sum(m) AS DOUBLE)), 6) AS nll
          FROM lp GROUP BY doc_id ORDER BY doc_id""",
    "text_entropy" ->
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS m
                      FROM (SELECT doc_id, unnest($toksSql) AS tok
                            FROM documents) GROUP BY 1, 2),
          terms AS (SELECT doc_id, m,
                           CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)) AS mlm
                    FROM tf)
          SELECT doc_id, CAST(sum(m) AS BIGINT) AS n, count(*) AS k,
                 round((ln(CAST(sum(m) AS DOUBLE)) -
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list_sort(array_agg(mlm))), (a, v) -> a + v)
                          / CAST(sum(m) AS DOUBLE))
                       / ln(CAST(2.0 AS DOUBLE)), 6) AS ent
          FROM terms GROUP BY doc_id ORDER BY doc_id""",
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp_md5, ${TextOps.hash32Sql("text")} AS fp32
          FROM documents ORDER BY doc_id""",
    // rightmost-min tie-break = row_number ordered (h ASC, pos DESC)
    "text_winnow" ->
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
                   AND b.pos BETWEEN a.pos AND a.pos + 3)
          SELECT DISTINCT doc_id, pos, h
          FROM win WHERE n = 4 AND rn = 1
          ORDER BY doc_id, pos""",
    "text_lm_bigram" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents),
          bgd AS (SELECT doc_id, b, count(*) AS m FROM (
                    SELECT doc_id, tk[i] || ' ' || tk[i+1] AS b
                    FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
                    WHERE i + 1 <= len(tk)) GROUP BY 1, 2),
          bgf AS (SELECT b, sum(m) AS cb FROM bgd GROUP BY 1),
          ctxf AS (SELECT string_split(b, ' ')[1] AS w1, sum(cb) AS cc
                   FROM bgf GROUP BY 1),
          lp AS (SELECT doc_id, m,
                        CAST(m AS DOUBLE) *
                          ln(CAST(cb AS DOUBLE) / CAST(cc AS DOUBLE)) AS mlnp
                 FROM bgd JOIN bgf USING (b)
                 JOIN ctxf ON string_split(b, ' ')[1] = w1)
          SELECT doc_id,
                 round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_sort(array_agg(mlnp))), (a, v) -> a + v)
                   / CAST(sum(m) AS DOUBLE)), 6) AS nll2
          FROM lp GROUP BY doc_id ORDER BY doc_id""",
    "text_kneser" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents),
          bgd AS (SELECT doc_id, b, count(*) AS m FROM (
                    SELECT doc_id, tk[i] || ' ' || tk[i+1] AS b
                    FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
                    WHERE i + 1 <= len(tk)) GROUP BY 1, 2),
          bgf AS (SELECT b, sum(m) AS cb, string_split(b, ' ')[1] AS w1,
                         string_split(b, ' ')[2] AS w2
                  FROM bgd GROUP BY b),
          cc AS (SELECT w1, sum(cb) AS cc, count(*) AS n1r FROM bgf GROUP BY 1),
          n1l AS (SELECT w2, count(*) AS n1l FROM bgf GROUP BY 1),
          nb AS (SELECT count(*) AS nb FROM bgf),
          tbl AS (SELECT b,
                    (CAST(cb AS DOUBLE) - CAST(0.75 AS DOUBLE))
                      / CAST(cc AS DOUBLE)
                    + (CAST(0.75 AS DOUBLE) * CAST(n1r AS DOUBLE))
                      / CAST(cc AS DOUBLE)
                      * (CAST(n1l AS DOUBLE) / CAST(nb AS DOUBLE)) AS p
                  FROM bgf JOIN cc USING (w1) JOIN n1l USING (w2)
                  CROSS JOIN nb),
          lp AS (SELECT doc_id, m, CAST(m AS DOUBLE) * ln(p) AS mlnp
                 FROM bgd JOIN tbl USING (b))
          SELECT doc_id,
                 round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_sort(array_agg(mlnp))), (a, v) -> a + v)
                   / CAST(sum(m) AS DOUBLE)), 6) AS nll_kn
          FROM lp GROUP BY doc_id ORDER BY doc_id""",
    "text_pmi" ->
      s"""WITH d AS (SELECT $toksSql AS tk FROM documents),
          bg AS (SELECT tk[i] || ' ' || tk[i+1] AS b
                 FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
                 WHERE i + 1 <= len(tk)),
          cnt AS (SELECT b, count(*) AS n_ab FROM bg GROUP BY 1),
          w AS (SELECT b, n_ab, string_split(b, ' ')[1] AS w1,
                       string_split(b, ' ')[2] AS w2
                FROM cnt),
          ca AS (SELECT w1, sum(n_ab) AS ca FROM w GROUP BY 1),
          cb AS (SELECT w2, sum(n_ab) AS cb FROM w GROUP BY 1),
          tot AS (SELECT sum(n_ab) AS nb FROM cnt)
          SELECT w.w1, w.w2, CAST(w.n_ab AS BIGINT) AS n_ab,
                 round(ln(CAST(w.n_ab AS DOUBLE) * CAST(nb AS DOUBLE) /
                          (CAST(ca.ca AS DOUBLE) * CAST(cb.cb AS DOUBLE))), 6)
                   AS pmi
          FROM w JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN tot
          WHERE w.n_ab >= 5
          ORDER BY pmi DESC, w.w1, w.w2 LIMIT 50""",
    "text_bpe_train" -> {
      // one training round: pair counts over the current symbol table,
      // top merge, then the merged symbol table for the next round
      def round(wfIn: String, n: Int): String =
        s"""p$n AS (SELECT sy[i] || ' ' || sy[i+1] AS pair, sum(cnt) AS pcnt
               FROM (SELECT cnt, list_filter(string_split(sym, ' '),
                                             x -> x <> '') AS sy FROM $wfIn) t,
                    LATERAL (SELECT unnest(range(1, len(sy) + 1)) AS i) r
               WHERE i + 1 <= len(sy) GROUP BY 1),
           t$n AS (SELECT $n AS rnd, pair, replace(pair, ' ', '') AS merged,
                          pcnt
                   FROM p$n ORDER BY pcnt DESC, pair LIMIT 1),
           wf${n + 1} AS (SELECT cnt,
                   replace(sym, ' ' || (SELECT pair FROM t$n) || ' ',
                           ' ' || (SELECT merged FROM t$n) || ' ') AS sym
                 FROM $wfIn)"""
      s"""WITH wf1 AS (
            SELECT count(*) AS cnt,
                   ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS sym
            FROM (SELECT unnest($toksSql) AS w FROM documents) GROUP BY 2),
          ${round("wf1", 1)},
          ${round("wf2", 2)},
          ${round("wf3", 3)}
          SELECT CAST(rnd AS INT) AS rnd, pair, merged,
                 CAST(pcnt AS BIGINT) AS pcnt
          FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2
                UNION ALL SELECT * FROM t3)
          ORDER BY rnd"""
    },
    "text_unigram_seed" ->
      s"""WITH wf AS (SELECT w, count(*) AS cnt
                      FROM (SELECT unnest($toksSql) AS w FROM documents)
                      GROUP BY 1),
          p AS (SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
                       sum(cnt) AS freq
                FROM wf,
                     LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) a,
                     LATERAL (SELECT unnest(range(2, 7)) AS l) b
                WHERE i + l - 1 <= length(w) GROUP BY 1)
          SELECT piece, CAST(freq AS BIGINT) AS freq,
                 CAST(freq * length(piece) AS BIGINT) AS score
          FROM p ORDER BY score DESC, piece LIMIT 30""",
    "text_oov" ->
      s"""WITH toks AS (SELECT lang, unnest($toksSql) AS w FROM documents
                        WHERE len($toksSql) > 0),
          vocab AS (SELECT w FROM (
                      SELECT w, count(*) AS cf FROM toks GROUP BY 1
                      ORDER BY cf DESC, w LIMIT 20)),
          g AS (SELECT lang, count(*) AS n_tokens,
                       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_oov
                FROM toks t LEFT JOIN vocab v ON t.w = v.w
                GROUP BY 1)
          SELECT lang, n_tokens, n_oov,
                 round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate,
                 round(1.0 - CAST(n_oov AS DOUBLE) / n_tokens, 6)
                   AS coverage
          FROM g ORDER BY lang""",
    "text_fertility" ->
      s"""WITH d AS (SELECT lang,
                            CAST(len($toksSql) AS BIGINT) AS nw,
                            CAST(list_sum(list_transform(
                              regexp_extract_all(text,
                                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
                              t -> CAST(ceil(CAST(length(t) AS DOUBLE) / 4)
                                   AS BIGINT))) AS BIGINT) AS nb,
                            CAST(length(text) AS BIGINT) AS nc
                     FROM documents WHERE len($toksSql) > 0),
          g AS (SELECT lang, count(*) AS n_docs,
                       CAST(sum(nw) AS BIGINT) AS n_words,
                       CAST(sum(nb) AS BIGINT) AS n_subwords,
                       CAST(sum(nc) AS BIGINT) AS n_bytes
                FROM d GROUP BY 1)
          SELECT lang, n_docs, n_words, n_subwords,
                 round(CAST(n_subwords AS DOUBLE) / n_words, 6) AS fertility,
                 round(CAST(n_bytes AS DOUBLE) / n_subwords, 6)
                   AS bytes_per_subword
          FROM g ORDER BY lang""",
    "text_bpe" ->
      s"""SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                      AS INT) AS n_pretok,
                 CAST(list_sum(list_transform(
                        regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
                        t -> CAST(ceil(CAST(length(t) AS DOUBLE) / 4) AS BIGINT)))
                      AS BIGINT) AS n_bpe
          FROM documents ORDER BY doc_id""",
    "pipe_spancorrupt" -> {
      val h = TextOps.hash32Sql("doc_id || ':' || j")
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
                     WHERE len($toksSql) > 0),
          base AS (SELECT doc_id, tk, len(tk) AS n,
                     list_transform(range(0, len(tk)),
                       j -> CASE WHEN $h % 20 = 0 THEN 2 + $h % 3
                                 ELSE 0 END) AS sl
                   FROM d),
          flg AS (SELECT doc_id, tk, n,
                    list_transform(range(0, n),
                      i -> len(list_filter(
                             range(CASE WHEN i >= 3 THEN i - 3 ELSE 0 END,
                                   i + 1),
                             j -> sl[j + 1] > 0 AND i - j < sl[j + 1])) > 0)
                      AS fl
                  FROM base)
          SELECT doc_id, CAST(n AS INT) AS n_tok,
                 CAST(len(list_filter(fl, x -> x)) AS BIGINT) AS n_corr,
                 CAST(len(list_filter(range(0, n),
                   i -> fl[i + 1] AND (i = 0 OR NOT fl[i]))) AS BIGINT)
                   AS n_spans,
                 round(CAST(len(list_filter(fl, x -> x)) AS DOUBLE)
                   / CAST(n AS DOUBLE), 6) AS corrupt_ratio,
                 array_to_string(list_transform(range(0, n),
                   i -> CASE WHEN fl[i + 1] THEN '_' ELSE tk[i + 1] END), ' ')
                   AS masked,
                 coalesce(array_to_string(list_filter(tk, (x, i) -> fl[i]),
                   ' '), '') AS targets
          FROM flg ORDER BY doc_id"""
    },
    "pipe_dsir" ->
      s"""WITH d AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
          feats AS (SELECT doc_id, source,
                           ${TextOps.hash32Sql("tk[i] || ' ' || tk[i+1]")} % 64
                             AS f
                    FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
                    WHERE i + 1 <= len(tk)),
          dfb AS (SELECT doc_id, source, f, count(*) AS m
                  FROM feats GROUP BY 1, 2, 3),
          spine AS (SELECT unnest(range(0, 64)) AS f),
          tgt AS (SELECT s.f, coalesce(sum(m), 0) AS ct FROM spine s
                  LEFT JOIN (SELECT * FROM dfb WHERE source = 'src0') t
                    USING (f) GROUP BY 1),
          raw AS (SELECT s.f, coalesce(sum(m), 0) AS cr FROM spine s
                  LEFT JOIN (SELECT * FROM dfb WHERE source <> 'src0') t
                    USING (f) GROUP BY 1),
          tots AS (SELECT (SELECT sum(ct) + 64 FROM tgt) AS tt,
                          (SELECT sum(cr) + 64 FROM raw) AS tr),
          lr AS (SELECT f,
                   ln((CAST(ct AS DOUBLE) + CAST(1.0 AS DOUBLE))
                      / CAST(tt AS DOUBLE))
                   - ln((CAST(cr AS DOUBLE) + CAST(1.0 AS DOUBLE))
                      / CAST(tr AS DOUBLE)) AS lw
                 FROM tgt JOIN raw USING (f) CROSS JOIN tots),
          sc AS (SELECT doc_id,
                   round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_sort(array_agg(CAST(m AS DOUBLE) * lw))),
                     (a, v) -> a + v), 6) AS w
                 FROM dfb JOIN lr USING (f)
                 WHERE source <> 'src0' GROUP BY 1)
          SELECT doc_id, w FROM sc ORDER BY w DESC, doc_id LIMIT 100""",
    "pipe_decontam" ->
      s"""WITH d AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
          sh AS (SELECT DISTINCT doc_id, source, ${TextOps.hash32Sql("sh")} AS sh
                 FROM (SELECT doc_id, source,
                              tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
                       FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
                       WHERE i + 2 <= len(tk))),
          bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
          tr AS (SELECT DISTINCT doc_id FROM sh WHERE source <> 'src0'),
          hits AS (SELECT s.doc_id, count(*) AS nh
                   FROM sh s JOIN bench USING (sh)
                   WHERE s.source <> 'src0' GROUP BY 1)
          SELECT t.doc_id, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
                 coalesce(nh, 0) >= 5 AS contaminated
          FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id
          ORDER BY t.doc_id""",
    "text_repetition" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents),
          g AS (SELECT doc_id, len(tk) AS n_tok, len(tk) - 2 AS g_tot,
                       len(list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g_uni
                FROM d WHERE len(tk) >= 3),
          m AS (SELECT doc_id, max(c) AS max_c FROM (
                  SELECT doc_id, tok, count(*) AS c
                  FROM (SELECT doc_id, unnest(tk) AS tok FROM d) GROUP BY 1, 2)
                GROUP BY 1)
          SELECT doc_id,
                 1.0 - CAST(g_uni AS DOUBLE) / CAST(g_tot AS DOUBLE)
                   AS dup_3gram_frac,
                 CAST(max_c AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_tok_frac,
                 (1.0 - CAST(g_uni AS DOUBLE) / CAST(g_tot AS DOUBLE)
                    > CAST(0.01 AS DOUBLE)
                  OR CAST(max_c AS DOUBLE) / CAST(n_tok AS DOUBLE)
                    > CAST(0.14 AS DOUBLE)) AS repetitive
          FROM g JOIN m USING (doc_id) ORDER BY doc_id""",
    "pipe_mix" ->
      s"""WITH per_src AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source),
          w AS (SELECT source, n_docs, n_tokens,
                       sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw
                FROM per_src),
          z AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_sort(array_agg(w_raw))), (a, v) -> a + v) AS z
                FROM w)
          SELECT source, n_docs, n_tokens, round(w_raw / z, 8) AS weight
          FROM w CROSS JOIN z ORDER BY source""",
    "pipe_ccnet" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
                     WHERE len($toksSql) > 0),
          base AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS ntok,
                     CASE WHEN len(list_filter(tk,
                            t -> list_contains($stopSql, t))) > 0
                          THEN 'en' ELSE 'unk' END AS lang_guess
                   FROM d),
          ch AS (SELECT doc_id,
                   ${TextOps.hash32Sql(
                     "array_to_string(tk[i * 8 + 1 : i * 8 + 8], ' ')")} AS h
                 FROM base,
                      LATERAL (SELECT unnest(range(0,
                        CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS i) r),
          keeper AS (SELECT h, min(doc_id) AS doc_id FROM ch GROUP BY 1),
          keptc AS (SELECT doc_id, count(*) AS n_kept FROM keeper GROUP BY 1),
          gated AS (SELECT b.doc_id, b.tk, b.ntok, b.lang_guess
                    FROM base b LEFT JOIN keptc USING (doc_id)
                    WHERE 2 * coalesce(n_kept, 0)
                          >= CAST(ceil(len(tk) / 8.0) AS BIGINT)),
          tf AS (SELECT doc_id, tok, count(*) AS m
                 FROM (SELECT doc_id, unnest(tk) AS tok FROM gated)
                 GROUP BY 1, 2),
          freq AS (SELECT tok, sum(m) AS cnt FROM tf GROUP BY 1),
          n AS (SELECT sum(cnt) AS n FROM freq),
          lp AS (SELECT doc_id, m,
                        CAST(m AS DOUBLE) *
                          ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) AS mlnp
                 FROM tf JOIN freq USING (tok) CROSS JOIN n),
          nll AS (SELECT doc_id,
                         round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_sort(array_agg(mlnp))), (a, v) -> a + v)
                           / CAST(sum(m) AS DOUBLE)), 6) AS nll
                  FROM lp GROUP BY doc_id),
          scored AS (SELECT g.lang_guess, g.ntok, s.nll,
                            CAST(round(s.nll * 1000000.0, 0) AS BIGINT) AS nll_u
                     FROM gated g JOIN nll s USING (doc_id)),
          means AS (SELECT lang_guess,
                           CAST(sum(nll_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                             / CAST(1000000.0 AS DOUBLE) AS mean_nll
                    FROM scored GROUP BY 1)
          SELECT s.lang_guess,
                 CASE WHEN s.nll <= mean_nll * CAST(0.99 AS DOUBLE) THEN 'head'
                      WHEN s.nll >= mean_nll * CAST(1.01 AS DOUBLE) THEN 'tail'
                      ELSE 'middle' END AS bucket,
                 count(*) AS n_docs, CAST(sum(s.ntok) AS BIGINT) AS n_tokens,
                 round(CAST(sum(s.nll_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / CAST(1000000.0 AS DOUBLE), 6) AS avg_nll
          FROM scored s JOIN means USING (lang_guess)
          GROUP BY 1, 2 ORDER BY lang_guess, bucket""",
    "pipe_curation" ->
      s"""WITH docs AS (SELECT doc_id, text, lang, $toksSql AS tk FROM documents),
          quality AS (SELECT * FROM docs WHERE len(tk) >= 15),
          exact_keep AS (
            SELECT doc_id, text, lang, tk FROM (
              SELECT *, row_number() OVER (PARTITION BY md5(text)
                                           ORDER BY doc_id) AS rn
              FROM quality) x WHERE rn = 1),
          sh AS (SELECT DISTINCT doc_id, ${TextOps.hash32Sql("sh")} AS sh FROM (
                   SELECT doc_id,
                          tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
                   FROM exact_keep,
                        LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
                   WHERE i + 2 <= len(tk))),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          rare AS (SELECT sh FROM (SELECT sh, count(*) df FROM sh GROUP BY 1)
                   WHERE df <= 1000),
          shr AS (SELECT doc_id, x.sh FROM sh x JOIN rare USING (sh)),
          dup_b AS (
            SELECT DISTINCT db AS doc_id FROM (
              SELECT a.doc_id da, b.doc_id db, count(*) AS inter
              FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2) p
            JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
            WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
          kept AS (SELECT * FROM exact_keep
                   WHERE doc_id NOT IN (SELECT doc_id FROM dup_b))
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
                 CAST(sum(length(text)) AS BIGINT) AS n_chars
          FROM kept GROUP BY lang ORDER BY lang""",
    "pipe_pack" ->
      s"""WITH d AS (SELECT doc_id, lang,
                            CAST(len($toksSql) AS BIGINT) AS n_tok
                     FROM documents),
          o AS (SELECT doc_id, lang, n_tok,
                       CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                         - n_tok AS ofs
                FROM d)
          SELECT lang, CAST(floor(ofs / 256) AS BIGINT) AS seq_id,
                 count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM o GROUP BY 1, 2 ORDER BY lang, seq_id""",
    "pipe_classify" ->
      s"""WITH f AS (
            SELECT doc_id,
              CAST(CAST(len(list_filter($toksSql, t -> list_contains($stopSql, t)))
                        AS DECIMAL(18,8))
                   / CAST(NULLIF(len($toksSql), 0) AS DECIMAL(18,8)) AS DOUBLE) AS sr,
              CAST(CAST(len(list_distinct($toksSql)) AS DECIMAL(18,8))
                   / CAST(NULLIF(len($toksSql), 0) AS DECIMAL(18,8)) AS DOUBLE) AS ttr,
              CAST(len($toksSql) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS ln
            FROM documents),
          z AS (SELECT doc_id,
                  CAST(-0.8 AS DOUBLE) + CAST(2.5 AS DOUBLE) * sr
                    + CAST(-1.2 AS DOUBLE) * ttr
                    + CAST(0.9 AS DOUBLE) * ln AS z
                FROM f)
          SELECT doc_id,
                 round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-z)), 6) AS score,
                 round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-z)), 6) >= CAST(0.4 AS DOUBLE) AS keep
          FROM z ORDER BY doc_id""",
    "pipe_chunk" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents)
          SELECT doc_id, CAST(s / 24 AS INT) AS chunk_idx,
                 CAST(len(tk[s+1 : s+32]) AS INT) AS n_tok,
                 array_to_string(tk[s+1 : s+32], ' ') AS chunk
          FROM d, LATERAL (SELECT unnest(range(0, greatest(len(tk), 1), 24)) AS s) r
          ORDER BY doc_id, chunk_idx""",
    // capacity 64 > vocabulary, so the MG sketch is exact → the
    // oracle is plain exact counts
    "agg_heavy_hitters" ->
      s"""SELECT tok, count(*) AS est
          FROM (SELECT unnest($toksSql) AS tok FROM documents)
          GROUP BY tok ORDER BY est DESC, tok""",
    "pipe_profile" ->
      """WITH m AS (
           SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
           UNION ALL SELECT 'text', text FROM documents
           UNION ALL SELECT 'lang', lang FROM documents
           UNION ALL SELECT 'source', source FROM documents
           UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents)
         SELECT col_name, count(*) AS n_rows,
                count(CASE WHEN v IS NULL THEN 1 END) AS n_null,
                count(DISTINCT v) AS n_distinct,
                min(v) AS min_s, max(v) AS max_s
         FROM m GROUP BY 1 ORDER BY 1""",
    "text_jsd" ->
      s"""WITH toks AS (
            SELECT TRY_CAST(substr(source, 4, 10) AS INT) AS gen, unnest($toksSql) AS tok
            FROM documents
            WHERE TRY_CAST(substr(source, 4, 10) AS INT) IS NOT NULL),
          cnt AS (SELECT tok,
                         sum(CASE WHEN gen < 10 THEN 1 ELSE 0 END) AS c1,
                         sum(CASE WHEN gen >= 10 THEN 1 ELSE 0 END) AS c2
                  FROM toks GROUP BY 1),
          tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM cnt),
          terms AS (
            SELECT n1, n2,
                   ((CASE WHEN c1 > 0 THEN
                       (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) *
                       ln((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
                          ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) +
                            CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                           / CAST(2.0 AS DOUBLE)))
                     ELSE CAST(0.0 AS DOUBLE) END +
                     CASE WHEN c2 > 0 THEN
                       (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) *
                       ln((CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
                          ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) +
                            CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                           / CAST(2.0 AS DOUBLE)))
                     ELSE CAST(0.0 AS DOUBLE) END)
                    / CAST(2.0 AS DOUBLE)) AS term
            FROM cnt CROSS JOIN tot)
          SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                 count(*) AS vocab,
                 round(${ExactSql.fsum("term")}
                   / ln(CAST(2.0 AS DOUBLE)), 6) AS jsd_bits
          FROM terms GROUP BY 1, 2""",
    "pipe_cloze" -> {
      val h = TextOps.hash32Sql("'cloze:' || CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
                     WHERE len($toksSql) >= 2),
          m AS (SELECT doc_id, tk,
                       CAST(($h) % (len(tk) - 1) + 1 AS INT) AS pos
                FROM d),
          a AS (SELECT doc_id, tk, pos, tk[pos + 1] AS answer FROM m),
          freq AS (SELECT w, count(*) AS cf FROM (
                     SELECT unnest(tk) AS w FROM d) GROUP BY 1)
          SELECT doc_id, pos, answer, cf AS answer_freq,
                 array_to_string(list_transform(
                   list_zip(tk, range(0, len(tk))),
                   p -> CASE WHEN p[2] = pos THEN '____' ELSE p[1] END),
                   ' ') AS masked
          FROM a JOIN freq ON answer = w ORDER BY doc_id"""
    },
    "text_dispersion" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
                     WHERE len($toksSql) > 0),
          nd AS (SELECT count(*) AS nd FROM d),
          tf AS (SELECT doc_id, w, count(*) AS tf FROM (
                   SELECT doc_id, unnest(tk) AS w FROM d) GROUP BY 1, 2),
          st AS (SELECT w, count(*) AS df,
                        CAST(sum(tf) AS BIGINT) AS st,
                        CAST(sum(tf * tf) AS BIGINT) AS sq
                 FROM tf GROUP BY 1)
          SELECT w, df, st AS total,
                 round(((CAST(sq AS DOUBLE) / nd)
                        - (CAST(st AS DOUBLE) / nd)
                          * (CAST(st AS DOUBLE) / nd))
                       / (CAST(st AS DOUBLE) / nd), 6) AS vmr
          FROM st CROSS JOIN nd ORDER BY vmr DESC, w""",
    "text_rake" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS tk FROM documents
                     WHERE len($toksSql) > 0),
          nsx AS (SELECT doc_id,
                   list_filter(list_zip(tk, range(1, len(tk) + 1)),
                     p -> NOT list_contains($stopSql, p[1])) AS ns
                  FROM d),
          e AS (SELECT doc_id,
                  unnest(list_transform(ns, q -> q[1])) AS tok,
                  unnest(list_transform(ns, q -> q[2])) AS pos,
                  unnest(list_transform(list_zip(ns, range(1, len(ns) + 1)),
                    q -> q[1][2] - q[2])) AS rid
                FROM nsx),
          phrases AS (SELECT doc_id, rid,
                             string_agg(tok, ' ' ORDER BY pos) AS phrase,
                             count(*) AS plen
                      FROM e GROUP BY 1, 2 HAVING count(*) <= 4),
          pdist AS (SELECT phrase, plen, count(*) AS n_occ
                    FROM phrases GROUP BY 1, 2),
          pwords AS (SELECT phrase, plen, n_occ,
                            unnest(string_split(phrase, ' ')) AS w
                     FROM pdist),
          stats AS (SELECT w, CAST(sum(n_occ) AS BIGINT) AS freq,
                           CAST(sum(n_occ * plen) AS BIGINT) AS deg
                    FROM pwords GROUP BY 1)
          SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ,
                 CAST(plen AS BIGINT) AS n_words,
                 round(${ExactSql.fsum(ExactSql.q6(
                   "CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)"))}, 6)
                   AS score
          FROM pwords JOIN stats USING (w)
          GROUP BY phrase, plen, n_occ
          ORDER BY score DESC, phrase LIMIT 20""",
    "text_c4" ->
      s"""WITH f AS (SELECT doc_id, $toksSql AS tk FROM documents),
          g AS (SELECT doc_id, len(tk) AS n_tok,
                  list_max(list_transform(tk, t -> length(t))) AS max_wlen,
                  len(tk) >= 5 AS r_minlen,
                  list_max(list_transform(tk, t -> length(t))) <= 15
                    AS r_wordcap,
                  NOT len(list_filter(tk, t ->
                    contains(t, '{') OR contains(t, '}'))) > 0 AS r_brace,
                  NOT list_contains(tk, 'javascript') AS r_js,
                  NOT (list_contains(tk, 'lorem')
                       AND list_contains(tk, 'ipsum')) AS r_lorem,
                  len(list_filter(tk, t -> t = 'cookie' OR t = 'privacy'
                                        OR t = 'terms')) = 0 AS r_policy
                FROM f WHERE len(tk) > 0)
          SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
                 CAST(max_wlen AS INT) AS max_wlen,
                 r_minlen, r_wordcap, r_brace, r_js, r_lorem, r_policy,
                 (r_minlen AND r_wordcap AND r_brace AND r_js
                  AND r_lorem AND r_policy) AS keep
          FROM g ORDER BY doc_id""",
    "pipe_unimax" ->
      s"""WITH src AS (SELECT source,
                       CAST(sum(len($toksSql)) AS BIGINT) AS n_tok,
                       1 + (coalesce(TRY_CAST(substr(source, 4, 10) AS INT), 0) % 4) AS e_cap
                       FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(n_tok) * 2 AS BIGINT) AS b, count(*) AS l FROM src),
          r AS (SELECT source, n_tok, e_cap, n_tok * e_cap AS cap, b, l,
                       CAST(row_number() OVER
                         (ORDER BY n_tok * e_cap, source) AS BIGINT) AS i,
                       coalesce(sum(n_tok * e_cap) OVER
                         (ORDER BY n_tok * e_cap, source
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS pfx
                FROM src CROSS JOIN tot),
          c AS (SELECT *, cap * (l - i + 1) <= b - pfx AS capped FROM r),
          lv AS (SELECT *,
                   CAST(b - coalesce(sum(CASE WHEN capped THEN cap END)
                     OVER (), 0) AS DOUBLE) /
                   CAST(sum(CASE WHEN NOT capped THEN 1 ELSE 0 END)
                     OVER () AS DOUBLE) AS level
                 FROM c)
          SELECT source, n_tok, e_cap, cap AS cap_tokens,
                 CASE WHEN capped THEN CAST(cap AS DOUBLE)
                      ELSE round(level, 6) END AS alloc_tokens,
                 round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
                            ELSE round(level, 6) END
                       / CAST(n_tok AS DOUBLE), 6) AS epochs
          FROM lv ORDER BY source""",
  )
}
