package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact, ExactSql}

/** Link-graph analytics over a deterministic document web — the graph
  * signals a web-scale curation pipeline ranks and filters with
  * (PageRank as a page-quality prior; triangle counts as a
  * link-farm/community signal).
  *
  * The graph is pure arithmetic on doc_id, so the DuckDB oracle
  * rebuilds it bit-identically: every page with doc_id % 7 != 0 links
  * to one popular hub page (doc_id % 10 — ten pages absorb ~a quarter
  * of all edges, giving real in-degree skew) and three pseudo-random
  * pages ((doc_id*31 + j*17) % N for j=1..3), self-loops dropped,
  * duplicates collapsed. Pages with doc_id % 7 == 0 have NO outlinks —
  * the dangling-node case every correct PageRank must redistribute.
  *
  * 100 TB shape notes:
  *   - The edge list is derived element-wise from the node scan (no
  *     shuffle); a real crawl would read it from a parquet edge table
  *     with identical downstream shape.
  *   - Each PageRank round is join(edges, ranks) hash-partitioned on
  *     src + a groupBy(dst) whose partial aggregate runs below the
  *     exchange — the hub pages' hot in-degree costs a streaming merge
  *     of O(1)-state per-task partials (Exact.fsum), never a buffer of
  *     raw contributions on one task, so no salting is needed.
  *   - Scalar aggregates (node count, dangling mass) broadcast as
  *     1-row tables; ranks never touch the driver.
  *   - Rounds are unrolled 3× in one lineage (same convention as
  *     dd_cluster / emb_pca / text_bpe_train); a production run would
  *     iterate to convergence, checkpointing ranks between rounds.
  */
object GraphQueries extends GroupBase {

  /** (nodes, edges): nodes = (doc_id, n_nodes); edges = (src, deg, dst)
    * with deg the out-degree AFTER self-loop removal / dedup, carried
    * on every edge row so contribution r/deg needs no second join. */
  private def graph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    val nrow = docs.agg(count(lit(1)).as("n_nodes"))
    val nodes = docs.select(col("doc_id")).crossJoin(broadcast(nrow))
    // pmod BEFORE the *31: the multiply runs on a value already
    // reduced below n_nodes, so it cannot overflow for any int64
    // input (a MaxValue sentinel id — routine dirty-data pollution —
    // made doc_id*31 a thrown ARITHMETIC_OVERFLOW under ANSI; NumExec
    // sweep, round 10). Identity for clean ids (0 <= doc_id < N), so
    // the oracle mirror and all results are unchanged on real data.
    val edges = nodes.filter(col("doc_id") % 7 =!= 0)
      .withColumn("ds", array_distinct(filter(
        concat(array(col("doc_id") % 10),
          transform(sequence(lit(1), lit(3)),
            j => (pmod(col("doc_id"), col("n_nodes")) * 31 + j * 17) %
              col("n_nodes"))),
        x => x =!= col("doc_id"))))
      .select(col("doc_id").as("src"), size(col("ds")).as("deg"),
        explode(col("ds")).as("dst"))
    (nodes, edges)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PageRank (d=0.85), 3 unrolled power-iteration rounds from the
    // uniform vector, with dangling-mass redistribution: pages with no
    // outlinks leak their rank to the whole graph each round, so
    //   r'(v) = 0.15/N + 0.85*(sum_{u->v} r(u)/deg(u) + dm/N).
    // All sums are Exact.fsum (order-independent 2^53-grid), every
    // other operation is a single IEEE op on bit-identical operands in
    // both engines, so three chained iterations verify hash-exact with
    // NO rounding.
    "graph_pagerank" -> ((s, d) => {
      val (nodes, edges) = graph(s, d)
      var ranks = nodes.select(col("doc_id"),
        (lit(1.0) / col("n_nodes")).as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
          .groupBy(col("dst")).agg(Exact.fsum(col("r") / col("deg")).as("s"))
        val dm = ranks.filter(col("doc_id") % 7 === 0)
          .agg(Exact.fsum(col("r")).as("dm"))
        ranks = nodes.join(contrib, nodes("doc_id") === contrib("dst"), "left")
          .crossJoin(broadcast(dm))
          .select(col("doc_id"),
            (lit(0.15) / col("n_nodes") + lit(0.85) *
              (coalesce(col("s"), lit(0.0)) + col("dm") / col("n_nodes")))
              .as("r"))
      }
      ranks.select(col("doc_id"), col("r").as("rank"),
          (col("doc_id") % 7 === 0).as("dangling"))
        .orderBy("doc_id")
    }),

    // PERSONALIZED PageRank (random walk with restart to a seed set —
    // the crawl-prioritization / related-pages signal, where
    // graph_pagerank is the global-quality prior): teleport and
    // dangling mass return to the PERSONALIZATION vector p (uniform
    // over the seeds doc_id % 11 == 1) instead of 1/N, so rank
    // concentrates in the seeds' neighborhoods and most of the graph
    // stays at exactly 0.0 —
    //   r'(v) = 0.15·p(v) + 0.85·(Σ_{u→v} r(u)/deg(u) + dm·p(v)).
    // Same 3-unrolled-round shape, Exact.fsum sums, and 1-row scalar
    // broadcasts as graph_pagerank; the top-25 by the bit-exact rank
    // is a TakeOrderedAndProject. At 100 TB the p-sparsity is the
    // point: a production PPR over a seed set touches only the
    // frontier reachable in k hops, and the zero ranks never leave
    // the executors.
    "graph_ppr" -> ((s, d) => {
      requireExchangeReuse(s, "graph_ppr")
      val (nodes, edges) = graph(s, d)
      val ns = nodes.filter(col("doc_id") % 11 === 1)
        .agg(count(lit(1)).as("ns"))
      // r17: ONE localCheckpoint on base, and NONE inside the loop.
      // base is joined by every round, so barriering it once stops each
      // round re-deriving the node scan; the per-round rank barrier
      // that used to sit in the loop was REMOVED after a warm A/B at
      // sf0.1/32c showed it buys nothing (base-ck-only 1.31 s vs
      // base+rank-ck 1.35 s vs no-ck 1.7 s) — the two consumers per
      // round (edge contributions + dangling mass) share the replayed
      // lineage via AQE runtime stage reuse, so the feared 2^k growth
      // never executes. Dropping the 3 eager per-round checkpoint jobs
      // also removes the fixed per-job scheduling overhead that grew
      // with core count (the r16 8c/32c anti-scaling finding).
      val base = nodes.crossJoin(broadcast(ns))
        .withColumn("p",
          when(col("doc_id") % 11 === 1, lit(1.0) / col("ns"))
            .otherwise(lit(0.0)))
        .localCheckpoint()
      var ranks = base.select(col("doc_id"), col("p"), col("p").as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
          .groupBy(col("dst")).agg(Exact.fsum(col("r") / col("deg")).as("s"))
        val dm = ranks.filter(col("doc_id") % 7 === 0)
          .agg(Exact.fsum(col("r")).as("dm"))
        ranks = base.join(contrib, base("doc_id") === contrib("dst"), "left")
          .crossJoin(broadcast(dm))
          .select(base("doc_id"), col("p"),
            (lit(0.15) * col("p") + lit(0.85) *
              (coalesce(col("s"), lit(0.0)) + col("dm") * col("p"))).as("r"))
      }
      ranks.filter(col("r") > lit(0.0))
        .select(col("doc_id"), col("r").as("ppr"),
          (col("doc_id") % 11 === 1).as("seed"))
        .orderBy(col("ppr").desc, col("doc_id")).limit(25)
    }),

    // EDGE RECIPROCITY — the mutual-linking fraction |E ∩ Eᵀ| / |E|: a
    // link-exchange/spam-ring signal (organic webs reciprocate a few
    // percent of links; farms reciprocate most). One hash self-join of
    // the edge table against its transpose plus two scalar counts — at
    // 100 TB this is a single shuffle on the (src, dst) key pair.
    "graph_reciprocity" -> ((s, d) => {
      val (_, edges) = graph(s, d)
      val e2 = edges.select("src", "dst")
      val rec = e2.as("a").join(e2.as("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
        .agg(count(lit(1)).as("n_rec"))
      e2.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(rec))
        .select(col("n_edges"), col("n_rec"),
          // NULLIF guard: count() yields 0 (not NULL) on an empty edge
          // table, and ANSI mode throws DIVIDE_BY_ZERO even for double
          // division — an empty graph must read as NULL reciprocity,
          // not a pipeline-breaking exception (EdgeExec empty-input
          // sweep, round 10)
          (col("n_rec").cast("double") /
            nullif(col("n_edges").cast("double"), lit(0.0)))
            .as("reciprocity"))
    }),

    // per-node triangle count: canonicalize to undirected id-ordered
    // edges (u < v), wedge-join e1(a,b) ⋈ e2(b,c) (a<b<c by
    // transitivity — each triangle is enumerated exactly once), close
    // the wedge against e3(a,c), then credit all three corners.
    // Id-ordering bounds the wedge fan-out by the FORWARD degree; at
    // 100 TB the standard refinement orients edges low-degree → high-
    // degree instead (same plan shape, flatter wedge skew on power-law
    // graphs). All joins are hash equi-joins on edge keys; the corner
    // credit is an explode(3) + count hash-agg with map-side partials.
    "graph_triangles" -> ((s, d) => {
      val (nodes, edges) = graph(s, d)
      val und = edges.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      val tri = und.as("e1").join(und.as("e2"), col("e1.v") === col("e2.u"))
        .join(und.as("e3"),
          col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      val per = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      nodes.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .orderBy("doc_id")
    }),

    // HITS hubs & authorities (2 unrolled rounds from h=1, L1
    // normalization): auth(v) = Σ_{u→v} hub(u), hub(v) = Σ_{v→w}
    // auth(w), each vector divided by its own total after every
    // half-step. The directory-page / cited-page split PageRank's
    // single score conflates — a curation pipeline uses hub scores to
    // find link farms (high hub, low auth) and auth scores as the
    // quality prior. L1 instead of the textbook L2 keeps the oracle
    // sqrt-free: every sum is Exact.fsum (order-independent 2^53
    // grid) and every division a single IEEE op on bit-identical
    // operands, so two chained rounds verify hash-exact with NO
    // rounding (the graph_pagerank discipline).
    // Per half-step at 100 TB: one hash equi-join partitioned on the
    // edge key + one fsum agg with map-side partials; norms broadcast
    // as 1-row tables; scores never touch the driver.
    "graph_hits" -> ((s, d) => {
      val (nodes, edges) = graph(s, d)
      val ids = nodes.select("doc_id")
      var hub = ids.select(col("doc_id"), lit(1.0).as("h"))
      var auth = ids.select(col("doc_id"), lit(0.0).as("a"))
      for (_ <- 1 to 2) {
        val a0 = edges.join(hub, edges("src") === hub("doc_id"))
          .groupBy(col("dst")).agg(Exact.fsum(col("h")).as("a0"))
        val an = a0.agg(Exact.fsum(col("a0")).as("na"))
        // NOTE: a localCheckpoint barrier per half-step was measured
        // 1.4 -> 1.9 s WORSE here (4 eager materializations at only
        // 2 unrolled rounds cost more than the lineage re-execution
        // they save) — unlike graph_ppr/emb_mmr where it wins.
        auth = ids.join(a0, ids("doc_id") === a0("dst"), "left")
          .crossJoin(broadcast(an))
          .select(col("doc_id"),
            (coalesce(col("a0"), lit(0.0)) / col("na")).as("a"))
        val h0 = edges.join(auth, edges("dst") === auth("doc_id"))
          .groupBy(col("src")).agg(Exact.fsum(col("a")).as("h0"))
        val hn = h0.agg(Exact.fsum(col("h0")).as("nh"))
        hub = ids.join(h0, ids("doc_id") === h0("src"), "left")
          .crossJoin(broadcast(hn))
          .select(col("doc_id"),
            (coalesce(col("h0"), lit(0.0)) / col("nh")).as("h"))
      }
      hub.join(auth, "doc_id")
        .select(col("doc_id"), col("h").as("hub"), col("a").as("auth"))
        .orderBy("doc_id")
    }),

    // Connected components by bounded min-label propagation (3 rounds,
    // the dd_cluster discipline applied to the link graph): each round
    // every node takes the minimum label among itself and its
    // neighbors. The component structure is what a crawl pipeline
    // partitions mirror/duplicate sites by. Deterministic at any round
    // count, so the 3-round labels are oracle-exact even where not yet
    // converged; a production run iterates to fixpoint with a
    // checkpoint between rounds. Per round: one join hash-partitioned
    // on the edge dst + one min agg with map-side partials — no
    // driver-side union-find, labels never collected.
    // Multi-source BFS distance from the hub pages (doc_id < 10) —
    // the crawl-depth prior: distance from trusted seeds is the
    // classic spam/quality signal (TrustRank's discrete cousin), and
    // "pages within k hops of the seed list" is a standard crawl
    // frontier readout. 3 unrolled min-plus relaxation rounds over
    // the DIRECTED edge set: dist'(v) = min(dist(v),
    // min_{u->v} dist(u) + 1). 100 TB shape matches graph_cc: per
    // round one src-keyed join of the edge table against the current
    // distance vector (the frontier filter `dist IS NOT NULL` prunes
    // the join input to reached nodes) + one dst-keyed min hash-agg
    // with map-side partials — distances never on the driver;
    // unreached nodes stay NULL (identically in both engines).
    // Integer distances: no rounding anywhere.
    "graph_bfs" -> ((s, d) => {
      val (nodes, edges) = graph(s, d)
      var dist = nodes.select(col("doc_id"),
        when(col("doc_id") < 10, 0).otherwise(lit(null).cast("int"))
          .as("dist"))
      for (_ <- 1 to 3) {
        val push = edges.join(dist.filter(col("dist").isNotNull),
            edges("src") === dist("doc_id"))
          .groupBy(col("dst")).agg((min(col("dist")) + 1).as("nd"))
        dist = dist.join(push, dist("doc_id") === push("dst"), "left")
          .select(dist("doc_id"),
            when(col("nd").isNull, col("dist"))
              .when(col("dist").isNull, col("nd"))
              .otherwise(least(col("dist"), col("nd"))).as("dist"))
      }
      dist.select(col("doc_id"), col("dist"),
          col("dist").isNotNull.as("reached"))
        .orderBy("doc_id")
    }),

    // DEGREE ASSORTATIVITY — the one-number mixing diagnostic next to
    // graph_reciprocity: the Pearson correlation of endpoint degrees
    // over the symmetrized edge list. Organic webs are DISassortative
    // (hubs link to leaves, r < 0); link farms wiring hubs to hubs
    // push r up — the structural smell test read before trusting
    // PageRank-ish priors. 100 TB shape: one degree hash-agg, two
    // endpoint joins, and the five sufficient statistics stay in
    // exact BIGINT (tw_tsim discipline; magnitudes hub-degree² x
    // edges — flip to DECIMAL(38,0) near ~1e18, the text_ks lesson),
    // so r pays one sqrt + one division, rounded to 6.
    "graph_assortativity" -> ((s, d) => {
      val (_, edges) = graph(s, d)
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      // sufficient statistics accumulate in DECIMAL(38,0): at 100 TB
      // (1e12 edges, hub degrees ~1e8) Σdeg² alone crosses 2^63, so
      // the BIGINT sum — not just the Pearson products below — is the
      // overflow site; per-term products stay in long (deg ≤ ~1e9
      // before a term overflows, far beyond any real web graph)
      val dec0 = "decimal(38,0)"
      val st = und
        .join(deg.select(col("src"), col("deg").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
        .agg(count(lit(1)).as("m"),
          sum(col("dx").cast(dec0)).as("sx"),
          sum(col("dy").cast(dec0)).as("sy"),
          sum((col("dx") * col("dx")).cast(dec0)).as("sxx"),
          sum((col("dy") * col("dy")).cast(dec0)).as("syy"),
          sum((col("dx") * col("dy")).cast(dec0)).as("sxy"))
      // the Pearson products exceed BIGINT at sf0.1 (m·sxy ~ 1e22 —
      // the "flip to DECIMAL(38,0) near 1e18" note above, now real):
      // m lifts to the sums' decimal type, each term converts to
      // double, and only doubles multiply under the sqrt — the oracle
      // mirrors with HUGEINT so both engines run the identical
      // exact-int -> IEEE-double -> multiply -> sqrt sequence
      st.select(col("m"),
        // NULLIF: Pearson r is undefined when either endpoint-degree
        // series is constant (zero variance term — e.g. a perfect
        // regular graph); ANSI throws on the double division, so the
        // degenerate case must read NULL (EdgeExec sweep, round 10)
        round((col("m").cast(dec0) * col("sxy") -
            col("sx") * col("sy")).cast("double") /
          nullif(sqrt((col("m").cast(dec0) * col("sxx") -
              col("sx") * col("sx")).cast("double") *
            (col("m").cast(dec0) * col("syy") -
              col("sy") * col("sy")).cast("double")), lit(0.0)),
          6).as("r"))
    }),

    // K-CORE membership by bounded peeling (K = 3, 3 rounds) — the
    // density signal the link-farm screen uses where triangles count
    // local closure: a node is in the 3-core only if it keeps >= 3
    // neighbors AFTER low-degree nodes are recursively removed, so
    // sparse tendrils and isolated pairs peel away while dense link
    // blocks survive. Each round recomputes degrees WITHIN the
    // surviving subgraph (two semi-join-shaped endpoint filters + one
    // hash-agg with map-side partials) and drops deg < K; 3 rounds
    // approximate the fixpoint from above — peeling is monotone, so
    // survivors here are a superset of the true 3-core (a production
    // run iterates until no node drops, the graph_cc convention).
    // r17: the per-round active-set localCheckpoint was REMOVED — the
    // graph_hits lesson re-measured here: 4 eager barrier jobs (each
    // re-deriving the symmetrized edge distinct) cost 3.2 s warm at
    // sf0.1/32c where the single unbarriered lineage runs 0.8 s,
    // because AQE runtime stage reuse already dedups the identical
    // exchange subtrees (the static plan's repeated scans never
    // re-execute). The 2^round static-plan growth is bounded (3
    // rounds) and rounds replay over REUSED shuffle output, so one
    // job, no per-round full-width barriers — the shape that also
    // removes the 8-core/32-core anti-scaling the r16 driver measured
    // (fixed per-job scheduling overhead × rounds grew with cores).
    "graph_kcore" -> ((s, d) => {
      requireExchangeReuse(s, "graph_kcore")
      val K = 3
      val (nodes, edges) = graph(s, d)
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      def coreDeg(active: DataFrame): DataFrame = und
        .join(active.select(col("doc_id").as("src")), Seq("src"))
        .join(active.select(col("doc_id").as("dst")), Seq("dst"))
        .groupBy("src").agg(count(lit(1)).as("deg"))
      var active = nodes.select(col("doc_id"))
      for (_ <- 1 to 3) {
        active = coreDeg(active).filter(col("deg") >= K)
          .select(col("src").as("doc_id"))
      }
      val fdeg = coreDeg(active)
      nodes.select(col("doc_id"))
        .join(fdeg.select(col("src").as("doc_id"), col("deg").as("deg_core")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("deg_core").isNotNull.as("in_core3"),
          coalesce(col("deg_core"), lit(0L)).as("deg_core"))
        .orderBy("doc_id")
    }),

    "graph_cc" -> ((s, d) => {
      val (nodes, edges) = graph(s, d)
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      var labels = nodes.select(col("doc_id"), col("doc_id").as("comp"))
      for (_ <- 1 to 3) {
        val nbr = und.join(labels, und("dst") === labels("doc_id"))
          .groupBy(col("src")).agg(min(col("comp")).as("ncomp"))
        labels = labels.join(nbr, labels("doc_id") === nbr("src"), "left")
          .select(col("doc_id"),
            least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      }
      labels.orderBy("doc_id")
    }),

    // COMMUNITY detection by synchronous label propagation (LPA) —
    // the mirror-site / topic-cluster partitioner one step richer
    // than graph_cc: a node adopts its neighbors' MOST FREQUENT label
    // (not the minimum), so dense clusters converge to one label
    // while bridges between clusters stay unabsorbed. 3 unrolled
    // rounds over the symmetrized edge set. 100 TB shape matches
    // graph_cc: per round one dst-keyed join and two bounded
    // hash-aggs ((node, label) counts collapse below the exchange;
    // the argmax is a min(struct) agg, no window) — labels never on
    // the driver. Determinism: counts are integers; ties break to the
    // SMALLEST label via the lexicographic (−count, label) struct
    // minimum, mirrored by the oracle's rank sort.
    "graph_lpa" -> ((s, d) => {
      val (nodes, edges) = graph(s, d)
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      var labels = nodes.select(col("doc_id"), col("doc_id").as("lab"))
      for (_ <- 1 to 3) {
        val nbr = und.join(labels, und("dst") === labels("doc_id"))
          .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(min(struct(negate(col("c")).as("nc"), col("lab").as("l"))).as("mm"))
          .select(col("src"), col("mm.l").as("nlab"))
        labels = labels.join(nbr, labels("doc_id") === nbr("src"), "left")
          .select(col("doc_id"), coalesce(col("nlab"), col("lab")).as("lab"))
      }
      labels.select(col("doc_id"), col("lab").as("community"))
        .orderBy("doc_id")
    }),

    // DOMAIN-level PageRank: condense the page graph to its source
    // domains (edge weight = inter-domain link count, intra-domain
    // links dropped) and rank the CONDENSED graph — the per-domain
    // quality prior curation pipelines actually apply (a crawl scores
    // millions of pages but gates by domain; cf. the host-level graphs
    // in common web-curation stacks). Weighted PageRank over weights
    // w/outw, 3 unrolled rounds, dangling = domains with no
    // inter-domain outlinks. 100 TB shape: the condense step is the
    // only corpus-scale work — two hash joins mapping edge endpoints
    // to domains plus one (sdom, ddom) hash-agg with map-side
    // partials; everything after runs on the domains²-bounded matrix
    // (here 20 nodes) with 1-row scalar broadcasts, the
    // graph_pagerank discipline. Exact.fsum sums keep all three
    // rounds hash-exact cross-engine with no rounding.
    "graph_domainrank" -> ((s, d) => {
      val (_, edges) = graph(s, d)
      val dom = t(s, d, "documents").select(col("doc_id"), col("source"))
      // The condensed matrix is local-CHECKPOINTED: it is bounded by
      // sources² rows by construction, and every unrolled round
      // references it — without the barrier the corpus-scale condense
      // joins re-execute once per lineage reference (measured: 125
      // parquet scans at sf0.1). localCheckpoint truncates the
      // lineage, so the rounds plan over a ≤sources²-row in-memory
      // relation — the ranks-checkpointing discipline of iterative
      // graph jobs, applied to the one intermediate that is provably
      // tiny. (.cache() was measured 2.6× WORSE than no barrier here:
      // InMemoryRelation blocks AQE through the rounds.)
      val de = edges
        .join(dom.select(col("doc_id").as("src"), col("source").as("sdom")),
          Seq("src"))
        .join(dom.select(col("doc_id").as("dst"), col("source").as("ddom")),
          Seq("dst"))
        .filter(col("sdom") =!= col("ddom"))
        .groupBy("sdom", "ddom").agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val outw = de.groupBy("sdom").agg(sum(col("w")).as("outw"))
      val doms = dom.select(col("source").as("dm")).distinct()
      val nd = doms.agg(count(lit(1)).as("nd"))
      val base = doms.crossJoin(broadcast(nd)).localCheckpoint()
      var ranks = base.select(col("dm"), (lit(1.0) / col("nd")).as("r"))
      for (_ <- 1 to 3) {
        val contrib = de.join(outw, Seq("sdom"))
          .join(ranks, col("sdom") === col("dm"))
          .groupBy(col("ddom"))
          .agg(Exact.fsum(col("r") * col("w") / col("outw")).as("s"))
        val dmass = ranks.join(outw, ranks("dm") === outw("sdom"), "left_anti")
          .agg(Exact.fsum(col("r")).as("dmass"))
        ranks = base.join(contrib, base("dm") === contrib("ddom"), "left")
          .crossJoin(broadcast(dmass))
          .select(col("dm"),
            (lit(0.15) / col("nd") + lit(0.85) *
              (coalesce(col("s"), lit(0.0)) +
                coalesce(col("dmass"), lit(0.0)) / col("nd"))).as("r"))
      }
      ranks.join(outw, ranks("dm") === outw("sdom"), "left")
        .select(col("dm").as("domain"), col("r").as("rank"),
          coalesce(col("outw"), lit(0L)).as("out_links"))
        .orderBy(col("rank").desc, col("domain"))
    }),
  )

  /** Shared oracle CTEs: node count + derived edge list (mirrors
    * `graph` expression-for-expression; list_distinct/list_filter
    * order differences are irrelevant — consumers are order-
    * insensitive aggregates). */
  private val graphSql =
    """nn AS (SELECT count(*) AS n FROM documents),
       outs AS (SELECT doc_id AS src,
           list_distinct(list_filter(
             list_prepend(doc_id % 10,
               list_transform(range(1, 4), j -> (((doc_id % n + n) % n)*31 + j*17) % n)),
             x -> x <> doc_id)) AS ds
         FROM documents CROSS JOIN nn WHERE doc_id % 7 <> 0),
       edges AS (SELECT src, len(ds) AS deg, unnest(ds) AS dst FROM outs)"""

  private def prRound(prev: String, out: String): String =
    s"""$out AS (
        SELECT d.doc_id,
               CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
                 (coalesce(c.s, CAST(0.0 AS DOUBLE)) + dm.dm / nn.n) AS r
        FROM documents d CROSS JOIN nn
        CROSS JOIN (SELECT ${ExactSql.fsum("r")} AS dm FROM $prev
                    WHERE doc_id % 7 = 0) dm
        LEFT JOIN (SELECT dst, ${ExactSql.fsum("r / deg")} AS s
                   FROM edges JOIN $prev p ON p.doc_id = edges.src
                   GROUP BY dst) c
          ON c.dst = d.doc_id)"""

  /** One HITS round: auth from prevH's hubs, then hub from that auth,
    * each L1-normalized — CTE names {aOut,hOut} + "r"/"n" suffixed
    * raw-sum and norm tables, mirroring the Spark lineage. */
  private def hitsRound(prevH: String, aOut: String, hOut: String): String =
    s"""${aOut}r AS (SELECT dst, ${ExactSql.fsum("h")} AS a0
          FROM edges JOIN $prevH p ON p.doc_id = edges.src GROUP BY dst),
        ${aOut}n AS (SELECT ${ExactSql.fsum("a0")} AS na FROM ${aOut}r),
        $aOut AS (SELECT d.doc_id,
            coalesce(a0, CAST(0.0 AS DOUBLE)) / na AS a
          FROM documents d LEFT JOIN ${aOut}r ON ${aOut}r.dst = d.doc_id
          CROSS JOIN ${aOut}n),
        ${hOut}r AS (SELECT src, ${ExactSql.fsum("a")} AS h0
          FROM edges JOIN $aOut p ON p.doc_id = edges.dst GROUP BY src),
        ${hOut}n AS (SELECT ${ExactSql.fsum("h0")} AS nh FROM ${hOut}r),
        $hOut AS (SELECT d.doc_id,
            coalesce(h0, CAST(0.0 AS DOUBLE)) / nh AS h
          FROM documents d LEFT JOIN ${hOut}r ON ${hOut}r.src = d.doc_id
          CROSS JOIN ${hOut}n)"""

  def oracleSql: Map[String, String] = Map(
    "graph_hits" ->
      s"""WITH $graphSql,
          hh0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) AS h FROM documents),
          ${hitsRound("hh0", "aa1", "hh1")},
          ${hitsRound("hh1", "aa2", "hh2")}
          SELECT hh2.doc_id, hh2.h AS hub, aa2.a AS auth
          FROM hh2 JOIN aa2 USING (doc_id) ORDER BY doc_id""",
    "graph_pagerank" ->
      s"""WITH $graphSql,
          r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / n AS r
                 FROM documents CROSS JOIN nn),
          ${prRound("r0", "r1")},
          ${prRound("r1", "r2")},
          ${prRound("r2", "r3")}
          SELECT doc_id, r AS rank, doc_id % 7 = 0 AS dangling
          FROM r3 ORDER BY doc_id""",
    "graph_ppr" -> {
      def round(prev: String, out: String): String =
        s"""$out AS (
            SELECT b.doc_id, b.p,
                   CAST(0.15 AS DOUBLE) * b.p + CAST(0.85 AS DOUBLE) *
                     (coalesce(c.s, CAST(0.0 AS DOUBLE)) + dm.dm * b.p) AS r
            FROM base b
            CROSS JOIN (SELECT ${ExactSql.fsum("r")} AS dm FROM $prev
                        WHERE doc_id % 7 = 0) dm
            LEFT JOIN (SELECT dst, ${ExactSql.fsum("r / deg")} AS s
                       FROM edges JOIN $prev p ON p.doc_id = edges.src
                       GROUP BY dst) c
              ON c.dst = b.doc_id)"""
      s"""WITH $graphSql,
          nsd AS (SELECT count(*) AS ns FROM documents WHERE doc_id % 11 = 1),
          base AS (SELECT doc_id,
                     CASE WHEN doc_id % 11 = 1
                          THEN CAST(1.0 AS DOUBLE) / ns
                          ELSE CAST(0.0 AS DOUBLE) END AS p
                   FROM documents CROSS JOIN nsd),
          r0 AS (SELECT doc_id, p, p AS r FROM base),
          ${round("r0", "r1")},
          ${round("r1", "r2")},
          ${round("r2", "r3")}
          SELECT doc_id, r AS ppr, doc_id % 11 = 1 AS seed
          FROM r3 WHERE r > CAST(0.0 AS DOUBLE)
          ORDER BY ppr DESC, doc_id LIMIT 25"""
    },
    "graph_reciprocity" ->
      s"""WITH $graphSql,
          e2 AS (SELECT src, dst FROM edges),
          rec AS (SELECT count(*) AS n_rec
                  FROM e2 a JOIN e2 b ON a.src = b.dst AND a.dst = b.src),
          ne AS (SELECT count(*) AS n_edges FROM e2)
          SELECT n_edges, n_rec,
                 CAST(n_rec AS DOUBLE) / CAST(n_edges AS DOUBLE)
                   AS reciprocity
          FROM ne CROSS JOIN rec""",
    "graph_triangles" ->
      s"""WITH $graphSql,
          und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                  FROM edges),
          tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                  FROM und e1 JOIN und e2 ON e1.v = e2.u
                  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
          per AS (SELECT x AS doc_id, count(*) AS n_tri
                  FROM (SELECT unnest([a, b, c]) AS x FROM tri) GROUP BY 1)
          SELECT d.doc_id, coalesce(n_tri, CAST(0 AS BIGINT)) AS n_tri
          FROM documents d LEFT JOIN per USING (doc_id)
          ORDER BY doc_id""",
    "graph_assortativity" ->
      s"""WITH $graphSql,
          und AS (SELECT src, dst FROM edges
                  UNION SELECT dst, src FROM edges),
          deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
          -- sums stay HUGEINT (no BIGINT down-cast): the engine's
          -- DECIMAL(38,0) sums removed the 2^63 sum cliff, and the
          -- oracle must not keep it (round 9)
          st AS (SELECT count(*) AS m,
                        sum(a.deg) AS sx,
                        sum(b.deg) AS sy,
                        sum(a.deg * a.deg) AS sxx,
                        sum(b.deg * b.deg) AS syy,
                        sum(a.deg * b.deg) AS sxy
                 FROM und
                 JOIN deg a ON a.src = und.src
                 JOIN deg b ON b.src = und.dst)
          SELECT m,
                 round(CAST(CAST(m AS HUGEINT) * sxy
                            - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                   sqrt(CAST(CAST(m AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx AS DOUBLE) *
                        CAST(CAST(m AS HUGEINT) * syy
                             - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) AS r
          FROM st""",
    "graph_kcore" -> {
      def peel(prev: String, out: String): String =
        s"""$out AS (SELECT src AS doc_id FROM (
              SELECT und.src, count(*) AS deg FROM und
              JOIN $prev p1 ON p1.doc_id = und.src
              JOIN $prev p2 ON p2.doc_id = und.dst
              GROUP BY 1) x WHERE deg >= 3)"""
      s"""WITH $graphSql,
          und AS (SELECT src, dst FROM edges
                  UNION SELECT dst, src FROM edges),
          a0 AS (SELECT doc_id FROM documents),
          ${peel("a0", "a1")},
          ${peel("a1", "a2")},
          ${peel("a2", "a3")},
          fdeg AS (SELECT und.src AS doc_id, count(*) AS deg_core
                   FROM und
                   JOIN a3 p1 ON p1.doc_id = und.src
                   JOIN a3 p2 ON p2.doc_id = und.dst
                   GROUP BY 1)
          SELECT d.doc_id, deg_core IS NOT NULL AS in_core3,
                 CAST(coalesce(deg_core, 0) AS BIGINT) AS deg_core
          FROM documents d LEFT JOIN fdeg USING (doc_id)
          ORDER BY doc_id"""
    },
    "graph_bfs" -> {
      def round(prev: String, out: String): String =
        s"""$out AS (
            SELECT l.doc_id,
                   CASE WHEN m.nd IS NULL THEN l.dist
                        WHEN l.dist IS NULL THEN m.nd
                        ELSE least(l.dist, m.nd) END AS dist
            FROM $prev l
            LEFT JOIN (SELECT e.dst, min(p.dist) + 1 AS nd
                       FROM edges e JOIN $prev p ON p.doc_id = e.src
                       WHERE p.dist IS NOT NULL GROUP BY 1) m
              ON m.dst = l.doc_id)"""
      s"""WITH $graphSql,
          d0 AS (SELECT doc_id,
                   CASE WHEN doc_id < 10 THEN 0 END AS dist
                 FROM documents),
          ${round("d0", "d1")},
          ${round("d1", "d2")},
          ${round("d2", "d3")}
          SELECT doc_id, CAST(dist AS INT) AS dist,
                 dist IS NOT NULL AS reached
          FROM d3 ORDER BY doc_id"""
    },
    "graph_cc" -> {
      def round(prev: String, out: String): String =
        s"""$out AS (
            SELECT l.doc_id,
                   least(l.comp, coalesce(m.nc, l.comp)) AS comp
            FROM $prev l
            LEFT JOIN (SELECT und.src, min(p.comp) AS nc
                       FROM und JOIN $prev p ON p.doc_id = und.dst
                       GROUP BY 1) m
              ON m.src = l.doc_id)"""
      s"""WITH $graphSql,
          und AS (SELECT src, dst FROM edges
                  UNION SELECT dst, src FROM edges),
          l0 AS (SELECT doc_id, doc_id AS comp FROM documents),
          ${round("l0", "l1")},
          ${round("l1", "l2")},
          ${round("l2", "l3")}
          SELECT doc_id, comp FROM l3 ORDER BY doc_id"""
    },
    "graph_lpa" -> {
      // one LPA round: pick the (max count, then min label) neighbor
      // label — rank sort mirrors the Spark (−count, label) struct min
      def round(prev: String, out: String): String =
        s"""$out AS (
            SELECT l.doc_id, coalesce(m.nlab, l.lab) AS lab
            FROM $prev l
            LEFT JOIN (
              SELECT src, lab AS nlab FROM (
                SELECT und.src, p.lab, count(*) AS c,
                       row_number() OVER (PARTITION BY und.src
                                          ORDER BY count(*) DESC, p.lab) AS rn
                FROM und JOIN $prev p ON p.doc_id = und.dst
                GROUP BY und.src, p.lab) x WHERE rn = 1) m
              ON m.src = l.doc_id)"""
      s"""WITH $graphSql,
          und AS (SELECT src, dst FROM edges
                  UNION SELECT dst, src FROM edges),
          l0 AS (SELECT doc_id, doc_id AS lab FROM documents),
          ${round("l0", "l1")},
          ${round("l1", "l2")},
          ${round("l2", "l3")}
          SELECT doc_id, lab AS community FROM l3 ORDER BY doc_id"""
    },
    "graph_domainrank" -> {
      def round(prev: String, out: String): String =
        s"""$out AS (
            SELECT d.dm,
                   CAST(0.15 AS DOUBLE) / nd.nd + CAST(0.85 AS DOUBLE) *
                     (coalesce(c.s, CAST(0.0 AS DOUBLE)) +
                      coalesce(dg.dmass, CAST(0.0 AS DOUBLE)) / nd.nd) AS r
            FROM doms d CROSS JOIN nd
            CROSS JOIN (SELECT ${ExactSql.fsum("r")} AS dmass
                        FROM $prev p LEFT JOIN ow ON p.dm = ow.sdom
                        WHERE ow.sdom IS NULL) dg
            LEFT JOIN (SELECT ddom, ${ExactSql.fsum("r * w / outw")} AS s
                       FROM de JOIN ow USING (sdom)
                       JOIN $prev p ON p.dm = de.sdom
                       GROUP BY ddom) c
              ON c.ddom = d.dm)"""
      s"""WITH $graphSql,
          dom AS (SELECT doc_id, source FROM documents),
          de AS (SELECT sd.source AS sdom, dd.source AS ddom,
                        count(*) AS w
                 FROM edges
                 JOIN dom sd ON sd.doc_id = edges.src
                 JOIN dom dd ON dd.doc_id = edges.dst
                 WHERE sd.source <> dd.source
                 GROUP BY 1, 2),
          ow AS (SELECT sdom, CAST(sum(w) AS BIGINT) AS outw
                 FROM de GROUP BY 1),
          doms AS (SELECT DISTINCT source AS dm FROM documents),
          nd AS (SELECT count(*) AS nd FROM doms),
          r0 AS (SELECT dm, CAST(1.0 AS DOUBLE) / nd.nd AS r
                 FROM doms CROSS JOIN nd),
          ${round("r0", "r1")},
          ${round("r1", "r2")},
          ${round("r2", "r3")}
          SELECT r3.dm AS domain, r3.r AS rank,
                 coalesce(ow.outw, 0) AS out_links
          FROM r3 LEFT JOIN ow ON r3.dm = ow.sdom
          ORDER BY rank DESC, domain"""
    },
  )
}
