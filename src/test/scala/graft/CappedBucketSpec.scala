package graft

import org.apache.spark.sql.functions._
import graft.queries.EmbeddingQueries

/** EmbeddingQueries.cappedBucket — the occupancy-capped LSH bucketer
  * that mechanizes r14's "plane/cell counts must scale with the
  * corpus" finding. The load-bearing invariants:
  *
  *   1. no final bucket ever holds more than `cap` rows (the linear
  *      candidate bound follows: pairs ≤ N·(cap−1)/2);
  *   2. the level-1 pre-split activates on hot buckets (no rank
  *      window partition exceeds cap·coarse rows) — exercised with a
  *      tiny coarse, since test corpora never reach the default;
  *   3. the assignment is partition-invariant, including under
  *      duplicate ids over identical vectors (the standIn tie rule:
  *      ties only between interchangeable rows).
  */
class CappedBucketSpec extends SparkSpec {

  private def buckets(cap: Int, coarse: Int = 1024) =
    EmbeddingQueries.cappedBucket(
      graft.core.Tables.load(spark, TestSpark.sf0001, "embeddings"),
      8, cap, coarse)

  test("no bucket exceeds cap; candidate pairs <= N(cap-1)/2") {
    val b = buckets(4)
    val n = b.count()
    val occ = b.groupBy("bucket").agg(count(lit(1)).as("c"))
    val maxOcc = occ.agg(max("c")).collect()(0).getLong(0)
    assert(maxOcc <= 4, s"bucket occupancy $maxOcc exceeds cap 4")
    val pairs = occ.agg(sum(expr("c * (c - 1)")).cast("long"))
      .collect()(0).getLong(0) / 2
    assert(pairs <= n * 3 / 2, s"pairs $pairs exceed N(cap-1)/2 = ${n * 3 / 2}")
  }

  test("identical-vector flood: level-1 pre-split bounds window partitions") {
    import spark.implicits._
    // 100 copies of ONE vector → one geometric bucket, the exact
    // input where more hyperplanes cannot help. cap=2, coarse=4 →
    // capG=8 → m1=ceil(100/8)=13 mix cells: distinct ids spread
    // across cells (an expectation, not a hard bound — the mix can't
    // separate EQUAL ids), and rank-packing caps every final bucket
    // at 2 regardless of how the cells filled.
    val e = (0 until 100)
      .map(i => (i.toLong, Array.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val b = EmbeddingQueries.cappedBucket(e, 8, 2, 4)
    val occ = b.groupBy("bucket").agg(count(lit(1)).as("c"))
      .collect().map(_.getLong(1))
    assert(occ.max <= 2, s"flood bucket occupancy ${occ.max} exceeds cap 2")
    // the s1 field (bits 24-43) must actually spread across cells
    val s1s = b.select(pmod(floor(col("bucket") / lit(1L << 24)), lit(1L << 20))
        .cast("long").as("s1")).distinct().count()
    assert(s1s > 1, "level-1 pre-split never activated on a 100-row hot bucket")
    // linear bound under the flood: 100 rows → ≤ 50 chunk pairs
    val pairs = occ.map(c => c * (c - 1) / 2).sum
    assert(pairs <= 50, s"flood pairs $pairs exceed N(cap-1)/2 = 50")
  }

  test("field-ceiling guard raises loudly instead of merging buckets") {
    import spark.implicits._
    // cap=1, coarse=1 → capG=1 → m1 = n, so 1.2M identical vectors in
    // one geometric bucket push s1 past its 2^20 field — the guard
    // must raise a labeled error, not silently collide bucket ids
    val e = spark.range(1200000).select(col("id").as("vec_id"),
      array_repeat(lit(1.0f), 64).as("embedding"))
    val ex = intercept[Exception] {
      // materialize the bucket column — count() would prune the
      // guarded projection away and never evaluate it
      EmbeddingQueries.cappedBucket(e, 1, 1, 1)
        .agg(max(col("bucket"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("cappedBucket") &&
      m.contains("field ceiling")), s"unexpected error: ${msgs(ex).take(2)}")
  }

  test("planes ceiling enforced at the call: gb*2^44 needs planes <= 19") {
    import spark.implicits._
    // the third field guard (review finding r15): gb < 2^planes rides
    // the 2^44 shift, so planes >= 20 would overflow signed Long —
    // under ANSI as an opaque ARITHMETIC_OVERFLOW deep in the job,
    // with ANSI off as silently merged buckets. The require fails at
    // the call with the labeled reason instead.
    val e = Seq((1L, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      EmbeddingQueries.cappedBucket(e, 20, 4)
    }
    assert(ex.getMessage.contains("planes=20"), ex.getMessage)
    // the full legal range still constructs (19 = last safe count)
    assert(EmbeddingQueries.cappedBucket(e, 19, 4).collect().length == 1)
  }

  test("partition-invariant, even with duplicate ids on identical rows") {
    import spark.implicits._
    val rows = (0 until 60).map(i => ((i % 7).toLong,
      Array.tabulate(64)(j => ((i % 3) * j).toFloat)))
    val a = EmbeddingQueries.cappedBucket(
      rows.toDF("vec_id", "embedding"), 8, 3, 4)
      .select("vec_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = EmbeddingQueries.cappedBucket(
      rows.toDF("vec_id", "embedding").repartition(13), 8, 3, 4)
      .select("vec_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.toSeq == b.toSeq,
      "bucket assignment depends on input partitioning")
  }

  test("int64-boundary ids don't overflow the Knuth mix under ANSI") {
    import spark.implicits._
    // the NumExec sentinel class: an unmasked boundary id times MixA
    // overflows Long and ANSI (session default) throws mid-scan —
    // cappedBucket masks ids into [0, 2^31) before the multiply
    val e = Seq(Long.MaxValue, Long.MinValue, -1L, 0L, 42L)
      .map(id => (id, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val out = EmbeddingQueries.cappedBucket(e, 8, 2, 4).collect()
    assert(out.length == 5)
  }

  test("self-join consumers reuse the bucketed exchange at runtime") {
    val df = SparkEntry.queries("emb_neardup")(spark, TestSpark.sf0001)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"),
      "emb_neardup's self-join recomputes the capped-bucket table")
  }

  private def flood(n: Int, idBase: Long, v: Float) = {
    import spark.implicits._
    (0 until n).map(i => (idBase + i, Array.fill(64)(v)))
      .toDF("vec_id", "embedding")
  }
  private def pairsOf(df: org.apache.spark.sql.DataFrame,
                      cap: Int, coarse: Int): Seq[(Long, Long)] =
    graft.queries.EmbeddingQueries.neardupPairs(df, 4, cap, coarse)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("chain cells: a >cap duplicate flood is ONE component through the real consumer") {
    // 300 identical vectors (distinct ids), cap=8, coarse=4 → capG=32,
    // m1=ceil(300/32)=10 mix cells of ~30 rows → ~4 chunks each: both
    // chain layers (chunk chains within a cell, cell chains across the
    // pre-split) must fire, or transitive keep-one dedup retains
    // ⌈n/cap⌉·cells representatives instead of 1 (r15 verdict #1 — the
    // under-dedup regime the cap itself created)
    val ids = (0L until 300L).toSeq
    val pairs = pairsOf(flood(300, 0L, 1.0f), cap = 8, coarse = 4)
    val comps = graft.tools.Scaling.componentCount(ids, pairs)
    assert(comps == 1, s"flood cluster split into $comps components")
    // the linear candidate bound must survive the chains: ≤ N(cap−1)/2
    // packed pairs + O(N/cap) chain links (generously: + N)
    assert(pairs.size <= 300 * 7 / 2 + 300,
      s"chain cells blew the linear candidate bound: ${pairs.size} pairs")
    // chain buckets hold at most 2 rows, so NO bucket — real or chain —
    // exceeds the cap
    val occ = EmbeddingQueries.cappedBucket(flood(300, 0L, 1.0f), 4, 8, 4,
        chain = true)
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .agg(max("c")).collect()(0).getLong(0)
    assert(occ <= 8, s"chain-mode bucket occupancy $occ exceeds cap 8")
  }

  test("chain cells do not bridge separate clusters (different geometric buckets)") {
    // all-ones lands in gb=2, all-minus-ones in gb=9 (plane sums
    // -3/5/0/-5 vs 3/-5/0/5): two duplicate clusters that never share
    // a bucket must stay TWO components — the chains repair
    // within-cluster connectivity, they must not invent cross-cluster
    // edges (cos(a,-a) = -1 < 0.35 would also filter any candidate)
    val a = flood(150, 0L, 1.0f)
    val b = flood(150, 1000L, -1.0f)
    val ids = (0L until 150L) ++ (1000L until 1150L)
    val pairs = pairsOf(a.unionByName(b), cap = 8, coarse = 4)
    val comps = graft.tools.Scaling.componentCount(ids, pairs)
    assert(comps == 2, s"expected 2 components (one per cluster), got $comps")
  }

  test("chain=true assignment is partition-invariant") {
    import spark.implicits._
    val rows = (0 until 90).map(i => (i.toLong,
      Array.tabulate(64)(j => (((i % 2) * 2 - 1) * (j % 5 + 1)).toFloat)))
    def run(df: org.apache.spark.sql.DataFrame) =
      EmbeddingQueries.cappedBucket(df, 4, 3, 4, chain = true)
        .select("vec_id", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val base = run(rows.toDF("vec_id", "embedding"))
    val repart = run(rows.toDF("vec_id", "embedding").repartition(13))
    assert(base == repart, "chain-cell assignment depends on input partitioning")
    // chain rows are present (negative ids) and real rows unchanged
    assert(base.exists(_._2 < 0), "no chain cells emitted on a multi-chunk input")
  }
}
