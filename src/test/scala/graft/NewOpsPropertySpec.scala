package graft

import org.apache.spark.sql.functions._

/** Randomized differential tests for the round-6 operators, against
  * brute-force Scala models on generated corpora — the third leg next
  * to the DuckDB oracle (which could share a bug with the Spark SQL
  * expression) and the plan audit. Data is written in the driver's
  * parquet shape (events.ts as int64 NANOS, matching Tables.load's
  * ns→us truncation) so the queries run end-to-end through the same
  * loader as production. Deterministic seeds, tiny vocab (3 words) to
  * force chunk-hash collisions that the real testdata only grazes. */
class NewOpsPropertySpec extends SparkSpec {

  private val vocab = Vector("the", "scan", "window")

  private def writeDocs(seed: Long): (String, Vector[Vector[String]]) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val docs = Vector.fill(40) {
      Vector.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
    }
    val dir = TestSpark.tempDir(s"graft-prop$seed")
    docs.zipWithIndex
      .map { case (tk, i) => (i.toLong, tk.mkString(" "), "en", "srcP", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (dir, docs)
  }

  test("dd_chunk matches a brute-force keeper model on random corpora") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val (dir, docs) = writeDocs(seed)
      // brute force: 8-token chunks, corpus keeper = min doc_id per
      // chunk string (hash collisions can't diverge: h32 is injective
      // on these short strings only by luck, so model on the HASH)
      val chunks = docs.zipWithIndex.flatMap { case (tk, i) =>
        tk.grouped(8).map(c =>
          (graft.functions.HashKernels.h32(c.mkString(" ")), i.toLong))
      }
      val keeper = chunks.groupBy(_._1).map { case (_, occ) => occ.map(_._2).min }
      val wantKept = keeper.groupBy(identity).map { case (d, ks) => d -> ks.size.toLong }
      val want = docs.zipWithIndex.map { case (tk, i) =>
        val nc = (tk.size + 7) / 8
        (i.toLong, nc.toLong, wantKept.getOrElse(i.toLong, 0L))
      }.toSet
      val got = SparkEntry.queries("dd_chunk")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed $seed: ${(got diff want) ++ (want diff got)}")
    }
  }

  test("text_gopher metrics match a brute-force model on random corpora") {
    for (seed <- Seq(7L, 8L)) {
      val (dir, docs) = writeDocs(seed)
      val got = SparkEntry.queries("text_gopher")(spark, dir).collect()
        .map(r => r.getLong(0) -> r).toMap
      docs.zipWithIndex.foreach { case (tk, i) =>
        val r = got(i.toLong)
        val n = tk.size
        assert(r.getInt(r.fieldIndex("n_tok")) == n)
        assert(r.getInt(r.fieldIndex("n_stop")) == tk.count(_ == "the"))
        val wlen = tk.map(_.length).sum.toDouble / n
        val ttr = tk.distinct.size.toDouble / n
        val top = tk.groupBy(identity).values.map(_.size).max.toDouble / n
        assert(math.abs(r.getDouble(r.fieldIndex("mean_wlen")) - wlen) < 1e-7)
        assert(math.abs(r.getDouble(r.fieldIndex("ttr")) - ttr) < 1e-7)
        assert(math.abs(r.getDouble(r.fieldIndex("top_frac")) - top) < 1e-7)
        // the composed keep flag is exactly the rule conjunction
        assert(r.getBoolean(r.fieldIndex("keep")) ==
          (r.getBoolean(r.fieldIndex("r_len")) &&
            r.getBoolean(r.fieldIndex("r_wlen")) &&
            r.getBoolean(r.fieldIndex("r_stop")) &&
            r.getBoolean(r.fieldIndex("r_ttr")) &&
            r.getBoolean(r.fieldIndex("r_top"))))
      }
    }
  }

  test("agg_funnel matches a brute-force per-user sequential model") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val kinds = Vector("signup", "click", "purchase", "view", "error")
      val events = Vector.tabulate(300) { i =>
        (i.toLong, 1700000000000000000L + rnd.nextInt(1000000) * 1000000L,
          rnd.nextInt(12).toLong, kinds(rnd.nextInt(kinds.size)),
          rnd.nextDouble() * 100, "{}")
      }
      val dir = TestSpark.tempDir(s"graft-fun$seed")
      events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      // brute force on nanos→micros-truncated times, exactly the
      // loader's view of the data
      val ev = events.map(e => (e._3, e._2 / 1000 * 1000, e._4))
      def minAfter(kind: String, bound: Map[Long, Long]): Map[Long, Long] =
        ev.filter(e => e._3 == kind && bound.get(e._1).exists(_ <= e._2))
          .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
      val t1 = ev.filter(_._3 == "signup").groupBy(_._1)
        .map { case (u, es) => u -> es.map(_._2).min }
      val t2 = minAfter("click", t1)
      val t3 = minAfter("purchase", t2)
      val got = SparkEntry.queries("agg_funnel")(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      assert(got.map(g => (g._1, g._3)).toSeq ==
        Seq((1, t1.size.toLong), (2, t2.size.toLong), (3, t3.size.toLong)),
        s"seed $seed: $got vs ${(t1.size, t2.size, t3.size)}")
      // conversion rates: stage 1 NULL, stages 2-3 = n/prev
      assert(got(0)._4.isEmpty)
      if (t1.nonEmpty)
        assert(math.abs(got(1)._4.get - t2.size.toDouble / t1.size) < 1e-7)
      if (t2.nonEmpty)
        assert(math.abs(got(2)._4.get - t3.size.toDouble / t2.size) < 1e-7)
    }
  }

  test("agg_ab matches a brute-force two-proportion z-test") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(21L, 22L)) {
      val rnd = new scala.util.Random(seed)
      val kinds = Vector("signup", "click", "purchase", "view")
      val events = Vector.tabulate(400) { i =>
        (i.toLong, 1700000000000000000L + rnd.nextInt(1000000) * 1000000L,
          rnd.nextInt(30).toLong, kinds(rnd.nextInt(kinds.size)),
          rnd.nextDouble() * 100, "{}")
      }
      val dir = TestSpark.tempDir(s"graft-ab$seed")
      events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val byUser = events.groupBy(_._3).map { case (u, es) =>
        (u, es.exists(_._4 == "purchase"),
          graft.functions.HashKernels.h32(s"ab:$u") % 2)
      }.toSeq
      def cnt(v: Long, conv: Boolean => Boolean) =
        byUser.count(x => x._3 == v && conv(x._2)).toLong
      val (na, ca) = (cnt(0, _ => true), cnt(0, identity))
      val (nb, cb) = (cnt(1, _ => true), cnt(1, identity))
      val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
      val p = (ca + cb).toDouble / (na + nb)
      val se = math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
      val z = BigDecimal(if (se == 0.0) 0.0 else (pa - pb) / se)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val r = SparkEntry.queries("agg_ab")(spark, dir).collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((na, ca, nb, cb)), s"seed $seed counts")
      assert(r.getDouble(6) == z, s"seed $seed z")
      assert(r.getBoolean(7) == (math.abs(z) > 1.96), s"seed $seed flag")
    }
  }

  test("text_pmi matches a brute-force collocation model") {
    for (seed <- Seq(41L, 42L)) {
      val (dir, docs) = writeDocs(seed)
      val bgs = docs.flatMap(tk =>
        tk.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      val cnt = bgs.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
      val nb = bgs.size.toLong
      val ca = bgs.groupBy(_._1).map { case (w, o) => w -> o.size.toLong }
      val cb = bgs.groupBy(_._2).map { case (w, o) => w -> o.size.toLong }
      val want = cnt.toSeq.filter(_._2 >= 5).map { case ((a, b), c) =>
        val pmi = BigDecimal(
          math.log(c.toDouble * nb / (ca(a).toDouble * cb(b))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (a, b, c, pmi)
      }.sortBy { case (a, b, _, p) => (-p, a, b) }.take(50)
      val got = SparkEntry.queries("text_pmi")(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == want, s"seed $seed: $got vs $want")
      // the 3-word vocab guarantees the floor actually binds somewhere
      assert(want.nonEmpty)
    }
  }

  test("agg_auc matches brute-force pairwise AUC (ties at 0.5)") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(31L, 32L, 33L)) {
      val rnd = new scala.util.Random(seed)
      val kinds = Vector("signup", "click", "purchase", "view")
      val events = Vector.tabulate(800) { i =>
        (i.toLong, 1700000000000000000L + rnd.nextInt(1000000) * 1000000L,
          rnd.nextInt(25).toLong, kinds(rnd.nextInt(kinds.size)),
          rnd.nextDouble() * 100, "{}")
      }
      val dir = TestSpark.tempDir(s"graft-auc$seed")
      events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      // brute force: every (positive, negative) user pair scored
      // 1 / 0.5 / 0 — the O(P·N) definition the histogram-rank
      // arithmetic must reproduce exactly
      val byUser = events.groupBy(_._3).toSeq.map { case (_, es) =>
        (es.size, es.exists(e => e._4 == "purchase" && e._5 > 95))
      }
      val pos = byUser.filter(_._2).map(_._1)
      val neg = byUser.filterNot(_._2).map(_._1)
      // the non-degenerate case is the one worth testing (an empty
      // class is covered by the NULLIF guard, not this model)
      assert(pos.nonEmpty && neg.nonEmpty, s"seed $seed degenerate")
      val num = (for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      val want = num / (pos.size.toLong * neg.size)
      val r = SparkEntry.queries("agg_auc")(spark, dir).collect().head
      assert((r.getLong(0), r.getLong(1)) ==
        ((pos.size.toLong, neg.size.toLong)), s"seed $seed counts")
      // 2·num is integral, so the query's value is exact
      assert(math.abs(r.getDouble(2) - want) < 1e-12, s"seed $seed auc")
      assert(math.abs(r.getDouble(3) - (2 * want - 1)) < 1e-12,
        s"seed $seed gini")
    }
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("join_fuzzy finds EVERY edit-distance<=1 pair (blocking is complete)") {
    // the SymSpell guarantee under test: for any two strings within
    // one edit, their deletion neighborhoods (self + all length-1
    // deletions) intersect — so the variant-blocked hash join misses
    // nothing a naive all-pairs levenshtein scan would find. A tiny
    // alphabet forces dense near-pair structure plus plenty of
    // blocked-but-rejected candidates (the verify path).
    val s = spark
    import s.implicits._
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val names = Vector.fill(60)( // length 3-6 over {a,b,c}
        Vector.fill(3 + rnd.nextInt(4))(
          ('a' + rnd.nextInt(3)).toChar).mkString)
      val dir = TestSpark.tempDir(s"graft-fuzzy$seed")
      names.zipWithIndex.map { case (nm, i) => (i.toLong, nm) }
        .toDF("c_custkey", "c_name")
        .write.parquet(s"$dir/customer.parquet")
      val want = (for {
        i <- names.indices; j <- names.indices
        if names(i) < names(j) && lev(names(i), names(j)) <= 1
      } yield (i.toLong, j.toLong, names(i), names(j))).toSet
      val got = SparkEntry.queries("join_fuzzy")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
        .toSet
      assert(want.nonEmpty, s"seed $seed degenerate")
      assert(got == want, s"seed $seed: missing=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
    }
  }
}
