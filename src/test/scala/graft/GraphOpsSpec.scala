package graft

import graft.functions.HashKernels

/** Brute-force differential tests for the link-graph family and the
  * round-6 text/dedup additions — the third leg next to the DuckDB
  * oracle (which could share a bug with the SQL expression) and the
  * plan audit. The graph queries derive their edge list from doc_id
  * arithmetic, so a tiny corpus with contiguous ids exercises the
  * full pipeline: hubs, dangling mass, self-loop removal.
  */
class GraphOpsSpec extends SparkSpec {

  private val vocab = Vector("the", "scan", "window", "merge")

  /** n docs with ids 0..n-1 (the graph queries' modulo targets need
    * contiguity, which the driver's generator also guarantees). */
  private def writeDocs(seed: Long, n: Int,
      lang: Int => String = _ => "en"): (String, Vector[Vector[String]]) =
    writeDocIds(seed, cleanIds(n), lang)

  /** One documents row per entry of `ids`, in order (a None is a null
    * doc_id). */
  private def writeDocIds(seed: Long, ids: Seq[Option[Long]],
      lang: Int => String = _ => "en"): (String, Vector[Vector[String]]) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val docs = Vector.fill(ids.size) {
      Vector.fill(3 + rnd.nextInt(28))(vocab(rnd.nextInt(vocab.size)))
    }
    val dir = TestSpark.tempDir(s"graft-graph$seed")
    docs.zip(ids).zipWithIndex
      .map { case ((tk, id), i) => (id, tk.mkString(" "), lang(i), "srcG", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (dir, docs)
  }

  /** The query's edge rule, brute-forced: hub + 3 modulo links,
    * self-loops dropped, duplicates collapsed, % 7 == 0 dangling. */
  private def outlinks(n: Int): Map[Int, Seq[Int]] =
    outlinksOf((0 until n).map(_.toLong), n)
      .map { case (s, ts) => s.toInt -> ts.map(_.toInt) }

  /** The same rule over arbitrary (non-negative) node ids, with `n` the
    * documents row count: a target need not be a node. */
  private def outlinksOf(nodes: Seq[Long], n: Long): Map[Long, Seq[Long]] =
    nodes.filter(_ % 7 != 0).map { s =>
      s -> (Seq(s % 10) ++ (1 to 3).map(j => (s % n * 31 + j * 17) % n))
        .filter(_ != s).distinct
    }.toMap

  private def cleanIds(n: Int): Seq[Option[Long]] = (0 until n).map(i => Some(i.toLong))

  /** 45 documents rows: ids 0-39, with 3 and 17 repeated and two null
    * ids. The 45-row modulus also sends edges to ids 40-44, which are
    * no nodes and so carry nothing. */
  private val dirtyIds: Seq[Option[Long]] =
    cleanIds(40) ++ Seq(Some(3L), None, Some(17L), Some(3L), None)

  private def multiset[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** graph_cc's 3 rounds of min-label propagation over the documents
    * rows `ids`: a node takes the least label among itself and its
    * neighbours in either edge direction that are nodes. One output
    * per row: duplicates repeat, a null id has a null label. */
  private def ccModel(ids: Seq[Option[Long]]): Seq[(Option[Long], Option[Long])] = {
    val nodes = ids.flatten.distinct
    val und = outlinksOf(nodes, ids.size).toSeq
      .flatMap { case (s, ts) => ts.flatMap(t => Seq(s -> t, t -> s)) }
      .filter { case (_, t) => nodes.contains(t) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to 3)
      lbl = nodes.map(v => v -> (lbl(v) +: und.getOrElse(v, Nil).map(lbl)).min).toMap
    ids.map(i => i -> i.map(lbl))
  }

  /** graph_bfs's 3 min-plus rounds from the seeds doc_id < 10 over the
    * directed edges between nodes; unreached stays None. One output per
    * row, as in ccModel. */
  private def bfsModel(ids: Seq[Option[Long]]): Seq[(Option[Long], Option[Int])] = {
    val nodes = ids.flatten.distinct
    val in = outlinksOf(nodes, ids.size).toSeq
      .flatMap { case (s, ts) => ts.map(_ -> s) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var dist = nodes.map(v => v -> (if (v < 10) Some(0) else None)).toMap
    for (_ <- 1 to 3)
      dist = nodes.map { v =>
        v -> (dist(v).toSeq ++ in.getOrElse(v, Nil).flatMap(dist(_)).map(_ + 1))
          .minOption
      }.toMap
    ids.map(i => i -> i.flatMap(dist))
  }

  test("graph_kcore and graph_ppr fail fast without exchange reuse, and build without AQE") {
    def withConf[A](key: String)(body: => A): A = {
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try body finally spark.conf.set(key, prev)
    }
    for (q <- Seq("graph_kcore", "graph_ppr")) {
      val e = withConf("spark.sql.exchange.reuse") {
        intercept[IllegalStateException](SparkEntry.queries(q)(spark, TestSpark.sf0001))
      }
      assert(e.getMessage.contains(q) &&
        e.getMessage.contains("spark.sql.exchange.reuse=true"), e.getMessage)
      withConf("spark.sql.adaptive.enabled")(SparkEntry.queries(q)(spark, TestSpark.sf0001))
    }
  }

  test("graph_pagerank matches a brute-force 3-round power iteration") {
    val n = 40
    val (dir, _) = writeDocs(11L, n)
    val ds = outlinks(n)
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to 3) {
      val contrib = Array.fill(n)(0.0)
      ds.foreach { case (s, ts) =>
        ts.foreach(t => contrib(t) += r(s) / ts.size)
      }
      val dm = (0 until n).filter(_ % 7 == 0).map(r(_)).sum
      r = Array.tabulate(n)(v => 0.15 / n + 0.85 * (contrib(v) + dm / n))
    }
    val got = SparkEntry.queries("graph_pagerank")(spark, dir).collect()
    assert(got.length == n)
    got.foreach { row =>
      val (id, rank, dangling) =
        (row.getLong(0).toInt, row.getDouble(1), row.getBoolean(2))
      assert(dangling == (id % 7 == 0))
      // Exact.fsum quantizes each term on the 2^-53 grid; three
      // chained rounds stay within ~1e-12 of the plain-double model
      assert(math.abs(rank - r(id)) < 1e-9, s"node $id: $rank vs ${r(id)}")
    }
    // rank is a probability distribution: total mass conserved
    assert(math.abs(got.map(_.getDouble(1)).sum - 1.0) < 1e-9)
  }

  test("graph_triangles matches a brute-force wedge enumeration") {
    val n = 40
    val (dir, _) = writeDocs(12L, n)
    val und = outlinks(n).toSeq
      .flatMap { case (s, ts) => ts.map(t => (s min t, s max t)) }.toSet
    val cnt = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for {
      (a, b) <- und; (b2, c) <- und
      if b2 == b && und.contains((a, c))
    } Seq(a, b, c).foreach(v => cnt(v) += 1)
    val got = SparkEntry.queries("graph_triangles")(spark, dir).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(got.size == n)
    (0 until n).foreach(v => assert(got(v) == cnt(v), s"node $v"))
    // sanity: the generated graph actually has triangles to count
    assert(cnt.values.sum > 0)
  }

  test("graph_cc matches brute-force 3-round min-label propagation") {
    val n = 40
    val (dir, _) = writeDocs(13L, n)
    val lbl = ccModel(cleanIds(n)).map { case (v, l) => v.get -> l.get }.toMap
    val got = SparkEntry.queries("graph_cc")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    (0L until n).foreach(v => assert(got(v) == lbl(v), s"node $v"))
    // min-label is monotone: a label never exceeds the node's own id
    (0L until n).foreach(v => assert(got(v) <= v))
    // the hub structure actually merges something
    assert(lbl.values.toSet.size < n)
    // duplicate and null ids: every documents row comes back once
    val (dirty, _) = writeDocIds(15L, dirtyIds)
    val rows = SparkEntry.queries("graph_cc")(spark, dirty).collect().toSeq
      .map(r => (Option(r.getAs[java.lang.Long](0)).map(_.toLong),
        Option(r.getAs[java.lang.Long](1)).map(_.toLong)))
    assert(multiset(rows) == multiset(ccModel(dirtyIds)))
  }

  test("graph_bfs matches brute-force 3-round min-plus relaxation") {
    for ((seed, ids) <- Seq(14L -> cleanIds(40), 15L -> dirtyIds)) {
      val (dir, _) = writeDocIds(seed, ids)
      val got = SparkEntry.queries("graph_bfs")(spark, dir).collect().toSeq
        .map(r => (Option(r.getAs[java.lang.Long](0)).map(_.toLong),
          Option(r.getAs[java.lang.Integer](1)).map(_.toInt), r.getBoolean(2)))
      assert(multiset(got.map(r => (r._1, r._2))) == multiset(bfsModel(ids)), s"seed $seed")
      assert(got.forall(r => r._3 == r._2.nonEmpty), s"seed $seed")
    }
    // the rounds relax past the seeds' direct neighbours
    assert(bfsModel(cleanIds(40)).exists(_._2.exists(_ >= 2)))
  }

  test("graph_hits matches a brute-force 2-round L1-normalized HITS") {
    val n = 40
    val (dir, _) = writeDocs(14L, n)
    val ds = outlinks(n)
    var h = Array.fill(n)(1.0)
    var a = Array.fill(n)(0.0)
    for (_ <- 1 to 2) {
      val a0 = Array.fill(n)(0.0)
      ds.foreach { case (s, ts) => ts.foreach(t => a0(t) += h(s)) }
      val na = a0.sum
      a = a0.map(_ / na)
      val h0 = Array.fill(n)(0.0)
      ds.foreach { case (s, ts) => h0(s) = ts.map(a(_)).sum }
      val nh = h0.sum
      h = h0.map(_ / nh)
    }
    val got = SparkEntry.queries("graph_hits")(spark, dir).collect()
    assert(got.length == n)
    got.foreach { row =>
      val (id, hub, auth) =
        (row.getLong(0).toInt, row.getDouble(1), row.getDouble(2))
      assert(math.abs(hub - h(id)) < 1e-9, s"hub $id: $hub vs ${h(id)}")
      assert(math.abs(auth - a(id)) < 1e-9, s"auth $id: $auth vs ${a(id)}")
    }
    // L1 normalization: both score vectors are distributions
    assert(math.abs(got.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    assert(math.abs(got.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // pages without outlinks contribute nothing as hubs
    got.filter(_.getLong(0) % 7 == 0).foreach(r =>
      assert(r.getDouble(1) == 0.0))
  }

  test("pipe_wsample matches a brute-force weighted priority draw") {
    val (dir, docs) = writeDocs(41L, 300)
    val want = docs.zipWithIndex.flatMap { case (tk, i) =>
      val nTok = tk.size // writeDocs emits non-empty docs
      val h = HashKernels.h32(s"wsample:$i")
      val pri = BigDecimal(math.log((h + 1.0) / 4294967296.0) / nTok)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Some((i.toLong, nTok, pri))
    }.sortBy { case (id, _, pri) => (-pri, id) }.take(100)
    val got = SparkEntry.queries("pipe_wsample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    assert(got.length == 100)
    assert(got.toSeq == want.toSeq)
    // weighting sanity: the kept set over-represents long docs
    val avgAll = docs.map(_.size).sum.toDouble / docs.size
    val avgKept = got.map(_._2).sum.toDouble / got.length
    assert(avgKept > avgAll)
  }

  test("text_outliers matches a brute-force median/MAD model") {
    val langs = Vector("en", "de", "fr")
    // heavy-tailed lengths: a tight 10..20 body plus spam-page blowups
    // every 29th doc, so both flag classes occur
    val s0 = spark
    import s0.implicits._
    val rnd = new scala.util.Random(51L)
    val docs = Vector.tabulate(200) { i =>
      val len = if (i % 29 == 0) 200 + rnd.nextInt(50) else 10 + rnd.nextInt(11)
      Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
    }
    val dir = TestSpark.tempDir("graft-outliers")
    docs.zipWithIndex
      .map { case (tk, i) =>
        (i.toLong, tk.mkString(" "), langs(i % 3), "srcG", 1L)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // quantile_cont / Spark percentile: index (n-1)*p into the sorted
    // values, linear interpolation
    def qcont(vs: Seq[Double]): Double = {
      val s = vs.sorted
      val p = (s.size - 1) * 0.5
      val lo = p.toInt
      if (p == lo) s(lo) else s(lo) + (p - lo) * (s(lo + 1) - s(lo))
    }
    val byLang = docs.zipWithIndex.groupBy { case (_, i) => langs(i % 3) }
    val med = byLang.map { case (l, ds) =>
      l -> qcont(ds.map(_._1.size.toDouble))
    }
    val mad = byLang.map { case (l, ds) =>
      l -> qcont(ds.map { case (tk, _) => math.abs(tk.size - med(l)) })
    }
    val got = SparkEntry.queries("text_outliers")(spark, dir).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val (id, l, n) = (r.getLong(0).toInt, r.getString(1), r.getInt(2))
      assert(n == docs(id).size)
      assert(r.getDouble(3) == med(l), s"med doc $id")
      assert(r.getDouble(4) == mad(l), s"mad doc $id")
      assert(r.getDouble(5) == math.abs(n - med(l)), s"dev doc $id")
      assert(r.getBoolean(6) ==
        (math.abs(n - med(l)) > 3.0 * 1.4826 * mad(l)), s"flag doc $id")
    }
    // the corpus actually produces both classes
    assert(got.exists(_.getBoolean(6)) && got.exists(!_.getBoolean(6)))
  }

  test("text_ks matches a brute-force two-sample KS statistic") {
    val s0 = spark
    import s0.implicits._
    // shifted = src2 lengths drawn from a longer regime -> must drift;
    // unshifted -> same regime, must not
    for (shift <- Seq(0, 25)) {
      val rnd = new scala.util.Random(61L + shift)
      val docs = Vector.tabulate(240) { i =>
        val src = if (i % 2 == 0) "src1" else "src2"
        val len = 10 + rnd.nextInt(15) + (if (src == "src2") shift else 0)
        (i.toLong, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))), src)
      }
      val dir = TestSpark.tempDir(s"graft-ks$shift")
      docs.map { case (id, tk, src) => (id, tk.mkString(" "), "en", src, 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val l1 = docs.filter(_._3 == "src1").map(_._2.size)
      val l2 = docs.filter(_._3 == "src2").map(_._2.size)
      val vs = (l1 ++ l2).distinct.sorted
      val ks = vs.map { v =>
        math.abs(l1.count(_ <= v).toDouble / l1.size -
          l2.count(_ <= v).toDouble / l2.size)
      }.max
      val crit = 1.358 * math.sqrt(
        (l1.size + l2.size).toDouble / (l1.size.toDouble * l2.size.toDouble))
      val r = SparkEntry.queries("text_ks")(spark, dir).collect().head
      assert((r.getLong(0), r.getLong(1)) == ((l1.size.toLong, l2.size.toLong)))
      assert(r.getDouble(2) == ks, s"shift $shift ks")
      assert(r.getBoolean(3) == (ks > crit), s"shift $shift flag")
      assert(r.getBoolean(3) == (shift > 0), s"shift $shift expected class")
    }
  }

  test("text_chi2 matches a brute-force contingency model") {
    val s0 = spark
    import s0.implicits._
    val langs = Vector("en", "de", "fr")
    val srcs = Vector("srcA", "srcB", "srcC", "srcD")
    val rnd = new scala.util.Random(71L)
    // skewed assignment so independence genuinely fails: lang index
    // correlates with source index
    val docs = Vector.tabulate(300) { i =>
      val li = rnd.nextInt(3)
      val si = if (rnd.nextBoolean()) li else rnd.nextInt(4)
      (i.toLong, "the scan window", langs(li), srcs(si), 1L)
    }
    val dir = TestSpark.tempDir("graft-chi2")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val o = docs.groupBy(x => (x._3, x._4)).view.mapValues(_.size).toMap
    val rl = docs.groupBy(_._3).view.mapValues(_.size).toMap
    val cs = docs.groupBy(_._4).view.mapValues(_.size).toMap
    val n = docs.size.toDouble
    val chi2 = o.map { case ((l, src), cnt) =>
      val e = rl(l) * cs(src) / n
      (cnt - e) * (cnt - e) / e
    }.sum
    val r = SparkEntry.queries("text_chi2")(spark, dir).collect().head
    assert(r.getLong(0) == docs.size)
    assert((r.getLong(1), r.getLong(2)) ==
      ((rl.size.toLong, cs.size.toLong)))
    assert(r.getLong(3) == (rl.size - 1L) * (cs.size - 1L))
    // brute force sums in map order; the query folds sorted terms —
    // equal to ~1e-9, not bit-equal
    assert(math.abs(r.getDouble(4) - chi2) < 1e-6, s"${r.getDouble(4)} vs $chi2")
    // the engineered correlation must be detected: chi2 >> df at any
    // reasonable critical value
    assert(r.getDouble(4) > 3 * r.getLong(3))
  }

  test("dd_containment matches a brute-force shingle-hash model") {
    for (seed <- Seq(21L, 22L)) {
      val (dir, docs) = writeDocs(seed, 30)
      // model on the HASH (like the query): distinct 3-gram h32 per doc
      val hs = docs.map(tk =>
        tk.sliding(3).filter(_.size == 3)
          .map(g => HashKernels.h32(g.mkString(" "))).toSet)
      val want = (for {
        a <- hs.indices; b <- hs.indices
        if a != b && hs(a).nonEmpty
        inter = (hs(a) & hs(b)).size
        if inter.toDouble / hs(a).size >= 0.5
      } yield (a.toLong, b.toLong, hs(a).size, inter.toLong,
        inter.toDouble / hs(a).size)).toSet
      val got = SparkEntry.queries("dd_containment")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
          r.getDouble(4))).toSet
      assert(got == want,
        s"seed $seed: ${(got diff want) ++ (want diff got)}")
    }
  }

  test("text_entropy matches brute-force Shannon entropy per doc") {
    val (dir, docs) = writeDocs(31L, 30)
    val got = SparkEntry.queries("text_entropy")(spark, dir).collect()
      .map(r => r.getLong(0).toInt -> r).toMap
    docs.zipWithIndex.foreach { case (tk, i) =>
      val n = tk.size
      val m = tk.groupBy(identity).values.map(_.size)
      val h = (math.log(n) - m.map(c => c * math.log(c)).sum / n) / math.log(2)
      val row = got(i)
      assert(row.getLong(row.fieldIndex("n")) == n)
      assert(row.getLong(row.fieldIndex("k")) == m.size)
      assert(math.abs(row.getDouble(row.fieldIndex("ent")) - h) < 2e-6,
        s"doc $i")
      // bounds: 0 <= H <= log2(k)
      val ent = row.getDouble(row.fieldIndex("ent"))
      assert(ent >= 0.0 && ent <= math.log(m.size.toDouble) / math.log(2) + 2e-6)
    }
  }
}
