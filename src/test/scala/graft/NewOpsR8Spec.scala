package graft

import org.apache.spark.sql.functions._

/** Invariant + differential tests for the round-8 operators — the
  * third leg next to the DuckDB oracle and the plan audit (a brute
  * Scala model can't share a SQL-level bug with either engine).
  * Random inputs use deterministic seeds and are written in the
  * driver's parquet shape so queries run through the production
  * loader (`Tables.load`). */
class NewOpsR8Spec extends SparkSpec {

  private val d = TestSpark.sf0001

  test("join_range matches the brute-force O(N^2) band join on random orders") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(11L, 12L)) {
      val rnd = new scala.util.Random(seed)
      // cluster prices so bands are actually populated
      val rows = Vector.tabulate(200)(i =>
        (i.toLong, 1000.0 + rnd.nextInt(40) * 10 + rnd.nextDouble()))
      val dir = TestSpark.tempDir(s"graft-r8j$seed")
      rows.toDF("o_orderkey", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      val want = rows.flatMap { case (k1, p1) =>
        val ns = rows.filter { case (k2, p2) =>
          k1 < k2 && math.abs(p1 - p2) <= 25.0 }
        if (ns.isEmpty) Nil
        else Seq((k1, ns.size.toLong,
          ns.map { case (_, p2) => math.abs(p1 - p2) }.min))
      }.toSet
      val got = SparkEntry.queries("join_range")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"seed $seed")
    }
  }

  test("emb_binary matches a brute-force sign-code Hamming model") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(21L)
    val vecs = Vector.tabulate(30)(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f), i % 3))
    val dir = TestSpark.tempDir("graft-r8e")
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    def code(v: Array[Float]): Long =
      v.zipWithIndex.foldLeft(0L) { case (a, (x, i)) =>
        if (x > 0f) a | (1L << i) else a }
    val codes = vecs.map { case (id, v, _) => id -> code(v) }.toMap
    val want = (for {
      q <- 0L until 8L
      ranked = codes.toSeq.filter(_._1 != q)
        .map { case (id, c) =>
          (id, java.lang.Long.bitCount(codes(q) ^ c)) }
        .sortBy { case (id, h) => (h, id) }.take(3)
      ((nid, h), r) <- ranked.zipWithIndex
    } yield (q, r + 1, nid, h)).toSet
    val got = SparkEntry.queries("emb_binary")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == want)
  }

  test("dd_incremental: bloom has no false negatives; exact verdict matches a set model") {
    val s = spark
    import s.implicits._
    val vocab = Vector("a", "b", "c")
    for (seed <- Seq(31L, 32L)) {
      val rnd = new scala.util.Random(seed)
      // 2-4 token docs over a 3-word vocab -> many exact duplicates
      val docs = Vector.tabulate(60)(i =>
        (i.toLong,
          Vector.fill(2 + rnd.nextInt(3))(vocab(rnd.nextInt(3))).mkString(" ")))
      val dir = TestSpark.tempDir(s"graft-r8d$seed")
      docs.map { case (i, t) => (i, t, "en", "srcP", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val corpusTexts = docs.filter(_._1 % 5 != 0).map(_._2).toSet
      val got = SparkEntry.queries("dd_incremental")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
      assert(got.map(_._1).toSet == docs.map(_._1).filter(_ % 5 == 0).toSet)
      got.foreach { case (id, bloomHit, isDup) =>
        val truth = corpusTexts(docs(id.toInt)._2)
        assert(isDup == truth, s"seed $seed doc $id exact verdict")
        // Bloom false negatives are impossible by construction
        if (truth) assert(bloomHit, s"seed $seed doc $id: bloom missed a real dup")
      }
    }
  }

  test("graph_domainrank conserves rank mass and covers every domain") {
    val rows = SparkEntry.queries("graph_domainrank")(spark, d).collect()
    assert(rows.length == 20)
    val total = rows.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-9,
      s"rank mass $total drifted from 1.0 (teleport + dangling should conserve)")
    // condensed graph: out_links are inter-domain only, so no domain
    // may point at itself (guard on the sdom<>ddom filter)
    assert(rows.forall(_.getLong(2) >= 0))
  }

  test("pipe_curriculum: stage ladder respected, positions contiguous per (stage, shard)") {
    val rows = SparkEntry.queries("pipe_curriculum")(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    rows.foreach { case (stage, _, _, id, nTok) =>
      val want =
        if (nTok < 32) 0 else if (nTok < 64) 1 else if (nTok < 128) 2 else 3
      assert(stage == want, s"doc $id: n_tok $nTok in stage $stage")
    }
    rows.groupBy { case (st, sh, _, _, _) => (st, sh) }.foreach {
      case ((st, sh), grp) =>
        assert(grp.map(_._3).sorted.toSeq == (1 to grp.size),
          s"($st,$sh): positions not contiguous")
    }
  }

  test("mm_dedup accounting: items = distinct + dups per modality") {
    val rows = SparkEntry.queries("mm_dedup")(spark, d).collect()
    assert(rows.map(_.getString(0)).toSet == Set("image", "audio", "video"))
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        s"${r.getString(0)}: n_items != n_distinct + n_dup_items")
      if (r.getLong(3) == 0) assert(r.getLong(4) == 0)
    }
  }

  test("text_jsd is a valid divergence: 0 <= jsd_bits <= 1") {
    val r = SparkEntry.queries("text_jsd")(spark, d).collect().head
    val jsd = r.getDouble(3)
    assert(jsd >= 0.0 && jsd <= 1.0, s"jsd_bits $jsd outside [0,1]")
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("agg_srm: hash split is balanced on real data (no SRM alarm)") {
    val r = SparkEntry.queries("agg_srm")(spark, d).collect().head
    assert(r.getLong(0) + r.getLong(1) > 0)
    assert(r.getDouble(2) >= 0.0)
    // the 50/50 md5 split must not trip its own alarm on clean data
    assert(!r.getBoolean(3), s"SRM flagged on an honest hash split: ${r.getDouble(2)}")
  }

  test("pipe_unimax water-filling: budget exhausted, caps respected, common level") {
    // (source, n_tok, e_cap, cap_tokens, alloc_tokens, epochs)
    val rows = SparkEntry.queries("pipe_unimax")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val budget = 2.0 * rows.map(_._2).sum
    rows.foreach { case (src, nTok, eCap, cap, alloc, epochs) =>
      assert(cap == nTok * eCap, s"$src: cap != e_cap * n_tok")
      assert(alloc <= cap + 1e-6, s"$src: allocation exceeds the epoch cap")
      assert(math.abs(epochs - BigDecimal(alloc / nTok)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"$src: epochs != alloc / n_tok")
    }
    // if the budget is under total capacity it must be exhausted
    // (up to the 6-dp rounding of each uncapped allocation)
    if (budget <= rows.map(_._4.toDouble).sum)
      assert(math.abs(rows.map(_._5).sum - budget) < 1e-4 * rows.length,
        s"allocations ${rows.map(_._5).sum} do not exhaust budget $budget")
    // every uncapped source sits at one common water level
    val uncapped = rows.filter(r => r._5 < r._4.toDouble - 1e-9).map(_._5)
    assert(uncapped.distinct.length <= 1,
      s"uncapped sources not at a common level: ${uncapped.distinct.toSeq}")
    // with per-source caps 1..4 epochs on this corpus both branches fire
    assert(uncapped.nonEmpty && uncapped.length < rows.length,
      "expected BOTH capped and uncapped sources on the test corpus")
  }

  test("pipe_unimax closed form equals the iterative water-filling fixpoint on random skew") {
    val s = spark
    import s.implicits._
    // reference: the DEFINITION — repeatedly cap any source whose
    // capacity is under the current fair share, redistribute, repeat
    def waterfill(caps: Map[String, Long], budget: Double): Map[String, Double] = {
      var active = caps.keySet
      var remaining = budget
      val alloc = scala.collection.mutable.Map[String, Double]()
      var done = false
      while (!done && active.nonEmpty) {
        val fair = remaining / active.size
        val newlyCapped = active.filter(src => caps(src) <= fair)
        if (newlyCapped.isEmpty) {
          active.foreach(src => alloc(src) = fair)
          done = true
        } else {
          newlyCapped.foreach { src =>
            alloc(src) = caps(src).toDouble; remaining -= caps(src) }
          active = active -- newlyCapped
        }
      }
      alloc.toMap
    }
    for (seed <- Seq(41L, 42L, 43L)) {
      val rnd = new scala.util.Random(seed)
      // heavy skew: doc counts 1..80, token counts 1..40 per doc
      val rows = (0 until 8).flatMap { si =>
        val nDocs = 1 + rnd.nextInt(80)
        (0 until nDocs).map { di =>
          val nTok = 1 + rnd.nextInt(40)
          ((si.toLong * 1000) + di, Seq.fill(nTok)("w").mkString(" "),
            "en", s"src$si", nTok.toLong)
        }
      }
      val dir = TestSpark.tempDir(s"graft-r8u$seed")
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val nTokBySrc = rows.groupBy(_._4)
        .map { case (src, rs) => src -> rs.map(_._5).sum }
      val caps = nTokBySrc.map { case (src, n) =>
        src -> n * (1 + src.drop(3).toInt % 4) }
      val want = waterfill(caps, 2.0 * nTokBySrc.values.sum)
      val got = SparkEntry.queries("pipe_unimax")(spark, dir).collect()
        .map(r => r.getString(0) -> r.getDouble(4)).toMap
      assert(got.keySet == want.keySet, s"seed $seed sources")
      got.foreach { case (src, alloc) =>
        assert(math.abs(alloc - want(src)) < 1e-5,
          s"seed $seed $src: closed-form $alloc vs iterative ${want(src)}")
      }
    }
  }

  test("text_c4: keep is the conjunction of its rules; max_wlen is honest") {
    val rows = SparkEntry.queries("text_c4")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rules = (3 to 8).map(r.getBoolean)
      assert(r.getBoolean(9) == rules.forall(identity),
        s"doc ${r.getLong(0)}: keep != AND(rules)")
      assert(r.getInt(2) >= 1, "max word length must be >= 1")
      assert(r.getBoolean(4) == (r.getInt(2) <= 15),
        s"doc ${r.getLong(0)}: r_wordcap inconsistent with max_wlen")
    }
  }

  test("sparse_dot_q20 kernel matches a brute-force grid model on random postings") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77L)
    val vocab = Vector.tabulate(40)(i => f"w$i%02d")
    def doc(): Map[String, Double] =
      rnd.shuffle(vocab).take(5 + rnd.nextInt(20))
        .map(w => w -> (rnd.nextDouble() * 30.0)).toMap
    val docs = Vector.tabulate(50)(i => (i.toLong, doc()))
    val df = docs.map { case (id, m) =>
      (id, m.toSeq.sortBy(_._1)) }.toDF("id", "terms")
    val pairs = df.as("a").join(df.as("b"),
        col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        graft.functions.VectorFunctions.sparseDot(
          col("a.terms"), col("b.terms")).as("dot"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val G = 1048576.0
    docs.combinations(2).foreach { case Vector((ia, ma), (ib, mb)) =>
      val want = ma.keysIterator
        .map(w => math.floor(ma(w) * mb.getOrElse(w, 0.0) * G).toLong)
        .sum.toDouble / G
      assert(pairs((ia, ib)) == want, s"pair ($ia,$ib)")
    }
  }

  test("graph_bfs: seeds at 0, triangle inequality on edges, monotone frontier") {
    val rows = SparkEntry.queries("graph_bfs")(spark, d).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(rows.size == 500)
    (0L until 10L).foreach(s => assert(rows(s).contains(0), s"seed $s"))
    rows.foreach { case (id, dO) =>
      dO.foreach { dist =>
        assert(dist >= 0 && dist <= 3, s"node $id dist $dist outside rounds")
        if (dist > 0 && id >= 10) {
          // some in-neighbor must sit exactly one hop closer
          val n = rows.size
          val inNbrs = rows.keys.filter { u =>
            u % 7 != 0 && u != id &&
              (u % 10 == id || (1 to 3).exists(j => (u * 31 + j * 17) % n == id))
          }
          assert(inNbrs.exists(u => rows(u).contains(dist - 1)),
            s"node $id at dist $dist has no predecessor at ${dist - 1}")
        }
      }
    }
  }

  test("emb_probe: training loss strictly decreases over the GD steps") {
    val rows = SparkEntry.queries("emb_probe")(spark, d).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(rows.head._3 == 0.0, "step 0 must start from w = 0")
    rows.sliding(2).foreach { case Array((_, m0, _), (st, m1, w1)) =>
      assert(m1 < m0, s"mse did not decrease at step $st: $m0 -> $m1")
      assert(w1 > 0.0, s"weights did not move by step $st")
    }
  }

  test("tw_tsim: correlations bounded, all type pairs present, symmetric formula") {
    val rows = SparkEntry.queries("tw_tsim")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val types = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    assert(rows.length == types.length * (types.length - 1) / 2,
      "one row per unordered type pair")
    rows.foreach { case (ta, tb, n, r) =>
      assert(ta < tb, "pairs must be canonically ordered")
      assert(n > 0)
      assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9, s"($ta,$tb) r=$r out of range")
    }
  }

  test("tw_motif matches a brute-force z-normalized closest-pair model") {
    val rows = SparkEntry.queries("tw_motif")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // brute force from the same hourly series
    val ev = graft.core.Tables.load(spark, d, "events")
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("hb"))
      .groupBy("hb").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    val hours = (ev.keys.min to ev.keys.max by 3600000L).toVector
    val series = hours.map(h => ev.getOrElse(h, 0L))
    val wins = (0 to series.length - 24).map { st =>
      val w = series.slice(st, st + 24)
      val mu = w.sum.toDouble / 24.0
      val sg = math.sqrt(w.map(v => v * v).sum.toDouble / 24.0 - mu * mu)
      (st.toLong, w, mu, sg)
    }.filter(_._4 > 0.0)
    val best = (for {
      (sa, wa, ma, ga) <- wins; (sb, wb, mb, gb) <- wins
      if sb >= sa + 24
    } yield {
      val d2 = wa.zip(wb).map { case (xa, xb) =>
        val z = (xa - ma) / ga - (xb - mb) / gb; z * z }.sum
      (sa, sb, BigDecimal(d2).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).sortBy(t => (t._3, t._1, t._2)).take(5)
    assert(rows.toSeq == best,
      s"motif pairs diverge: got ${rows.toSeq} want $best")
  }

  private def hourlySeries(eventType: String): Vector[Long] = {
    val ev = graft.core.Tables.load(spark, d, "events")
      .filter(col("event_type") === eventType)
      .select(date_trunc("hour", col("ts")).as("hb"))
      .groupBy("hb").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    (ev.keys.min to ev.keys.max by 3600000L).toVector
      .map(h => ev.getOrElse(h, 0L))
  }

  test("tw_acf matches a brute-force autocorrelation model; r(0) would be 1") {
    val series = hourlySeries("purchase")
    val n = series.length
    val mu = series.sum.toDouble / n
    val c0 = series.map(x => x * x).sum.toDouble / n - mu * mu
    val want = (1 to 48).map { k =>
      val m = n - k
      val sxy = (0 until m).map(t => series(t) * series(t + k)).sum
      val sh = series.take(m).sum; val st = series.drop(k).sum
      k.toLong -> BigDecimal(
        ((sxy - mu * (sh + st) + m * mu * mu) / n) / c0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = SparkEntry.queries("tw_acf")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, r) =>
      assert(math.abs(r - want(k)) < 1e-9, s"lag $k: $r vs ${want(k)}")
      assert(r >= -1.0 - 1e-6 && r <= 1.0 + 1e-6, s"lag $k out of range")
    }
  }

  test("tw_cpd: reported points are the global top-|CUSUM| hours") {
    val series = hourlySeries("error")
    val n = series.length
    val mu = series.sum.toDouble / n
    val cusums = series.scanLeft(0L)(_ + _).drop(1).zipWithIndex
      .map { case (ps, i) => (i, ps - (i + 1) * mu) }
    val want = cusums.sortBy { case (i, c) => (-math.abs(c), i) }.take(5)
      .map { case (_, c) => BigDecimal(c)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val got = SparkEntry.queries("tw_cpd")(spark, d).collect()
      .map(_.getDouble(2))
    assert(got.toSeq == want.toSeq, s"got ${got.toSeq} want ${want.toSeq}")
  }

  test("mm_phash matches a brute-force block-mean-hash model") {
    val texts = graft.core.Tables.load(spark, d, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def code(text: String): Option[Long] = {
      val b = text.length / 64
      if (b < 1) None else {
        val used = text.take(b * 64).map(_.toLong)
        val total = used.sum
        Some((0 until 64).foldLeft(0L) { (acc, j) =>
          val bs = used.slice(j * b, (j + 1) * b).sum
          if (bs * 64 > total) acc | (1L << j) else acc
        })
      }
    }
    val codes = texts.flatMap { case (id, t) => code(t).map(id -> _) }
    def bandsOf(c: Long) = (0 until 4).map(k => (k, (c >> (k * 16)) & 0xFFFFL))
    val want = (for {
      (ia, ca) <- codes; (ib, cb) <- codes
      if ia < ib && bandsOf(ca).intersect(bandsOf(cb)).nonEmpty
      h = java.lang.Long.bitCount(ca ^ cb)
      if h <= 12
    } yield (ia, ib, h)).toSet
    val got = SparkEntry.queries("mm_phash")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("agg_survival matches a brute-force Kaplan-Meier model") {
    val users = graft.core.Tables.load(spark, d, "events")
      .groupBy("user_id").agg(min(col("ts")).as("f"), max(col("ts")).as("l"))
      .collect().map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
    val gmax = users.map(_._2).max
    val lts = users.map { case (f, l) =>
      ((l / 1000 - f / 1000) / 3600, l >= gmax - 24L * 3600 * 1000) }
    val times = lts.map(_._1).distinct.sorted
    var surv = 1.0; var atRisk = lts.length.toLong; var dead = false
    val want = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long, Double)]()
    times.foreach { tt =>
      val d0 = lts.count { case (t, c) => t == tt && !c }.toLong
      val c0 = lts.count { case (t, c) => t == tt && c }.toLong
      if (d0 == atRisk) dead = true
      else if (d0 > 0) surv = surv * math.exp(
        math.floor(math.log(1.0 - d0.toDouble / atRisk) * 1e6) / 1e6)
      if (d0 > 0)
        want += ((tt, atRisk, d0, c0,
          if (dead) 0.0 else BigDecimal(surv)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      atRisk -= (d0 + c0)
    }
    val got = SparkEntry.queries("agg_survival")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // the model multiplies per-step (engine exps ONE summed total), so
    // compare survival to 1e-5; counts must be exact
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && g._4 == w._4,
        s"counts diverge at t=${g._1}: $g vs $w")
      assert(math.abs(g._5 - w._5) < 1e-5, s"surv at t=${g._1}: $g vs $w")
    }
    // KM invariants: S non-increasing, within (0, 1]
    got.map(_._5).sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-9)
      case _           => ()
    }
    assert(got.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
  }

  test("text_rake: phrases are stopword-free runs, scores positive, cap respected") {
    val stop = Set("the", "a", "and", "of")
    val rows = SparkEntry.queries("text_rake")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (phrase, nOcc, nWords, score) =>
      val ws = phrase.split(" ")
      assert(ws.length == nWords && nWords <= 4)
      assert(ws.forall(w => !stop.contains(w)), s"stopword inside '$phrase'")
      assert(nOcc >= 1 && score > 0.0)
    }
    // scores arrive sorted descending
    rows.map(_._4).sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-9); case _ => ()
    }
  }

  test("graph_kcore: peeling is sound — core members keep >= 3 in-core neighbors") {
    val rows = SparkEntry.queries("graph_kcore")(spark, d).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    assert(rows.length == 500)
    val core = rows.filter(_._2).map(_._1).toSet
    val n = rows.length
    def nbrs(u: Long): Set[Long] = {
      val out = if (u % 7 != 0)
        (Seq(u % 10) ++ (1 to 3).map(j => (u * 31 + j * 17) % n))
          .filter(_ != u).toSet
      else Set.empty[Long]
      val in = rows.map(_._1).filter { v =>
        v % 7 != 0 && v != u &&
          (v % 10 == u || (1 to 3).exists(j => (v * 31 + j * 17) % n == u))
      }.toSet
      out ++ in
    }
    rows.filter(_._2).foreach { case (u, _, degCore) =>
      val inCoreNbrs = nbrs(u).count(core)
      assert(inCoreNbrs.toLong == degCore,
        s"node $u: reported deg_core $degCore vs recomputed $inCoreNbrs")
      assert(degCore >= 3, s"core node $u has only $degCore in-core neighbors")
    }
    assert(core.nonEmpty && core.size < n,
      "peeling should drop some nodes and keep some on this graph")
  }

  test("agg_polish matches a brute-force Tukey median-polish model") {
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val cells = graft.core.Tables.load(spark, d, "events")
      .groupBy(dayofweek(col("ts")).as("dw"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).cast("double").as("e"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    var e = cells.toMap
    val dws = e.keys.map(_._1).toSeq.distinct.sorted
    val hrs = e.keys.map(_._2).toSeq.distinct.sorted
    var rEff = dws.map(_ -> 0.0).toMap
    var cEff = hrs.map(_ -> 0.0).toMap
    for (_ <- 1 to 2) {
      val rm = dws.map(dw =>
        dw -> med(e.collect { case ((d0, _), v) if d0 == dw => v }.toSeq)).toMap
      e = e.map { case ((d0, h), v) => ((d0, h), v - rm(d0)) }
      rEff = rEff.map { case (d0, v) => d0 -> (v + rm(d0)) }
      val cm = hrs.map(h =>
        h -> med(e.collect { case ((_, h0), v) if h0 == h => v }.toSeq)).toMap
      e = e.map { case ((d0, h), v) => ((d0, h), v - cm(h)) }
      cEff = cEff.map { case (h, v) => h -> (v + cm(h)) }
    }
    val rMed = med(rEff.values.toSeq); val cMed = med(cEff.values.toSeq)
    val wantOverall = rMed + cMed
    val wantRows = rEff.map { case (k, v) => k -> (v - rMed) }
    val wantCols = cEff.map { case (k, v) => k -> (v - cMed) }
    val wantResid = e.toSeq
      .map { case ((d0, h), v) => (d0 * 100 + h, v) }
      .sortBy { case (k, v) => (-math.abs(v), k) }.take(5).toMap
    val got = SparkEntry.queries("agg_polish")(spark, d).collect()
    got.foreach { r =>
      val (comp, v) = (r.getString(0), r.getDouble(2))
      comp match {
        case "overall" => assert(v == wantOverall, s"overall $v")
        case "dow"     => assert(v == wantRows(r.getInt(1)), s"dow ${r.getInt(1)}")
        case "hour"    => assert(v == wantCols(r.getInt(1)), s"hour ${r.getInt(1)}")
        case "resid"   => assert(v == wantResid(r.getInt(1)), s"resid ${r.getInt(1)}")
      }
    }
    assert(got.count(_.getString(0) == "dow") == dws.length)
    assert(got.count(_.getString(0) == "hour") == hrs.length)
    assert(got.count(_.getString(0) == "resid") == math.min(5, e.size))
  }

  test("agg_hll_merge: daily-sketch merge is lossless and the estimate is sane") {
    val r = SparkEntry.queries("agg_hll_merge")(spark, d).collect().head
    val (nDays, em, ed, lossless, exact, relErr) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3),
        r.getLong(4), r.getDouble(5))
    assert(nDays > 1, "need multiple daily sub-sketches for the merge to mean anything")
    assert(lossless && em == ed,
      s"register-max merge must be lossless: merged $em vs direct $ed")
    assert(exact > 0 && relErr < 0.5,
      s"64-register HLL should land within 50% of $exact, got $em")
  }

  test("pipe_groupsplit: group split never leaks a dup cluster across folds") {
    val s = spark
    import s.implicits._
    // corpus with HEAVY duplication: 40 docs over 6 distinct texts
    val rnd = new scala.util.Random(9L)
    val texts = Vector("a b", "c d", "e f", "g h", "i j", "k l")
    val docs = Vector.tabulate(40)(i =>
      (i.toLong, texts(rnd.nextInt(6)), "en", "srcG", 3L))
    val dir = TestSpark.tempDir("graft-r8gs")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("pipe_groupsplit")(spark, dir).collect()
    // group-count conservation: every distinct text lands in exactly
    // one fold, so the per-fold group counts must PARTITION the texts
    assert(rows.map(_.getLong(2)).sum == texts.length,
      "n_groups must total the distinct text count")
    assert(rows.map(_.getLong(1)).sum == docs.length)
    // the audit column reports the DOC split's leakage on this corpus
    // (40 docs over 6 texts: overwhelmingly likely at least one text
    // straddles folds under a per-doc hash — the point of the op)
    val leaked = rows.head.getLong(4)
    assert(rows.forall(_.getLong(4) == leaked))
    assert(leaked >= 0 && leaked <= texts.length)
  }

  test("agg_anova matches a brute-force one-way F computation") {
    val vals = graft.core.Tables.load(spark, d, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val groups = vals.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = vals.length; val k = groups.size
    val mean = vals.map(_._2).sum / n
    val ssb = groups.values.map { g =>
      val m = g.sum / g.length; g.length * (m - mean) * (m - mean) }.sum
    val ssw = groups.values.map { g =>
      val m = g.sum / g.length; g.map(v => (v - m) * (v - m)).sum }.sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val r = SparkEntry.queries("agg_anova")(spark, d).collect().head
    assert(r.getLong(0) == k && r.getLong(1) == n)
    // the engine computes via decimal-exact sufficient statistics; the
    // naive two-pass model accumulates error, so compare loosely
    assert(math.abs(r.getDouble(4) - f) / math.max(f, 1e-9) < 1e-3,
      s"F ${r.getDouble(4)} vs model $f")
    assert(r.getBoolean(5) == (r.getDouble(4) > 2.372))
  }

  test("graph_assortativity: hub-leaf wiring makes the web disassortative, |r| <= 1") {
    val r = SparkEntry.queries("graph_assortativity")(spark, d)
      .collect().head
    assert(r.getLong(0) > 0)
    val rho = r.getDouble(1)
    assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9)
    // ten hub pages absorb ~a quarter of all in-links from leaves, so
    // the degree correlation must come out negative on this graph
    assert(rho < 0.0, s"expected disassortative mixing, got r = $rho")
  }

  test("emb_ch_index matches a brute-force Calinski-Harabasz model") {
    val vecs = graft.core.Tables.load(spark, d, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = vecs.filter(_._1 < 8)
    def d2(a: Array[Float], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val assign = vecs.map { case (id, v) =>
      val cell = cents.map { case (cid, cv) =>
        (cv.zip(v).map { case (c, x) =>
          (x.toDouble - c.toDouble) * (x.toDouble - c.toDouble) }.sum, cid)
      }.min._2
      (id, v, cell)
    }
    val byCell = assign.groupBy(_._3)
    val means = byCell.view.mapValues { g =>
      val m = Array.fill(64)(0.0)
      g.foreach { case (_, v, _) => (0 until 64).foreach(i => m(i) += v(i)) }
      m.map(_ / g.length)
    }.toMap
    val gmean = {
      val m = Array.fill(64)(0.0)
      assign.foreach { case (_, v, _) => (0 until 64).foreach(i => m(i) += v(i)) }
      m.map(_ / assign.length)
    }
    val ssw = assign.map { case (_, v, c) => d2(v, means(c)) }.sum
    val ssb = byCell.map { case (c, g) =>
      g.length * means(c).zip(gmean)
        .map { case (a, b) => (a - b) * (a - b) }.sum }.sum
    val n = assign.length; val k = byCell.size
    val ch = (ssb / (k - 1)) / (ssw / (n - k))
    val r = SparkEntry.queries("emb_ch_index")(spark, d).collect().head
    assert(r.getLong(0) == k && r.getLong(1) == n)
    assert(math.abs(r.getDouble(2) - ssb) < 1e-4, s"ssb ${r.getDouble(2)} vs $ssb")
    assert(math.abs(r.getDouble(3) - ssw) < 1e-4, s"ssw ${r.getDouble(3)} vs $ssw")
    assert(math.abs(r.getDouble(4) - ch) / ch < 1e-6, s"ch ${r.getDouble(4)} vs $ch")
  }

  test("agg_power: MDE shrinks with n and the 1pct sizing inverts the formula") {
    val r = SparkEntry.queries("agg_power")(spark, d).collect().head
    val (na, nb, p, mdeAbs, mdeRel, nNeed) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))
    // at sf0.001 every user converts (p = 1): se = 0, mde = 0 — the
    // formulas must still hold at the degenerate edge
    assert(na > 0 && nb > 0 && p > 0.0 && p <= 1.0)
    val zsum = 1.959964 + 0.841621
    val se = math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
    assert(math.abs(mdeAbs - BigDecimal(zsum * se)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(mdeRel - mdeAbs / p) < 1e-5)
    assert(nNeed == math.ceil(2.0 * p * (1 - p) *
      (zsum / 0.01) * (zsum / 0.01)).toLong)
  }

  test("text_dispersion: VMR is Poisson-calibrated — constant-rate terms near 1") {
    val rows = SparkEntry.queries("text_dispersion")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (w, df, total, vmr) =>
      assert(df >= 1 && total >= df, s"$w counts inconsistent")
      assert(vmr >= 0.0, s"$w VMR negative")
    }
    // differential check on one term against a brute model
    val (w0, _, _, vmr0) = rows.head
    val docs = graft.core.Tables.load(spark, d, "documents")
      .select("text").collect().map(_.getString(0))
      .map(_.split(" ").filter(_.nonEmpty)).filter(_.nonEmpty)
    val tfs = docs.map(_.count(_ == w0).toLong)
    val n = tfs.length
    val mean = tfs.sum.toDouble / n
    val vmr = ((tfs.map(t => t * t).sum.toDouble / n) - mean * mean) / mean
    assert(math.abs(vmr0 - BigDecimal(vmr)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      s"$w0: $vmr0 vs $vmr")
  }

  test("tw_mase: error accounting is exact against the dense series model") {
    val series = hourlySeries("purchase")
    val n = series.length
    // the query keeps hours within 168h of the span end whose lag-24
    // and lag-1 neighbors exist on the spine
    val evalHours = (0 until n).filter(t => t > n - 169 && t >= 24)
    val e24 = evalHours.map(t => math.abs(series(t) - series(t - 24)).toDouble)
    val e1 = evalHours.map(t => math.abs(series(t) - series(t - 1)).toDouble)
    val r = SparkEntry.queries("tw_mase")(spark, d).collect().head
    assert(r.getLong(0) == evalHours.length, s"n_eval ${r.getLong(0)} vs ${evalHours.length}")
    assert(math.abs(r.getDouble(1) - BigDecimal(e24.sum / e24.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(r.getDouble(3) - BigDecimal(e24.sum / e1.sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("agg_gini matches a brute-force Lorenz trapezoid on the same buckets") {
    val spends = graft.core.Tables.load(spark, d, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(col("value")).as("sp"))
      .collect().map(_.getDouble(1))
    val byBucket = spends.groupBy(s => math.floor(s).toLong).toSeq.sortBy(_._1)
    val n = spends.length; val t = spends.sum
    var cum = 0.0; var acc = 0.0
    byBucket.foreach { case (_, g) =>
      val sd = g.sum
      cum += sd
      acc += g.length.toDouble / n * (2.0 * cum - sd) / t
    }
    val want = 1.0 - acc
    val r = SparkEntry.queries("agg_gini")(spark, d).collect().head
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(2) - want) < 1e-6,
      s"gini ${r.getDouble(2)} vs model $want")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
  }

  test("pipe_cloze: exactly one blank, answer recoverable, never position 0") {
    val rows = SparkEntry.queries("pipe_cloze")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getString(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, pos, answer, freq, masked) =>
      val toks = masked.split(" ")
      assert(pos >= 1 && pos < toks.length, s"doc $id pos $pos")
      assert(toks(pos) == "____", s"doc $id: blank not at reported pos")
      assert(toks.count(_ == "____") >= 1)
      assert(answer.nonEmpty && freq >= 1)
      // the masked text with the answer restored has no blanks the
      // original didn't have (the corpus never contains "____")
      assert(!toks.take(pos).contains("____") &&
        !toks.drop(pos + 1).contains("____"), s"doc $id: multiple blanks")
    }
  }

  test("agg_pareto matches a brute-force bucket-prorated top-share model") {
    val spends = graft.core.Tables.load(spark, d, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(col("value")).as("sp"))
      .collect().map(_.getDouble(1))
    val n = spends.length; val t = spends.sum
    val hist = spends.groupBy(s => math.floor(s).toLong).toSeq
      .map { case (b, g) => (b, g.length, g.sum) }.sortBy(-_._1)
    def share(frac: Double): Double = {
      val target = n * frac
      var cumC = 0L; var acc = 0.0
      hist.foreach { case (_, c, sd) =>
        val prev = cumC; cumC += c
        if (cumC <= target) acc += sd
        else if (prev < target) acc += sd * (target - prev) / c
      }
      acc / t
    }
    val r = SparkEntry.queries("agg_pareto")(spark, d).collect().head
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - share(0.10)) < 1e-6,
      s"top10 ${r.getDouble(1)} vs ${share(0.10)}")
    assert(math.abs(r.getDouble(2) - share(0.01)) < 1e-6)
    // sanity: concentration orders correctly and exceeds the uniform floor
    assert(r.getDouble(1) > 0.10 - 1e-6 && r.getDouble(1) >= r.getDouble(2))
  }

  test("tw_stickiness matches a brute-force rolling-distinct model") {
    val act = graft.core.Tables.load(spark, d, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val days = act.map(_._2).distinct.sorted
    val dayMs = 86400000L
    val want = days.map { dd =>
      val dau = act.filter(_._2 == dd).map(_._1).distinct.length
      val wau = act.filter(a => a._2 <= dd && a._2 > dd - 7 * dayMs)
        .map(_._1).distinct.length
      (dd, dau.toLong, wau.toLong, BigDecimal(dau.toDouble / wau)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SparkEntry.queries("tw_stickiness")(spark, d).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == want.toSeq,
      s"stickiness table diverges: got ${got.take(3).toSeq} ...")
    // stickiness is a ratio of nested distinct sets: always in (0, 1]
    assert(got.forall(r => r._4 > 0.0 && r._4 <= 1.0))
  }

  test("text_fertility: per-lang accounting is consistent and fertility >= word floor") {
    val rows = SparkEntry.queries("text_fertility")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val totalDocs = graft.core.Tables.load(spark, d, "documents")
      .filter(size(graft.functions.TextOps.tokens(col("text"))) > 0).count()
    assert(rows.map(_._2).sum == totalDocs)
    rows.foreach { case (lang, nd, nw, nb, fert, bps) =>
      assert(nd > 0 && nw > 0 && nb > 0, s"$lang empty")
      // the subword estimate never splits below one piece per pretoken,
      // and alpha words pretokenize 1:1 here, so fertility >= ~1
      assert(fert > 0.9, s"$lang fertility $fert")
      assert(math.abs(fert - nb.toDouble / nw) < 1e-6)
      assert(bps > 0.0 && bps <= 6.0, s"$lang bytes/subword $bps")
    }
  }

  test("emb_mrr: bounded by recall ordering and monotone in probe budget") {
    val r = SparkEntry.queries("emb_mrr")(spark, d).collect().head
    val (n, m1, m2, m4) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(n == 5)
    Seq(m1, m2, m4).foreach(m => assert(m >= 0.0 && m <= 1.0))
    // more probes can only ADD candidates: the true top-1 can only be
    // found at the same or better rank, so MRR is monotone in P
    assert(m2 >= m1 - 1e-9 && m4 >= m2 - 1e-9,
      s"MRR not monotone in probes: $m1 / $m2 / $m4")
  }

  test("text_oov: coverage complements oov_rate; totals match the corpus") {
    val rows = SparkEntry.queries("text_oov")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val totalToks = graft.core.Tables.load(spark, d, "documents")
      .select(explode(graft.functions.TextOps.tokens(col("text"))))
      .count()
    assert(rows.map(_._2).sum == totalToks)
    rows.foreach { case (lang, nt, no, rate, cov) =>
      assert(no >= 0 && no <= nt, s"$lang oov bounds")
      assert(math.abs(rate + cov - 1.0) < 2e-6, s"$lang rate+coverage != 1")
      assert(math.abs(rate - no.toDouble / nt) < 1e-6)
    }
  }

  test("emb_decontam: bench excluded, cosine bounded, flag mirrors threshold") {
    val rows = SparkEntry.queries("emb_decontam")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 97 != 0, "benchmark vectors must not be scored")
      assert(r.getLong(1) % 97 == 0, "nearest neighbor must be a bench vector")
      val cos = r.getDouble(2)
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9, s"cos $cos out of range")
      assert(r.getBoolean(3) == (cos >= 0.3))
    }
  }
}
