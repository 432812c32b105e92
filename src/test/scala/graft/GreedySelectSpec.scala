package graft

/** Brute-force differential tests for the greedy selection queries
  * (emb_mmr, emb_kcenter): a plain-Scala model of each round, with the
  * kernels' exact arithmetic (left-fold dot products and squared
  * distances with per-element float-to-double promotion), compared
  * bit for bit. The cases pin the semantics the one-scan-per-round
  * shape must keep: ties go to the lower vec_id, and a round with no
  * candidate left yields a null row.
  */
class GreedySelectSpec extends SparkSpec {

  private type Vec = Array[Float]

  private def dot(a: Vec, b: Vec): Double = {
    var s = 0.0
    for (i <- 0 until math.min(a.length, b.length)) s += a(i).toDouble * b(i).toDouble
    s
  }
  private def cos(a: Vec, b: Vec): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  private def d2(a: Vec, b: Vec): Double = {
    var s = 0.0
    for (i <- 0 until math.min(a.length, b.length)) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
    }
    s
  }

  private def writeVecs(tag: String, vs: Seq[(Long, Vec)]): String = {
    val s = spark
    import s.implicits._
    val dir = TestSpark.tempDir(s"graft-greedy-$tag")
    vs.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** The greedy argmax: highest score, ties to the lower id. */
  private def argmax(pool: Iterable[Long])(score: Long => Double): Long =
    pool.toSeq.sortBy(id => (-score(id), id)).head

  /** emb_mmr's K rounds: (round, vec_id, rel, score), None = null. */
  private def mmrModel(vs: Map[Long, Vec], k: Int): Seq[(Int, Option[Long], Option[Double], Option[Double])] = {
    val cand = vs - 0L
    val rel = cand.map { case (id, v) => id -> cos(v, vs(0L)) }
    val picks = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to k).map { r =>
      def score(id: Long): Double =
        if (picks.isEmpty) rel(id)
        else 0.7 * rel(id) - 0.3 * picks.map(p => cos(cand(id), cand(p))).max
      val pool = cand.keys.filterNot(picks.contains)
      if (pool.isEmpty) (r, None, None, None)
      else {
        val best = argmax(pool)(score)
        val row = (r, Some(best), Some(rel(best)), Some(score(best)))
        picks += best
        row
      }
    }
  }

  /** emb_kcenter's K rounds: (round, vec_id, mind2), None = null. */
  private def kcenterModel(vs: Map[Long, Vec], k: Int): Seq[(Int, Option[Long], Option[Double])] = {
    val sel = scala.collection.mutable.ArrayBuffer(0L)
    (1, Some(0L), Some(0.0)) +: (2 to k).map { r =>
      def mind2(id: Long): Double = sel.map(p => d2(vs(id), vs(p))).min
      val pool = vs.keys.filterNot(sel.contains)
      if (pool.isEmpty) (r, None, None)
      else {
        val best = argmax(pool)(mind2)
        val row = (r, Some(best), Some(mind2(best)))
        sel += best
        row
      }
    }
  }

  private def opt[A](r: org.apache.spark.sql.Row, i: Int): Option[A] =
    if (r.isNullAt(i)) None else Some(r.getAs[A](i))

  private def mmrOf(dir: String) =
    SparkEntry.queries("emb_mmr")(spark, dir).collect().toSeq
      .map(r => (r.getInt(0), opt[Long](r, 1), opt[Double](r, 2), opt[Double](r, 3)))

  private def kcenterOf(dir: String) =
    SparkEntry.queries("emb_kcenter")(spark, dir).collect().toSeq
      .map(r => (r.getInt(0), opt[Long](r, 1), opt[Double](r, 2)))

  private def randomVecs(seed: Long, ids: Seq[Long]): Map[Long, Vec] = {
    val rnd = new scala.util.Random(seed)
    ids.map(_ -> Array.fill(16)(rnd.nextFloat() - 0.5f)).toMap
  }

  test("emb_mmr matches a brute-force greedy MMR model, ties to the lower vec_id") {
    val base = randomVecs(31L, 0L until 24L)
    // vec 4 and vec 9 copy the query vector: the same top relevance, so
    // round 1 is a tie on score
    val vs = base ++ Seq(4L -> base(0L), 9L -> base(0L))
    val want = mmrModel(vs, 4)
    assert(want.head._2.contains(4L), "the model must exercise the round-1 tie")
    assert(mmrOf(writeVecs("mmr", vs.toSeq)) == want)
  }

  test("emb_mmr pads the rounds past an exhausted candidate set with null rows") {
    val vs = randomVecs(32L, Seq(0L, 5L, 8L))
    val got = mmrOf(writeVecs("mmr-short", vs.toSeq))
    assert(got == mmrModel(vs, 4))
    assert(got.map(_._2.isDefined) == Seq(true, true, false, false))
  }

  test("emb_kcenter matches a brute-force farthest-point model, ties to the lower vec_id") {
    val base = randomVecs(33L, 0L until 24L)
    // seed 0 is the origin; vec 6 and vec 2 are mirror images with the
    // largest norm, so round 2 is a tie on distance
    val w = Array.fill(16)(1.5f)
    val vs = base ++ Seq(0L -> Array.fill(16)(0f), 2L -> w, 6L -> w.map(-_))
    val want = kcenterModel(vs, 4)
    assert(want(1)._2.contains(2L), "the model must exercise the round-2 tie")
    assert(kcenterOf(writeVecs("kc", vs.toSeq)) == want)
  }

  test("emb_kcenter pads the rounds past an exhausted candidate set with null rows") {
    val vs = randomVecs(34L, Seq(0L, 7L))
    val got = kcenterOf(writeVecs("kc-short", vs.toSeq))
    assert(got == kcenterModel(vs, 4))
    assert(got.map(_._2) == Seq(Some(0L), Some(7L), None, None))
  }
}
