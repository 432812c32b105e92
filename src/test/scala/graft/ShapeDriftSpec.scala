package graft

import org.apache.spark.sql.functions._

/** VALUE-level pin for the shape-drift semantics (round 11): the
  * crash fix for emb_binary chose `try_element_at`, which gives
  * missing dimensions NO bit — this spec pins that choice against a
  * brute-force Scala model on a corpus that mixes 64-d, short, padded,
  * and empty vectors, so a future edit can't silently change what a
  * wrong-dimension vector hashes to (ShapeExec only proves it doesn't
  * crash). */
class ShapeDriftSpec extends SparkSpec {

  test("emb_binary codes/hamming on mixed-dimension vectors match the bit model") {
    val s = spark
    import s.implicits._
    // alternating-sign base pattern; value at dim i is +1 or -1
    def vec(len: Int, flip: Int): Array[Float] =
      Array.tabulate(len)(i => if ((i + flip) % 2 == 0) 1.0f else -1.0f)
    val vecs: Seq[(Long, Array[Float], Int)] = Seq(
      (0L, vec(64, 0), 0), // nominal
      (1L, vec(32, 0), 0), // short: dims 32..63 missing -> no bit
      (2L, vec(96, 1), 0), // padded: dims past 63 ignored by the fold
      (3L, Array.empty[Float], 0) // failed encode -> code 0
    )
    val dir = TestSpark.tempDir("graft-shapepin")
    graft.core.Tables.all.foreach { tbl =>
      if (tbl == "embeddings")
        vecs.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
      else
        spark.read.parquet(s"${TestSpark.sf0001}/$tbl.parquet").limit(5)
          .write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
    }

    // Scala model of the fold: bit i (0..63) set iff dim i exists and > 0
    def code(v: Array[Float]): Long =
      (0 until 64).foldLeft(0L)((acc, i) =>
        if (i < v.length && v(i) > 0f) acc | (1L << i) else acc)
    val codes = vecs.map { case (id, v, _) => id -> code(v) }.toMap
    assert(codes(3L) == 0L && java.lang.Long.bitCount(codes(1L)) == 16)
    val expected = (for {
      (qid, qc) <- codes.toSeq
      (nid, nc) <- codes.toSeq if nid != qid
    } yield (qid, nid, java.lang.Long.bitCount(qc ^ nc)))
      .groupBy(_._1)
      .flatMap { case (qid, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(3).zipWithIndex
          .map { case ((_, nid, h), i) => (qid, i + 1, nid, h) }
      }.toSet

    val got = SparkEntry.queries("emb_binary")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected, s"got $got\nexpected $expected")
  }
}
