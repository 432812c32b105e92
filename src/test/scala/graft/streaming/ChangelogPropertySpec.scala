package graft.streaming

import graft.SparkSpec
import scala.collection.mutable

/** Changelog reconstruction vs a BRUTE-FORCE diff model on seeded
  * random batch sequences — the property form of ChangelogSpec's
  * examples. The model is a driver-side Map: per batch, +I for new
  * keys, -U/+U for value changes (old value retracted), nothing for
  * unchanged keys; complete mode additionally emits -D for keys
  * absent from the full result. After every sequence the rolled
  * snapshot must equal the model state exactly — the invariant that
  * makes the changelog replayable. */
class ChangelogPropertySpec extends SparkSpec {
  import spark.implicits._

  private def readOps(dir: String): Seq[(Long, String, Long, Double)] =
    spark.read.parquet(dir)
      .select("batch_id", "op", "k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted

  private def readSnap(dir: String): Map[Long, Double] =
    spark.read.parquet(dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("update-mode reconstruction matches the diff model (seeded random)") {
    val rnd = new scala.util.Random(7)
    for (scenario <- 1 to 2) {
      val tmp = graft.TestSpark.tempDir(s"chlogp$scenario")
      val (snap, clog) = (s"$tmp/snap", s"$tmp/clog")
      var state = Map.empty[Long, Double]
      val want = mutable.ArrayBuffer.empty[(Long, String, Long, Double)]
      for (b <- 0L until 5L) {
        // small key/value spaces force key revisits AND value
        // collisions (re-upserting an unchanged value must emit nothing)
        val batch = rnd.shuffle((0 until 5).toList)
          .take(rnd.nextInt(4) + 1)
          .map(k => (k.toLong, rnd.nextInt(3).toDouble))
        batch.foreach { case (k, v) =>
          state.get(k) match {
            case None => want += ((b, "+I", k, v))
            case Some(o) if o != v =>
              want += ((b, "-U", k, o)); want += ((b, "+U", k, v))
            case _ => ()
          }
        }
        state = state ++ batch
        Changelog.processBatch(batch.toDF("k", "v"), Seq("k"), b, snap, clog)
      }
      assert(readOps(clog) == want.sorted,
        s"scenario $scenario changelog diverged from the diff model")
      assert(readSnap(snap) == state,
        s"scenario $scenario snapshot diverged from the model state")
    }
  }

  test("complete-mode reconstruction (incl. -D) matches the diff model") {
    val rnd = new scala.util.Random(11)
    for (scenario <- 1 to 2) {
      val tmp = graft.TestSpark.tempDir(s"chlogc$scenario")
      val (snap, clog) = (s"$tmp/snap", s"$tmp/clog")
      var state = Map.empty[Long, Double]
      val want = mutable.ArrayBuffer.empty[(Long, String, Long, Double)]
      for (b <- 0L until 5L) {
        // each batch is a FULL result over a random key subset —
        // dropped keys must emit -D with their last known values
        val batch = rnd.shuffle((0 until 5).toList)
          .take(rnd.nextInt(5) + 1)
          .map(k => (k.toLong, rnd.nextInt(3).toDouble))
        val bm = batch.toMap
        batch.foreach { case (k, v) =>
          state.get(k) match {
            case None => want += ((b, "+I", k, v))
            case Some(o) if o != v =>
              want += ((b, "-U", k, o)); want += ((b, "+U", k, v))
            case _ => ()
          }
        }
        state.foreach { case (k, o) =>
          if (!bm.contains(k)) want += ((b, "-D", k, o)) }
        state = bm
        Changelog.processCompleteBatch(batch.toDF("k", "v"), Seq("k"), b,
          snap, clog)
      }
      assert(readOps(clog) == want.sorted,
        s"scenario $scenario changelog diverged from the diff model")
      assert(readSnap(snap) == state,
        s"scenario $scenario snapshot diverged from the model state")
    }
  }
}
