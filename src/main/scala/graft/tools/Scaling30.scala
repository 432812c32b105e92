package graft.tools

import graft.SparkEntry
import graft.core.{Sessions, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 30× scaling point for the NON-pair-math families (r12 verdict #7):
  * ScalingProbe's 10× sweep (sf0.01 → sf0.1, real driver data) is the
  * primary scaling gate; this tool adds a second, farther point —
  * sf0.01 → a 3×-extended sf0.1 (data ratio 30×) — turning the
  * scaling story from one ratio into a two-point slope for the
  * families whose work should be strictly linear in the corpus.
  *
  * The large input is SYNTHETIC, NON-DRIVER data and is marked as such
  * in the artifact: sf0.1 unioned with two key-remapped copies of
  * itself (fact-table keys offset by 10⁹ per copy so ids stay unique
  * and FK pairs — o_orderkey↔l_orderkey, o_custkey↔c_custkey — stay
  * aligned within a copy; dimension tables stay fixed, the realistic
  * scale-up shape). Content columns are left untouched: that triples
  * every corpus-level count linearly, which is exactly what a timing
  * probe wants — but it also makes every document a true 3-way exact
  * duplicate, which would QUADRATICALLY inflate candidate pairs in the
  * dedup/ANN/near-dup families. Those families are therefore excluded
  * by construction (they are pair-math: their 10× behavior is already
  * gated by ScalingProbe, and BENCH_NOTES r12 documents why replicated
  * data cannot measure them honestly).
  *
  * Families probed (per-row / group-by / window — no candidate-pair
  * joins): agg_*, tw_*, over_*, text_* (minus text_winnow, which is
  * the near-dup pair detector), mm_* (minus mm_dedup, whose phash
  * buckets pair within-bucket).
  *
  * Run: sbt "runMain graft.tools.Scaling30 [smallDir baseDir]"
  *   (defaults /root/testdata/sf0.01 and /root/testdata/sf0.1)
  * Output: scaling30.json + flagged table on stdout; exit 1 on flag
  * (same isFlagged predicate as the 10× gate, dataRatio = 30).
  */
object Scaling30 {
  private[graft] val FamilyPrefixes = Seq("agg_", "tw_", "over_", "text_", "mm_")
  private[graft] val PairMathExclusions = Set("text_winnow", "mm_dedup")
  private[graft] val Copies = 3
  private[graft] val KeyOffset = 1000000000L

  private[graft] def selected: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => FamilyPrefixes.exists(n.startsWith))
      .filterNot(PairMathExclusions)

  /** Per-table fact keys to offset per copy (FK pairs share offsets
    * within a copy by using the same column constant). */
  private[graft] val KeyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"))

  /** Original rows + (copies-1) key-remapped copies. */
  private[graft] def extend(df: DataFrame, keyCols: Seq[String],
                            copies: Int): DataFrame =
    (0 until copies).map { k =>
      keyCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(k * KeyOffset)) }
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val dataRatio = (graft.Bench.sfOf(small), graft.Bench.sfOf(base)) match {
      case (Some(s), Some(l)) => Copies * l / s
      case _ => sys.error(
        s"cannot parse scale factors from '$small' / '$base'")
    }
    val spark = Sessions.build("graft-scaling30")
    graft.Bench.warmJvm(spark)

    val names = selected
    println(s"[scaling30] ${names.size} non-pair-math queries, " +
      s"data ratio ${dataRatio.toInt}x (3x-extended $base — SYNTHETIC)")
    val dir = java.nio.file.Files.createTempDirectory("graft-sc30").toString
    // the extended corpus is deleted before the flagged exit below:
    // sys.exit begins JVM shutdown without unwinding the stack
    val rows =
      try {
        Tables.all.foreach { tbl =>
          val src = spark.read.parquet(s"$base/$tbl.parquet")
          val out = KeyCols.get(tbl) match {
            case Some(ks) => extend(src, ks, Copies)
            case None => src // dimension tables stay fixed
          }
          out.write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
        }
        names.map { name =>
          val fn = SparkEntry.queries(name)
          val ts = ScalingProbe.timeOnce(fn(spark, small))
          val tl = ScalingProbe.timeOnce(fn(spark, dir))
          val ratio = if (ts > 0 && tl > 0) tl / ts else -1.0
          (name, ts, tl, ratio)
        }
      } finally graft.core.Resources.deleteRecursively(dir)
    def f(v: Double) = graft.Bench.fmt3(v)
    val json = rows.map { case (n, ts, tl, r) =>
      s""""$n":{"small":${f(ts)},"large30":${f(tl)},"ratio":${f(r)}}"""
    }.mkString("{", ",", "}")
    val flagged = rows.filter { case (_, _, tl, r) =>
      ScalingProbe.isFlagged(r, tl, dataRatio) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("scaling30.json"),
      s"""{"action":"30x-scaling-probe","synthetic":"large side is $base unioned with ${Copies - 1} key-remapped copies of itself (NON-driver data; content columns untouched; dims fixed)","data_ratio":${f(dataRatio)},"n_queries":${rows.size},"n_flagged":${flagged.size},"queries":$json,${graft.core.Provenance.jsonFields}}""")
    rows.sortBy(-_._4).take(15).foreach { case (n, ts, tl, r) =>
      val mark = if (flagged.exists(_._1 == n)) "  << SUPERLINEAR" else ""
      println(f"[scaling30] $n%-22s ${ts}%7.3fs -> ${tl}%7.3fs  ratio ${r}%6.2fx$mark")
    }
    spark.stop()
    if (flagged.nonEmpty) {
      System.err.println(s"[scaling30] FLAGGED: ${flagged.map(_._1).mkString(",")}")
      sys.exit(1)
    }
  }
}
