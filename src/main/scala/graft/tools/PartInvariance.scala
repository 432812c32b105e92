package graft.tools

import org.apache.spark.sql.Row
import graft.SparkEntry
import graft.core.{Sessions, Tables}

/** Partition-invariance gate: every catalog query must produce the
  * same result (as an unordered multiset of rows) under two radically
  * different physical layouts of the same data:
  *
  *   A: the testdata files as written, 32 shuffle partitions
  *   B: every table rewritten through repartition(13) (different file
  *      count, different row order, different row->partition mapping),
  *      7 shuffle partitions, 64 KB maxPartitionBytes (many input
  *      splits)
  *
  * Why this matters at 100 TB: local[32] fixes one physical layout; a
  * 1000-executor cluster has a different one, and it changes on every
  * run (input splits, AQE coalescing, speculative re-runs). Any result
  * that depends on partition count, row order within a partition, or
  * merge order of partial aggregates is a result that silently changes
  * between the test environment and production — float summation
  * order, first()/head without ordering, tie-breaks taken from
  * physical order, merge-order-sensitive sketch state. A query is only
  * correct at scale if the layout is not an input.
  *
  * Compare levels per query:
  *   "exact" — normalized row multisets identical (NaN==NaN, doubles
  *             bitwise)
  *   "tol"   — identical after pairing rows by a rounded sort key and
  *             comparing numerics at relative 1e-9 (IEEE reassociation
  *             noise only)
  *   "DIFF"  — anything else: layout leaked into the result. Gate
  *             fails unless whitelisted below with a reason.
  *
  *   sbt "runMain graft.tools.PartInvariance [sfDir] [outJson]"
  *     (defaults /root/testdata/sf0.001, PART_INVARIANCE.json)
  */
object PartInvariance {

  /** Queries whose results are DOCUMENTED functions of the physical
    * layout, with the bounded property that still must hold. Keep this
    * empty unless a diff is argued inline. */
  val whitelist: Map[String, String] = Map.empty

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outJson = if (args.length > 1) args(1) else "PART_INVARIANCE.json"
    val spark = Sessions.build("graft-partinv")
    graft.Bench.warmJvm(spark)

    val dir = java.nio.file.Files.createTempDirectory("graft-parts").toString
    Tables.all.foreach { tbl =>
      spark.read.parquet(s"$sfDir/$tbl.parquet")
        .repartition(13)
        .write.mode("overwrite").parquet(s"$dir/$tbl.parquet")
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val status =
        try {
          spark.conf.set("spark.sql.shuffle.partitions", "32")
          spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
          val a = fn(spark, sfDir).collect().toSeq
          spark.conf.set("spark.sql.shuffle.partitions", "7")
          spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
          val b = fn(spark, dir).collect().toSeq
          compare(a, b)
        } catch { case e: Throwable =>
          val m = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).replaceAll("\\s+", " ").take(160)
          "error: " + m
        }
      if (status != "exact" && status != "tol")
        System.err.println(s"[partinv] $name: $status")
      name -> status
    }
    val failed = results.count { case (n, st) =>
      st != "exact" && st != "tol" && !whitelist.contains(n)
    }
    def esc(s: String) = SweepJson.esc(s)
    val entries = results
      .map { case (n, st) => s""""$n":"${esc(st)}"""" }.mkString("{", ",", "}")
    val json =
      s"""{"action":"partition-invariance","sf_dir":"${esc(sfDir)}","n_queries":${results.size},"n_failed":$failed,"queries":$entries,${graft.core.Provenance.jsonFields}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson), json.getBytes("UTF-8"))
    val nExact = results.count(_._2 == "exact")
    val nTol = results.count(_._2 == "tol")
    println(s"[partinv] $nExact exact + $nTol tol / ${results.size} -> $outJson")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** "exact" | "tol" | "DIFF: <detail>" */
  def compare(a: Seq[Row], b: Seq[Row]): String =
    compareNormalized(a.map(normalize), b.map(normalize))

  /** `compare` on ALREADY-normalized value trees — the entry point for
    * callers that hold results in (or spill them to disk in) canonical
    * form rather than as Rows: ConcExec's bench-scale contention mode
    * serializes the serial pass per query so its capped heap never
    * holds the whole catalog's results at once. */
  def compareNormalized(na: Seq[Any], nb: Seq[Any]): String = {
    if (na.length != nb.length)
      return s"DIFF: row count ${na.length} vs ${nb.length}"
    val ea = na.map(exactKey).sorted
    val eb = nb.map(exactKey).sorted
    if (ea == eb) return "exact"
    // pair rows by rounded key, then compare numerics at 1e-9 relative
    val sa = na.sortBy(roundedKey)
    val sb = nb.sortBy(roundedKey)
    val bad = sa.zip(sb).indexWhere { case (x, y) => !tolEq(x, y) }
    if (bad < 0) "tol"
    else {
      val (x, y) = (sa(bad), sb(bad))
      s"DIFF: row ${bad}: ${x.toString.take(120)} vs ${y.toString.take(120)}"
    }
  }

  /** Canonical value tree: Rows/Seqs -> Vector, Maps -> sorted pair
    * Vector, all integrals -> Long, all floats -> Double. */
  def normalize(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.toVector.map(normalize)
    case s: scala.collection.Seq[_] => s.toVector.map(normalize)
    case m: scala.collection.Map[_, _] =>
      m.toVector.map { case (k, x) => (normalize(k), normalize(x)) }
        .sortBy(_._1.toString)
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case f: Float => f.toDouble
    case x => x
  }

  /** Stable string with doubles rendered by raw bits (NaN-safe). */
  def exactKey(v: Any): String = v match {
    case null => "∅"
    case d: Double => "d" + java.lang.Double.doubleToLongBits(d)
    case s: Vector[_] => s.map(exactKey).mkString("[", ",", "]")
    case p: (_, _) => exactKey(p._1) + ":" + exactKey(p._2)
    case x => x.toString
  }

  /** Sort key with doubles rounded to 6 significant digits so IEEE
    * noise doesn't break the pairing. -0.0 keys as 0.0: the two are
    * tolEq-equal but format differently ("-0.000000e+00"), and a
    * reassociation that flips the zero's sign between layouts must
    * not mispair the rows. */
  def roundedKey(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0.000000e+00"
      else f"$d%.6e"
    case s: Vector[_] => s.map(roundedKey).mkString("[", ",", "]")
    case p: (_, _) => roundedKey(p._1) + ":" + roundedKey(p._2)
    case x => x.toString
  }

  def tolEq(x: Any, y: Any): Boolean = (x, y) match {
    case (null, null) => true
    case (a: Double, b: Double) =>
      (a.isNaN && b.isNaN) || a == b ||
        math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    case (a: Vector[_], b: Vector[_]) =>
      a.length == b.length && a.zip(b).forall { case (p, q) => tolEq(p, q) }
    case (a: (_, _), b: (_, _)) =>
      tolEq(a._1, b._1) && tolEq(a._2, b._2)
    case _ => x == y
  }
}
