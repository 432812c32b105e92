package graft

import org.apache.spark.sql.functions._
import graft.functions.{MinHashParams, TextOps, VectorFunctions}

/** The codegen signature kernels must be bit-identical to the
  * composable HOF formulation they replaced (which the DuckDB oracle
  * independently verifies) — checked over real documents. */
class HashKernelSpec extends SparkSpec {
  import MinHashParams.{A, B, K, P}

  private def docs = graft.core.Tables
    .load(spark, TestSpark.sf0001, "documents")
    .withColumn("tk", TextOps.tokens(col("text")))

  test("shingle_minhash == HOF min over universal-hashed shingles") {
    val hof = docs
      .withColumn("sh", array_distinct(TextOps.shingles(col("tk"), 3)))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", transform(col("sh"), x => TextOps.hash32(x)))
      .select(col("doc_id") +: (0 until K).map(k =>
        array_min(transform(col("hs"), h => pmod(h * A(k) + B(k), lit(P))))
          .as(s"m$k")): _*)
    val kern = docs
      .withColumn("ms", VectorFunctions.shingleMinhash(col("tk"), 3))
      .filter(col("ms").isNotNull)
      .select(col("doc_id") +: (0 until K).map(k =>
        element_at(col("ms"), k + 1).as(s"m$k")): _*)
    assert(kern.count() == hof.count() && kern.count() > 0)
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
  }

  test("shingle_simhash == HOF bit votes over distinct hashes") {
    def vote(j: Int) = aggregate(col("hs"), lit(0), (acc, h) =>
      acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1))
    val hof = docs
      .withColumn("sh", array_distinct(TextOps.shingles(col("tk"), 3)))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", array_distinct(transform(col("sh"), x => TextOps.hash32(x))))
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(vote(j) > 0, 1L << j).otherwise(0L)).reduce(_ + _).as("sim"))
    val kern = docs
      .select(col("doc_id"),
        VectorFunctions.shingleSimhash(col("tk"), 3).as("sim"))
      .filter(col("sim").isNotNull)
    assert(kern.count() == hof.count() && kern.count() > 0)
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
  }

  test("shingle_strings == HOF slice+concat shingles") {
    val hof = docs.select(col("doc_id"),
      explode(TextOps.shingles(col("tk"), 3)).as("sh"))
    val kern = docs.select(col("doc_id"),
      explode(VectorFunctions.shingleStrings(col("tk"), 3)).as("sh"))
    assert(kern.count() == hof.count() && kern.count() > 0)
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
  }

  test("token_topcount == explode + per-token count + max") {
    val s = spark
    import s.implicits._
    val kernel = docs.select(col("doc_id"),
      VectorFunctions.tokenTopCount(col("tk")).as("m"))
      .as[(Long, Int)].collect().toMap
    val agg = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("m"))
      .as[(Long, Long)].collect().toMap
    assert(kernel.nonEmpty && kernel.keySet == agg.keySet)
    kernel.foreach { case (id, m) => assert(m.toLong == agg(id), s"doc $id") }
    // empty array -> 0
    val z = Seq(Seq.empty[String]).toDF("tk")
      .select(VectorFunctions.tokenTopCount(col("tk"))).head.getInt(0)
    assert(z == 0)
  }

  test("kernel handles short docs (no shingle) as null and empty arrays") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq("a", "b")),          // < n tokens -> null
      (2L, Seq.empty[String]),      // empty -> null
      (3L, Seq("a", "b", "c"))      // exactly one shingle
    ).toDF("id", "tk")
    val out = df.select(col("id"),
      VectorFunctions.shingleMinhash(col("tk"), 3).as("ms"),
      VectorFunctions.shingleSimhash(col("tk"), 3).as("sim"))
      .collect().sortBy(_.getLong(0))
    assert(out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    assert(!out(2).isNullAt(1) && out(2).getSeq[Long](1).size == K)
    // one shingle: every simhash bit equals that hash's bit
    val h = out(2).getLong(2)
    assert(h >= 0 && h <= 0xffffffffL)
  }

  test("kernel/HOF parity holds on hostile and ILL-FORMED UTF-8 tokens") {
    // The kernels hash through Java String (toString -> UTF-8 bytes);
    // the HOF path hashes Spark md5 over raw UTF8String bytes. For
    // well-formed UTF-8 the two byte streams are identical; for
    // ill-formed bytes (real crawls contain them) toString substitutes
    // U+FFFD — but the upstream tokenizer (Java-regex split) performs
    // the SAME substitution for both paths, so parity must still hold.
    // Probed live round 13 (0xC3 0x28 truncated sequence: hashes
    // equal); pinned here over the full hostile pool + raw bytes.
    val s = spark
    import s.implicits._
    val hostile = graft.tools.Sweep.textPool.map(p => s"w1 $p w3 w4")
    val raw = Seq(Array[Byte](0x61, 0xC3.toByte, 0x28, 0x62, 0x20,
      0x74, 0x6F, 0x6B, 0x20, 0x77, 0x32, 0x20, 0x77, 0x33))
      .toDF("b").selectExpr("CAST(b AS STRING) AS text")
    val df = hostile.toDF("text").union(raw)
      .withColumn("tk", TextOps.tokens(col("text")))
    val hof = df
      .withColumn("sh", TextOps.shingles(col("tk"), 3))
      .filter(size(col("sh")) > 0)
      .select(explode(col("sh")).as("sh"))
      .select(TextOps.hash32(col("sh")).as("h"))
    val kern = df
      .select(VectorFunctions.shingleHashes(col("tk"), 3).as("hs"))
      .filter(col("hs").isNotNull)
      .select(explode(col("hs")).as("h"))
    assert(kern.count() == hof.count() && kern.count() > 0)
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
  }

  test("winnow_fingerprints == HOF per-window rightmost-min + distinct") {
    val W = 4
    val hs = col("hs")
    // the formulation the kernel replaced (text_winnow's original body)
    val pick = (i: org.apache.spark.sql.Column) =>
      aggregate(sequence(lit(0), lit(W - 1)),
        struct(lit(Long.MaxValue).as("h"), lit(-1).as("pos")),
        (acc, j) => {
          val p = (i + j).cast("int")
          val hv = element_at(hs, p + 1)
          when(hv <= acc.getField("h"),
            struct(hv.as("h"), p.as("pos"))).otherwise(acc)
        })
    val base = docs
      .withColumn("hs", VectorFunctions.shingleHashes(col("tk"), 3))
    val hof = base.select(col("doc_id"),
      explode(array_distinct(
        when(size(hs) >= W,
          transform(sequence(lit(0), size(hs) - W), i => pick(i)))
          .otherwise(array().cast("array<struct<h:bigint,pos:int>>"))))
        .as("m"))
      .select(col("doc_id"), col("m.h").as("h"), col("m.pos").as("pos"))
    val kern = base.select(col("doc_id"),
      explode(VectorFunctions.winnowFingerprints(hs, W)).as("m"))
      .select(col("doc_id"), col("m.h").as("h"), col("m.pos").as("pos"))
    assert(kern.count() == hof.count() && kern.count() > 0)
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
    // fewer hashes than windows -> empty array (explode drops the doc)
    val s = spark
    import s.implicits._
    val short = Seq(Seq(5L, 1L, 9L)).toDF("hs")
      .select(size(VectorFunctions.winnowFingerprints(col("hs"), W)))
      .head.getInt(0)
    assert(short == 0)
  }

  test("cdc_chunks == HOF boundary scan + cut points + chunk hashes") {
    // the r12 HOF formulation of dd_cdc, kept here as the executable
    // reference the codegen kernel must match token-for-token (the
    // DuckDB oracle independently verifies the same contract)
    val W = 4; val MOD = 16
    val s = spark
    import s.implicits._
    val base = docs.filter(size(col("tk")) > 0).limit(200)
      .select(col("doc_id"), col("tk"))
      .unionByName(Seq(
        (900001L, Seq("one")),                       // below W: one chunk
        (900002L, Seq("a", "b", "c")),               // below W
        (900003L, Seq.empty[String]))                 // no tokens: no chunk
        .toDF("doc_id", "tk"))
    val hof = base
      .withColumn("bpos",
        when(size(col("tk")) >= W,
          filter(
            transform(sequence(lit(W), size(col("tk"))),
              i => when(TextOps.hash32(array_join(
                  slice(col("tk"), i - W + 1, lit(W)), " ")) % MOD === 0, i)),
            x => x.isNotNull))
          .otherwise(array().cast("array<int>")))
      .withColumn("cuts",
        concat(array(lit(0)), col("bpos"), array(size(col("tk")))))
      .withColumn("chs",
        filter(
          transform(sequence(lit(1), size(col("cuts")) - 1),
            j => when(
              element_at(col("cuts"), j + 1) > element_at(col("cuts"), j),
              TextOps.hash32(array_join(
                slice(col("tk"), element_at(col("cuts"), j) + 1,
                  element_at(col("cuts"), j + 1) - element_at(col("cuts"), j)),
                " ")))),
          x => x.isNotNull))
      .select(col("doc_id"),
        concat_ws(",", transform(col("chs"), x => x.cast("string"))).as("r"))
    val kern = base.select(col("doc_id"),
      concat_ws(",", transform(
        VectorFunctions.cdcChunks(col("tk"), W, MOD),
        x => x.cast("string"))).as("r"))
    assert(kern.count() == hof.count() && kern.count() > 3)
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
    // boundaries actually fire on the corpus (multi-chunk docs exist)
    assert(kern.filter(col("r").contains(",")).count() > 0,
      "no doc produced >1 chunk — the boundary branch is untested")
  }

  test("span_corrupt == HOF span draw + coverage + rendering") {
    // the r12 HOF formulation of pipe_spancorrupt as the executable
    // reference for all four struct fields
    val s = spark
    import s.implicits._
    def h(j: org.apache.spark.sql.Column) = TextOps.hash32(concat(
      col("doc_id").cast("string"), lit(":"), j.cast("string")))
    val base = docs.filter(size(col("tk")) > 0).limit(200)
      .select(col("doc_id"), col("tk"))
      .unionByName(Seq(
        (900001L, Seq("solo")),
        (900002L, Seq("a", "b")))
        .toDF("doc_id", "tk"))
      .withColumn("n", size(col("tk")))
    val hof = base
      .withColumn("sl", transform(sequence(lit(0), col("n") - 1),
        j => when(h(j) % 20 === 0, lit(2) + h(j) % 3).otherwise(lit(0L))))
      .withColumn("fl", transform(sequence(lit(0), col("n") - 1),
        i => exists(sequence(greatest(i - 3, lit(0)), i),
          j => element_at(col("sl"), j + 1) > 0 &&
            (i - j) < element_at(col("sl"), j + 1))))
      .select(col("doc_id"),
        size(filter(col("fl"), x => x)).cast("long").as("n_corr"),
        size(filter(sequence(lit(0), col("n") - 1),
          i => element_at(col("fl"), i + 1) &&
            when(i === 0, lit(true)).otherwise(!element_at(col("fl"), i))))
          .cast("long").as("n_spans"),
        concat_ws(" ", transform(sequence(lit(0), col("n") - 1),
          i => when(element_at(col("fl"), i + 1), lit("_"))
            .otherwise(element_at(col("tk"), i + 1)))).as("masked"),
        concat_ws(" ", filter(col("tk"),
          (x, i) => element_at(col("fl"), i + 1))).as("targets"))
    val kern = base
      .withColumn("sc", VectorFunctions.spanCorrupt(
        col("doc_id").cast("string"), col("tk")))
      .select(col("doc_id"), col("sc.n_corr").as("n_corr"),
        col("sc.n_spans").as("n_spans"), col("sc.masked").as("masked"),
        col("sc.targets").as("targets"))
    assert(kern.count() == hof.count() && kern.count() > 3)
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)
    // spans actually fire on the corpus
    assert(kern.filter(col("n_spans") > 0).count() > 0,
      "no doc drew a span — the corruption branch is untested")
  }

  test("cdc/span kernels stay linear on a 500 KB document") {
    // the r12 failure class: one 100k-token doc must cost ~100k md5
    // calls (sub-second), not the O(len²) 25-minute grind the
    // lambda-capture HOF path hit. Direct kernel calls — no Spark
    // overhead in the bound.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val toks = new GenericArrayData(
      Array.tabulate[Any](100000)(i => UTF8String.fromString("w" + (i % 997))))
    val t0 = System.nanoTime()
    val chs = graft.functions.HashKernels.cdcChunks(toks, 4, 16)
    val sc = graft.functions.HashKernels.spanCorrupt(
      UTF8String.fromString("424242"), toks)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(chs.numElements() > 100, "a 100k-token doc should chunk richly")
    assert(sc.getLong(0) > 0 && sc.getLong(1) > 0, "spans should fire")
    assert(sec < 10.0, s"kernels took ${sec}s on one 100k-token doc — " +
      "superlinear regression (r12's HOF cliff was 25 min)")
  }

  test("winnow kernel == brute global-distinct model on ties-dense arrays") {
    // the kernel collapses CONSECUTIVE duplicate picks; the claim that
    // this equals a global distinct (a position's pick range is
    // contiguous) is exactly what random tie-dense arrays stress
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val n = rnd.nextInt(12)
      val hs = Array.fill(n)(rnd.nextInt(6).toLong)
      val w = 1 + rnd.nextInt(4)
      val brute: Seq[(Long, Int)] =
        if (n < w) Seq.empty
        else (0 to n - w).map { i =>
          var mh = Long.MaxValue; var mp = -1
          for (j <- 0 until w) {
            val h = hs(i + j); if (h <= mh) { mh = h; mp = i + j }
          }
          (mh, mp)
        }.distinct
      val got = graft.functions.HashKernels.winnow(new GenericArrayData(hs), w)
      val gotSeq = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getLong(0), r.getInt(1))
      }
      assert(gotSeq == brute, s"n=$n w=$w hs=${hs.toList}")
    }
  }
}
