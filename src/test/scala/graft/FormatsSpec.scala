package graft

import org.apache.spark.sql.functions._
import graft.sources.{Readers, Writers}
import graft.operators.MultimodalOps

/** Source/sink round-trips (§2.1/§2.2) + multimodal decode plumbing. */
class FormatsSpec extends SparkSpec {

  private def tmp(): String = TestSpark.tempDir("graft-fmt")

  test("csv sink/source round-trip with explicit schema") {
    val dir = tmp() + "/csv"
    val df = graft.core.Tables.load(spark, TestSpark.sf0001, "nation")
    Writers.csv(df, dir)
    val back = Readers.csv(spark, dir, df.schema)
    assert(back.count() == df.count())
    assert(back.agg(sum("n_nationkey")).first().getLong(0) ==
      df.agg(sum("n_nationkey")).first().getLong(0))
  }

  test("partitioned parquet write produces partition dirs and prunes") {
    val dir = tmp() + "/part"
    val df = graft.core.Tables.load(spark, TestSpark.sf0001, "orders")
      .withColumn("status", col("o_orderstatus"))
    Writers.partitionedParquet(df, dir, Seq("status"))
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("status=")))
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    // partition pruning: only the status=F directory is scanned
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      df.filter(col("o_orderstatus") === "F").count())
  }

  test("orc sink/source round-trip with pushdown") {
    val dir = tmp() + "/orc"
    val df = graft.core.Tables.load(spark, TestSpark.sf0001, "nation")
    Writers.orc(df, dir)
    val back = Readers.orc(spark, dir).filter(col("n_regionkey") === 1)
    // same vectorized columnar path as parquet: the filter reaches the scan
    val plan = back.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      "ORC scan lost predicate pushdown")
    assert(back.count() ==
      df.filter(col("n_regionkey") === 1).count())
  }

  test("binaryFile source: glob-pruned blob rows feed the decode pipeline") {
    val dir = tmp() + "/blobs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    for (i <- 0 until 3)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"img_$i.bin"),
        Array.fill[Byte](16 + i)(i.toByte))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "skip.txt"),
      "not a blob".getBytes("UTF-8"))
    val blobs = Readers.binaryFiles(spark, dir, glob = "*.bin")
    assert(blobs.count() == 3, "glob filter should exclude skip.txt")
    assert(blobs.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    // bytes flow into the multimodal decode plumbing unchanged
    val feats = MultimodalOps.decodeFeatures(
      blobs.select(
        monotonically_increasing_id().as("doc_id"),
        lit("image").as("mtype"),
        col("content").as("payload")))
    assert(feats.count() == 3)
    val lens = blobs.select("length").collect().map(_.getLong(0)).sorted
    assert(lens.sameElements(Array(16L, 17L, 18L)))
  }

  test("permissive json quarantines malformed lines, keeps good rows") {
    val dir = tmp() + "/badjson"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.json"),
      Seq("""{"k":1,"v":"ok"}""", """{"k":2 BROKEN""", """{"k":3,"v":"fine"}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val df = Readers.jsonPermissive(spark, dir, schema).cache()
    try {
      val bad = df.filter(col("_corrupt_record").isNotNull)
      val good = df.filter(col("_corrupt_record").isNull)
      assert(good.count() == 2 && bad.count() == 1)
      assert(bad.head.getAs[String]("_corrupt_record").contains("BROKEN"))
      assert(good.select(sum("k")).head.getLong(0) == 4L)
    } finally df.unpersist()
  }

  test("upsertParquet keeps latest row per key") {
    val s = spark
    import s.implicits._
    val dir = tmp() + "/upsert"
    Writers.upsertParquet(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"))
    Writers.upsertParquet(Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), dir, Seq("k"))
    val got = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("file-stream source (directory monitor) picks up windowed agg") {
    val s = spark
    import s.implicits._
    val dir = tmp() + "/stream_in"
    new java.io.File(dir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts TIMESTAMP, page STRING")
    Seq(("2024-01-01 00:00:01", "/a"), ("2024-01-01 00:00:02", "/a"))
      .toDF("ts_s", "page").selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "page")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val q = Readers.csvStream(spark, dir, schema)
      .groupBy("page").count()
      .writeStream.format("memory").queryName("fstream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fstream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("/a", 2L)))
    } finally q.stop()
  }

  test("multimodal decodeFeatures: deterministic, partition-parallel, full coverage") {
    val docs = graft.core.Tables.load(spark, TestSpark.sf0001, "documents")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS payload")
    val feats = MultimodalOps.decodeFeatures(docs)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(f => f.width >= 64 && f.height >= 64 &&
      f.brightness >= 0.0 && f.brightness <= 1.0))
    // determinism: second run bit-identical
    val again = MultimodalOps.decodeFeatures(docs).collect()
    assert(rows.sortBy(_.doc_id).toSeq == again.sortBy(_.doc_id).toSeq)
  }
}
