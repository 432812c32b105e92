package graft

import org.apache.spark.sql.{ForeachWriter, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Custom per-row sink (AlertSink, v-1.12.2/.../tryflink/AlertSink.scala)
  * and SQL DDL/catalog surface (CreateTest.scala:73-100, 310-333). */
class SinkCatalogSpec extends SparkSpec {

  test("custom ForeachWriter sink receives every row with open/close lifecycle") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    graft.SinkCatalogSpec.collected.clear()
    val input = MemoryStream[(Long, Double)]
    input.addData((1L, 10.0), (2L, 600.0), (3L, 700.0))
    val q = input.toDF().toDF("id", "amount")
      .filter(col("amount") > 500) // alert condition
      .writeStream.foreach(new ForeachWriter[Row] {
        override def open(partitionId: Long, epochId: Long): Boolean = true
        override def process(r: Row): Unit =
          graft.SinkCatalogSpec.collected.add(r.getLong(0))
        override def close(errorOrNull: Throwable): Unit = ()
      }).start()
    try {
      q.processAllAvailable()
      val got = new scala.collection.mutable.TreeSet[Long]()
      graft.SinkCatalogSpec.collected.forEach(x => got.add(x))
      assert(got.toSet == Set(2L, 3L))
    } finally q.stop()
  }

  /** Persistent-catalog analogue of the reference's Hive catalog
    * registration (CreateTest.scala:461-479): tables whose metadata
    * outlives the session that defined them and whose data outlives the
    * application. The offline image has no Hive metastore, so the
    * durable pieces exercised here are (a) the shared external catalog
    * across `newSession()`s and (b) warehouse files that a later
    * application re-attaches with CREATE TABLE ... LOCATION. */
  test("persistent catalog: saveAsTable round-trip, cross-session visibility, LOCATION re-attach") {
    spark.sql("DROP TABLE IF EXISTS cat_nation")
    graft.core.Tables.load(spark, TestSpark.sf0001, "nation")
      .write.mode("overwrite").saveAsTable("cat_nation")
    try {
      // managed table: data landed under spark.sql.warehouse.dir
      val loc = new java.net.URI(spark.sql("DESCRIBE EXTENDED cat_nation")
        .filter(col("col_name") === "Location").first().getString(1)).getPath
      assert(new java.io.File(loc).listFiles().exists(_.getName.endsWith(".parquet")))
      // a sibling session (fresh SessionCatalog, same external catalog)
      // resolves the table by name — the metastore behavior users expect
      val sibling = spark.newSession()
      assert(sibling.catalog.tableExists("cat_nation"))
      assert(sibling.sql("SELECT count(*) FROM cat_nation").first().getLong(0) == 25L)

      // application restart story: metadata is gone (in-memory catalog)
      // but the files are not — CREATE TABLE ... LOCATION re-attaches
      // them with schema inferred from the parquet footers
      val ext = TestSpark.tempDir("graft-ext")
      spark.table("cat_nation").write.mode("overwrite").parquet(ext)
      spark.sql(s"CREATE TABLE cat_nation_ext USING parquet LOCATION '$ext'")
      assert(spark.sql("SELECT count(*) FROM cat_nation_ext").first().getLong(0) == 25L)
      // external table: DROP removes metadata only; data survives for
      // the next application to re-register
      spark.sql("DROP TABLE cat_nation_ext")
      assert(new java.io.File(ext).listFiles().exists(_.getName.endsWith(".parquet")))
      spark.sql(s"CREATE TABLE cat_nation_ext USING parquet LOCATION '$ext'")
      assert(spark.sql("SELECT count(*) FROM cat_nation_ext").first().getLong(0) == 25L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cat_nation_ext")
      spark.sql("DROP TABLE IF EXISTS cat_nation")
    }
  }

  /** foreachBatch may re-deliver a batch after a failure; end-to-end
    * exactly-once therefore rests on the SINK being idempotent per
    * (batch, key). The keyed parquet upsert must converge: applying
    * the same batch twice, or an older image after a newer one has
    * been superseded by the same keys, leaves the same table. */
  test("upsertParquet is idempotent under batch retries") {
    val s = spark
    import s.implicits._
    val path = TestSpark.tempDir("graft-upsert") + "/t"
    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "tag", "v")
    val b2 = Seq((2L, "b", 25.0), (3L, "c", 30.0)).toDF("k", "tag", "v")
    def snap() = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    graft.sources.Writers.upsertParquet(b1, path, Seq("k"))
    graft.sources.Writers.upsertParquet(b1, path, Seq("k")) // retry of b1
    assert(snap() == Set((1L, "a", 10.0), (2L, "b", 20.0)))
    graft.sources.Writers.upsertParquet(b2, path, Seq("k"))
    val after = Set((1L, "a", 10.0), (2L, "b", 25.0), (3L, "c", 30.0))
    assert(snap() == after)
    graft.sources.Writers.upsertParquet(b2, path, Seq("k")) // retry of b2
    assert(snap() == after, "retried batch must be a no-op")
  }

  test("SQL DDL: CREATE TABLE ... PARTITIONED BY + INSERT INTO + catalog") {
    spark.sql("DROP TABLE IF EXISTS ddl_orders")
    spark.sql(
      """CREATE TABLE ddl_orders (
           o_orderkey BIGINT, o_totalprice DOUBLE, status STRING)
         USING parquet PARTITIONED BY (status)""")
    try {
      graft.core.Tables.load(spark, TestSpark.sf0001, "orders")
        .selectExpr("o_orderkey", "o_totalprice", "o_orderstatus AS status")
        .write.mode("append").insertInto("ddl_orders")
      assert(spark.catalog.tableExists("ddl_orders"))
      assert(spark.sql("SELECT count(*) FROM ddl_orders").first().getLong(0) == 1500L)
      // partition pruning against the DDL table
      val pruned = spark.sql("SELECT count(*) FROM ddl_orders WHERE status = 'F'")
      assert(pruned.first().getLong(0) ==
        spark.sql("SELECT count(*) FROM ddl_orders").first().getLong(0) -
          spark.sql("SELECT count(*) FROM ddl_orders WHERE status <> 'F'")
            .first().getLong(0))
      // catalog surface: columns/partitioning visible
      val cols = spark.catalog.listColumns("ddl_orders").collect()
      assert(cols.exists(c => c.name == "status" && c.isPartition))
    } finally spark.sql("DROP TABLE IF EXISTS ddl_orders")
  }
}

object SinkCatalogSpec {
  /** Driver-side collector for the ForeachWriter test (local mode:
    * executor == driver JVM). */
  val collected = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}
