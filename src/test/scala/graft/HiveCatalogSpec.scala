package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Persistent (Hive) catalog smoke test — the §2.1 "catalog DDL" row's
  * missing half: SinkCatalogSpec covers DDL on the in-memory catalog,
  * this covers a METASTORE-backed one (reference analogue:
  * official-tutorial CreateTest.scala:461-479 registering a Hive
  * catalog). The image ships spark-hive + an embedded Derby, so the
  * metastore is a local derby database in a temp dir — config, not
  * code, exactly as on a real cluster.
  *
  * Session topology: the test JVM owns one SparkContext (TestSpark).
  * A hive-enabled SparkSession is layered over the SAME context —
  * `enableHiveSupport` works post-context because SharedState applies
  * the builder's initial options (incl. catalogImplementation) to its
  * cloned conf. Persistence is asserted across `newSession()` — a
  * fresh SessionCatalog whose temp views are gone but whose metastore
  * tables survive — because embedded Derby admits one boot per JVM, so
  * a second SharedState against the same database cannot start while
  * the first holds it (documented derby limitation, not a repo gap).
  */
class HiveCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var hive: SparkSession = _
  private val tmp = java.nio.file.Paths.get(TestSpark.tempDir("graft-hive"))

  override def beforeAll(): Unit = {
    val base = TestSpark.spark // pin the shared context + default session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    hive = SparkSession.builder()
      .appName("graft-hive")
      .master("local[4]")
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$tmp/metastore_db;create=true")
      .getOrCreate()
    assert(hive ne base, "builder returned the in-memory-catalog session")
  }

  override def afterAll(): Unit = {
    // hand the default/active slots back to the shared in-memory
    // session so later suites' getOrCreate can't pick up hive state
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
  }

  test("hive-enabled session resolves the Hive external catalog") {
    assert(hive.conf.get("spark.sql.catalogImplementation") == "hive")
    assert(hive.sharedState.externalCatalog.unwrapped.getClass.getName
      .contains("HiveExternalCatalog"))
  }

  test("CREATE TABLE / INSERT / re-list and re-read across a fresh session") {
    hive.sql("CREATE DATABASE IF NOT EXISTS graft_meta")
    hive.sql("DROP TABLE IF EXISTS graft_meta.orders_smoke")
    hive.sql(
      """CREATE TABLE graft_meta.orders_smoke (id BIGINT, status STRING)
        |USING parquet""".stripMargin)
    hive.sql(
      "INSERT INTO graft_meta.orders_smoke VALUES (1, 'OPEN'), (2, 'SHIPPED')")
    // temp view in THIS session, to prove the fresh session is fresh
    hive.range(1).createOrReplaceTempView("graft_ephemeral")

    val fresh = hive.newSession() // new SessionCatalog, same metastore
    assert(fresh.catalog.databaseExists("graft_meta"))
    assert(fresh.catalog.listTables("graft_meta").collect()
      .exists(_.name == "orders_smoke"), "metastore table not re-listed")
    assert(!fresh.catalog.tableExists("graft_ephemeral"),
      "temp view leaked across sessions — this would mean newSession() " +
        "shares the SessionCatalog and the persistence assertion is vacuous")
    val rows = fresh.sql(
      "SELECT id, status FROM graft_meta.orders_smoke ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "OPEN"), (2L, "SHIPPED")))
  }

  test("metastore is a real on-disk derby database") {
    // derby materializes the db directory at first metastore use
    hive.sql("SHOW DATABASES").collect()
    val db = new java.io.File(s"$tmp/metastore_db")
    assert(db.isDirectory && db.listFiles().nonEmpty,
      s"derby metastore never materialized at $db")
  }
}
