package graft

import graft.core.Tables
import org.apache.spark.sql.types._

/** Schema contract for the driver-provided testdata (TESTDATA.md).
  *
  * The testdata is regenerated between rounds and its PHYSICAL types
  * have drifted before (events.ts: int64 TIMESTAMP(NANOS) -> plain
  * timestamp[us]), once silently breaking 59 queries at analysis time.
  * This suite pins the LOGICAL types the engine depends on, per table,
  * so the next drift fails ONE loud test naming the table instead of
  * 23 scattered ones.
  *
  * Asserts the type AFTER `Tables.load` — i.e. the contract the rest
  * of the engine sees — so it stays green across physical encodings
  * the loader is supposed to absorb.
  */
class TablesSchemaSpec extends SparkSpec {
  private def typeOf(table: String, column: String): DataType =
    Tables.load(spark, TestSpark.sf0001, table).schema(column).dataType

  test("all ten tables load at sf0.001") {
    Tables.all.foreach { t =>
      val df = Tables.load(spark, TestSpark.sf0001, t)
      assert(df.schema.nonEmpty, s"table '$t' has an empty schema")
    }
  }

  test("events: ts is a session-tz timestamp after load (any physical encoding)") {
    assert(typeOf("events", "ts") == TimestampType,
      "events.ts must load as TIMESTAMP — Tables.read absorbs nanos-int64 and timestamp[us] files")
    assert(typeOf("events", "event_id") == LongType)
    assert(typeOf("events", "user_id") == LongType)
    assert(typeOf("events", "event_type") == StringType)
    assert(typeOf("events", "value") == DoubleType)
  }

  test("events: ts values are sane (parse as real post-2000 instants)") {
    import org.apache.spark.sql.functions._
    val row = Tables.load(spark, TestSpark.sf0001, "events")
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"), count(lit(1)).as("n"))
      .head()
    assert(row.getAs[Long]("n") > 0, "events is empty")
    val lo = row.getAs[java.sql.Timestamp]("lo")
    val hi = row.getAs[java.sql.Timestamp]("hi")
    assert(lo.getTime > 946684800000L, s"events.ts min $lo predates 2000 — unit mix-up in the shim?")
    assert(hi.getTime < 4102444800000L, s"events.ts max $hi is past 2100 — unit mix-up in the shim?")
  }

  test("embeddings: embedding is array<float>, keyed by vec_id") {
    assert(typeOf("embeddings", "embedding").isInstanceOf[ArrayType] &&
           typeOf("embeddings", "embedding").asInstanceOf[ArrayType].elementType == FloatType,
      s"embeddings.embedding is ${typeOf("embeddings", "embedding")}, engine kernels expect array<float>")
    assert(typeOf("embeddings", "vec_id") == LongType)
    assert(Set[DataType](ByteType, ShortType, IntegerType, LongType)(typeOf("embeddings", "label")),
      s"label unexpected: ${typeOf("embeddings", "label")}")
  }

  test("documents: core text-pipeline columns") {
    assert(typeOf("documents", "doc_id") == LongType)
    assert(typeOf("documents", "text") == StringType)
    assert(typeOf("documents", "lang") == StringType)
    assert(typeOf("documents", "source") == StringType)
    assert(typeOf("documents", "n_chars") == LongType)
  }

  /** Date-ish columns may arrive as DATE or naive TIMESTAMP depending
    * on the writer; queries use date functions that accept both. What
    * must NOT happen silently is a flip to string or raw int64 —
    * that's the drift this suite exists to catch. */
  private val dateish: Set[DataType] = Set(DateType, TimestampType, TimestampNTZType)

  test("lineitem/orders: measures stay numeric, dates stay datetime") {
    assert(typeOf("lineitem", "l_quantity").isInstanceOf[NumericType])
    assert(typeOf("lineitem", "l_extendedprice").isInstanceOf[NumericType])
    assert(typeOf("lineitem", "l_discount").isInstanceOf[NumericType])
    assert(dateish(typeOf("lineitem", "l_shipdate")),
      s"l_shipdate unexpected: ${typeOf("lineitem", "l_shipdate")}")
    assert(typeOf("orders", "o_totalprice").isInstanceOf[NumericType])
    assert(dateish(typeOf("orders", "o_orderdate")),
      s"o_orderdate unexpected: ${typeOf("orders", "o_orderdate")}")
  }

  test("registerAll survives one broken table (fault isolation)") {
    // Point at a dir where only SOME tables exist: healthy views must
    // still register and be queryable via spark.sql.
    val tmp = new java.io.File(TestSpark.tempDir("graft-partial"))
    val link = (n: String) => java.nio.file.Files.createSymbolicLink(
      new java.io.File(tmp, s"$n.parquet").toPath,
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/$n.parquet"))
    Tables.all.filterNot(_ == "events").foreach(link) // events is MISSING
    Tables.registerAll(spark, tmp.toString)
    assert(spark.sql("select count(*) from lineitem").head().getLong(0) > 0,
      "healthy table must survive a broken sibling in registerAll")
    // leave the registry un-poisoned for later suites: evict wipes the
    // recorded dir (a pre-existing sf0001 record would otherwise make
    // the restore a no-op) and re-register everything from sf0.001
    Tables.evict(spark)
    Tables.registerAll(spark, TestSpark.sf0001)
    assert(spark.sql("select count(*) from events").head().getLong(0) > 0)
  }
}
