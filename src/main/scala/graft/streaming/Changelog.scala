package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Changelog / retraction emission (SURVEY §7.4 item 3): the reference
  * prints RowKind-tagged rows (`+I/-U/+U/-D`, QueryTest.scala:393-425,
  * TableSQLFunc.scala:846-855 toRetractStream). Structured Streaming's
  * update mode only surfaces upserts, so the engine reconstructs the
  * changelog in `foreachBatch` by diffing each batch of updated
  * aggregates against a persisted snapshot of the previous values:
  *
  *   key absent in snapshot          → +I new
  *   key present, value changed      → -U old, +U new
  *
  * Update mode cannot observe deletions (absence from a batch means
  * "unchanged"); the COMPLETE-mode flavor below diffs full results
  * and emits `-D` for keys that vanish (top-N drop-outs) — covering
  * all four reference RowKinds.
  *
  * Everything is distributed DataFrame work per batch: one left join
  * against the snapshot, one anti-join merge to roll the snapshot
  * forward — no driver-side state. Snapshot and changelog are plain
  * parquet dirs, so the changelog consumer is any batch/stream reader.
  */
object Changelog {

  /** Process one micro-batch of an UPDATE-mode aggregate: append
    * op-tagged rows to `changelogDir` and roll `snapshotDir` forward.
    * Returns the ops appended (for tests). */
  def processBatch(batchIn: DataFrame, keys: Seq[String], batchId: Long,
                   snapshotDir: String, changelogDir: String): Unit = {
    // MATERIALIZE once before the multiple actions below (changelog
    // append + snapshot merge): each action re-executes an
    // unmaterialized foreachBatch frame from the stateful source, and
    // under the RocksDB store the second execution cannot re-acquire
    // the state instance the first still holds (CANNOT_LOAD_STATE_STORE
    // UNRELEASED_THREAD_ERROR after its 120 s lock timeout — found by
    // StreamingSoakSpec's kill/restart soak, round 12). One
    // materialization also makes the diff and the rolled snapshot
    // read the SAME batch rows by construction.
    //
    // localCheckpoint, NOT persist (round 14, found by the StateSize
    // gate): persist() on the foreachBatch frame does not stop the
    // downstream multi-branch union from re-executing the stateful
    // scan — the branch subtrees do not resolve to the registered
    // cache (measured: numRowsTotal/numRowsUpdated x(union branches)
    // per trigger, 4x in the complete path, even with the cache
    // force-materialized first). localCheckpoint runs the streaming
    // plan EXACTLY once and rebases every downstream action on a
    // plain LogicalRDD, so no action can reach the state store again.
    // Blocks are freed DETERMINISTICALLY in the finally below — the
    // ContextCleaner alone only reclaims them at its periodic GC
    // (default 30 min), which would let a fast-trigger stream pile up
    // every batch's materialized rows in the block manager (review
    // finding r14). Not fault-tolerant to executor loss, which is
    // fine here — a failed foreachBatch fails the trigger and
    // Structured Streaming retries the whole batch.
    val batch = batchIn.localCheckpoint()
    try processPersisted(batch, keys, batchId, snapshotDir, changelogDir)
    finally freeCheckpoint(batch)
  }

  /** Release a localCheckpoint'd frame's blocks NOW instead of at the
    * ContextCleaner's next periodic GC: the checkpointed data IS the
    * cached RDD behind the plan's LogicalRDD leaf. Safe post-use — no
    * later action references the batch. (Shared idiom — see
    * core.Resources.freeCheckpoint; Scaling pair mode's tfidf curve uses
    * the same release for its checkpoint-cost probes.) */
  private def freeCheckpoint(df: DataFrame): Unit =
    graft.core.Resources.freeCheckpoint(df)

  private def processPersisted(batch: DataFrame, keys: Seq[String],
                               batchId: Long, snapshotDir: String,
                               changelogDir: String): Unit = {
    val spark = batch.sparkSession
    val valueCols = batch.columns.filterNot(keys.contains)
    // Only a MISSING snapshot (first batch) may fall back to None: a
    // transient storage error must propagate and fail the batch (Spark
    // retries it) — swallowing it would re-baseline the changelog,
    // emitting spurious +I for every key and losing the other keys'
    // last-known values when the snapshot rolls forward.
    val prev =
      try Some(spark.read.parquet(snapshotDir))
      catch { case _: org.apache.spark.sql.AnalysisException => None }

    var cached: Option[DataFrame] = None
    val changes = prev match {
      case None =>
        batch.withColumn("op", lit("+I"))
      case Some(old) =>
        // key existence is detected by an explicit marker column, NOT
        // by a value column being NULL after the left join — a key
        // whose first value column is legitimately NULL would
        // otherwise be misclassified as a fresh insert forever (and
        // its real updates would never emit -U/+U).
        val renamedOld = valueCols.foldLeft(
          old.withColumn("__exists", lit(true))) { (df, c) =>
          df.withColumnRenamed(c, c + "__old")
        }
        val joined = batch.join(renamedOld, keys, "left").cache()
        cached = Some(joined)
        val inserts = joined.filter(col("__exists").isNull)
          .select((keys ++ valueCols).map(col): _*).withColumn("op", lit("+I"))
        val changed = joined.filter(
          col("__exists").isNotNull && // key existed before
            valueCols.map(c => !(col(c) <=> col(c + "__old"))).reduce(_ || _))
        val retracts = changed
          .select(keys.map(col) ++ valueCols.map(c => col(c + "__old").as(c)): _*)
          .withColumn("op", lit("-U"))
        val updates = changed
          .select((keys ++ valueCols).map(col): _*).withColumn("op", lit("+U"))
        inserts.unionByName(retracts).unionByName(updates)
    }
    changes.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(changelogDir)

    // roll the snapshot forward (upsert batch keys into prev)
    val merged = prev match {
      case Some(old) => old.join(batch.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(batch)
      case None => batch
    }
    val staged = snapshotDir + "__staged"
    merged.write.mode("overwrite").parquet(staged)
    spark.read.parquet(staged).write.mode("overwrite").parquet(snapshotDir)
    // drop the per-batch diff cache — a long-running stream would
    // otherwise pin one RDD per micro-batch forever
    cached.foreach(_.unpersist())
  }

  /** COMPLETE-mode flavor: the batch is the FULL current result, so a
    * key present in the snapshot but absent from the batch has been
    * deleted upstream — e.g. a row falling out of a top-N — and emits
    * `-D` with its last known values (the reference's fourth RowKind,
    * which update-mode reconstruction can never observe: absence from
    * an update batch just means "unchanged"). Same distributed shape:
    * one full-outer-style diff join per batch, snapshot replaced
    * wholesale (it IS the batch).
    */
  def processCompleteBatch(batchIn: DataFrame, keys: Seq[String], batchId: Long,
                           snapshotDir: String, changelogDir: String): Unit = {
    // same materialize-once + free-now discipline as processBatch
    val batch = batchIn.localCheckpoint()
    try processCompletePersisted(batch, keys, batchId, snapshotDir, changelogDir)
    finally freeCheckpoint(batch)
  }

  private def processCompletePersisted(batch: DataFrame, keys: Seq[String],
                                       batchId: Long, snapshotDir: String,
                                       changelogDir: String): Unit = {
    val spark = batch.sparkSession
    val valueCols = batch.columns.filterNot(keys.contains)
    // Only a MISSING snapshot (first batch) may fall back to None: a
    // transient storage error must propagate and fail the batch (Spark
    // retries it) — swallowing it would re-baseline the changelog,
    // emitting spurious +I for every key and losing the other keys'
    // last-known values when the snapshot rolls forward.
    val prev =
      try Some(spark.read.parquet(snapshotDir))
      catch { case _: org.apache.spark.sql.AnalysisException => None }

    var cached: Option[DataFrame] = None
    val changes = prev match {
      case None =>
        batch.withColumn("op", lit("+I"))
      case Some(old) =>
        val renamedOld = valueCols.foldLeft(
          old.withColumn("__exists", lit(true))) { (df, c) =>
          df.withColumnRenamed(c, c + "__old")
        }
        val joined = batch.join(renamedOld, keys, "left").cache()
        cached = Some(joined)
        val inserts = joined.filter(col("__exists").isNull)
          .select((keys ++ valueCols).map(col): _*).withColumn("op", lit("+I"))
        val changed = joined.filter(
          col("__exists").isNotNull && // null-safe key-existence marker
            valueCols.map(c => !(col(c) <=> col(c + "__old"))).reduce(_ || _))
        val retracts = changed
          .select(keys.map(col) ++ valueCols.map(c => col(c + "__old").as(c)): _*)
          .withColumn("op", lit("-U"))
        val updates = changed
          .select((keys ++ valueCols).map(col): _*).withColumn("op", lit("+U"))
        val deletes = old.join(batch.select(keys.map(col): _*), keys, "left_anti")
          .select((keys ++ valueCols).map(col): _*).withColumn("op", lit("-D"))
        inserts.unionByName(retracts).unionByName(updates).unionByName(deletes)
    }
    changes.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(changelogDir)

    val staged = snapshotDir + "__staged"
    batch.write.mode("overwrite").parquet(staged)
    spark.read.parquet(staged).write.mode("overwrite").parquet(snapshotDir)
    cached.foreach(_.unpersist())
  }

  /** Attach changelog emission to an update-mode streaming aggregate. */
  def attach(agg: DataFrame, keys: Seq[String], snapshotDir: String,
             changelogDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    agg.writeStream.outputMode("update").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), keys, batchId, snapshotDir, changelogDir)
        ()
    }

  /** Attach full-RowKind (+I/-U/+U/-D) changelog emission to a
    * complete-mode query (top-N, small-keyspace aggregates). */
  def attachComplete(agg: DataFrame, keys: Seq[String], snapshotDir: String,
                     changelogDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    agg.writeStream.outputMode("complete").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        processCompleteBatch(batch.toDF(), keys, batchId, snapshotDir, changelogDir)
        ()
    }

  /** The consumer half of the reference's `toRetractStream`
    * (TableSQLFunc.scala:846-855): subscribe to a changelog directory
    * written by attach/attachComplete as a STREAM of op-tagged rows.
    * The changelog dir is append-only parquet, so a plain file-source
    * readStream delivers every +I/-U/+U/-D row exactly once in batch
    * order — a downstream retract-aware pipeline (cache invalidation,
    * compensating aggregation) is just normal Structured Streaming
    * over this source. `schema` is the aggregate's schema plus the
    * `op` (string) and `batch_id` (long) columns appended. */
  def retractStream(spark: SparkSession,
                    changelogDir: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(changelogDir)
}
