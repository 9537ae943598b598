package graft.streaming

import graft.{CatalogBackend, LakeWriter}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming ingestion into the catalogued lake: attach a
 * [[LakeWriter]] sink to any streaming DataFrame with the int64-ns
 * [[CatalogBackend.TimeCol]]. Each micro-batch APPENDS to
 * `{root}/{db}/{table}` in the reference's on-disk contract — `date=`
 * partition folders, per-folder `metadata.json` zone maps merged
 * incrementally, and (optionally) backend-catalog registration of
 * exactly the batch's new files — so data is time-prunable and
 * queryable the moment its batch commits. This closes the reference
 * ecosystem's write path
 * (gigapi's ingestion/merge components live outside the querier;
 * SURVEY.md §0 module map) with Structured Streaming semantics.
 *
 * Delivery is at-least-once at the file level: a batch retried after
 * a sink-side crash appends fresh part files next to the earlier
 * attempt's. Exactly-once would need an idempotent commit keyed on
 * batchId (e.g. a batch manifest) — out of scope; the checkpoint
 * still guarantees the SOURCE never replays acknowledged data after
 * a clean restart. Run [[graft.LakeCompactor]] periodically to fold
 * the per-batch small files.
 */
object LakeIngest {

  /** Maintain the [[graft.SignatureStore]] dedup sidecar per batch:
    * one kernel pass over text already in memory for the lake write. */
  case class SignatureConfig(idCol: String, textCol: String,
                             shingleWords: Int = 3, k: Int = 64)

  def start(df: DataFrame, root: String, db: String, table: String,
            checkpoint: String,
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
            catalog: Option[CatalogBackend] = None,
            signatures: Option[SignatureConfig] = None): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          LakeWriter.write(root, db, table, batch, mode = SaveMode.Append, catalog = catalog)
          // keyed on batchId → an at-least-once replay OVERWRITES its
          // own previous attempt instead of double-appending signatures
          signatures.foreach(c => graft.SignatureStore.append(
            root, db, table, batch, c.idCol, c.textCol, s"b$batchId",
            c.shingleWords, c.k))
        }
      }
      .start()
}
