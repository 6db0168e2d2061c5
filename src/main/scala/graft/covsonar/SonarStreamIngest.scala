package graft.covsonar

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest: the S1 FASTA source as a Structured Streaming flow.
  *
  * Watches a directory for FASTA files (the reference's batch `add` is a
  * one-shot CLI; a surveillance deployment receives genome submissions
  * continuously) and runs every micro-batch through the exact batch
  * pipeline via `foreachBatch` — harmonize/SEGUID, seqhash dedup against
  * the store, alignment + variant calling in `mapPartitions`, paranoid
  * roundtrip and the table appends — nothing is reimplemented.
  *
  * Delivery semantics: the file source records processed files in the
  * checkpoint, so each file is read once. A batch replayed after a crash
  * mid-`add` is NOT idempotent: `add` appends `profile`, `sequence2dna` and
  * `sequence2prot` without an anti-join against rows already stored (only
  * the `dna`/`prot` dimension tables are deduplicated), and the `sequence`
  * sentinel, appended after them, is the only dedup key. A crash after the
  * per-sequence appends but before `sequence` therefore leaves their rows
  * in place, the replay appends them again, and `essence` (a plain join)
  * returns each such genome once per copy. State is bounded: the only
  * streaming state is the processed-file log.
  *
  * Scale notes: `maxFilesPerTrigger` bounds each micro-batch; alignment
  * parallelism inside a batch is executor parallelism, identical to batch
  * `add`. At 100 TB-class submission volume the watch dir becomes an object
  * store prefix and nothing changes.
  */
object SonarStreamIngest {

  /** Start the ingest stream. `availableNow = true` drains everything
    * currently in the directory and stops (the testing / catch-up trigger);
    * the default micro-batches forever.
    */
  def start(
      store: SonarStore,
      watchDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val spark = store.spark
    import spark.implicits._
    val chunks = spark.readStream
      .option("lineSep", "\n>")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(watchDir)
    val writer = chunks.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val recs = batch.as[String].flatMap(SonarIngest.parseRecord _)
        if (!recs.isEmpty) {
          SonarIngest.add(store, recs): Unit
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
