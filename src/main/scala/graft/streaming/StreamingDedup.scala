package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.TextOps

/** Streaming exact dedup — the continuous-ingest twin of the batch
  * first-wins dedup (maef.Loader.validateAndDedup's L2 step; reference analogue:
  * src/attribution/loader.py first-wins keep, SURVEY.md §2.5 L2).
  *
  * A training-data ingest pipeline dedups documents as they arrive, not in
  * nightly batches. `dropDuplicatesWithinWatermark` keeps ONE row per key
  * and — unlike plain streaming `dropDuplicates`, whose key state grows
  * forever — evicts each key's state once the event-time watermark passes
  * it, so state is bounded by (arrival rate × watermark delay), not corpus
  * size. The contract is correspondingly windowed: re-occurrences within
  * the watermark horizon are guaranteed dropped; a duplicate arriving after
  * its key was evicted starts fresh (at 100 TB/day that is the right trade
  * — global exactness would need unbounded state and belongs to the batch
  * operator).
  *
  * State shuffles on the dedup key (same partitioning as the batch
  * hash-groupBy), so hot keys shard exactly like any streaming aggregate.
  */
object StreamingDedup {

  /** Keep the first arrival per value of `keyCols` within the watermark
    * horizon. `eventTimeCol` must be a timestamp column. */
  def firstArrival(
      stream: DataFrame,
      eventTimeCol: String,
      delay: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "firstArrival needs at least one dedup key column")
    stream
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Content-level streaming dedup: fingerprint each document with the SAME
    * whitespace-normalized md5 as the batch path (TextOps.fingerprint), then
    * keep one row per fingerprint. Batch and stream agree on WHAT is a
    * duplicate — the fingerprint — but may keep a DIFFERENT representative
    * for an out-of-order stream: the stream keeps the first ARRIVAL, while
    * the batch operator keeps the minimum-orderCol row. On an in-event-time-
    * order stream the two coincide; the dedup DECISION (which keys survive)
    * is identical either way. */
  def byFingerprint(
      docs: DataFrame,
      eventTimeCol: String,
      delay: String,
      textCol: String = "text"): DataFrame =
    firstArrival(
      TextOps.fingerprint(docs, textCol), eventTimeCol, delay, Seq("fingerprint"))
}
