package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.engine._

/** Structured Streaming helpers beside the graft sink. The encoding sink
  * itself — pyppmd's incremental encoder protocol
  * (`PpmdCompressor.compress()` fed piecewise, model persisting across calls
  * — `src/ext/_ppmdmodule.c:793-844`) recast as micro-batch encode — is `writeStream.format("graft")`: one READY-marked lineage
  * batch dir per epoch, written through the same per-partition committers
  * as the batch sink (GraftStreamingWrite). This object holds the stateful
  * ingest guards and the windowed token-rate feed that ride in front of it.
  */
object StreamingEncoder {

  /** Cross-batch streaming dedup with custom state
    * (flatMapGroupsWithState): keyed on the row's content hash, the first
    * arrival passes through, replays/duplicates in ANY later micro-batch are
    * dropped. This is the streaming-ingest guard of a training pipeline —
    * the reference's incremental "model remembers what it has seen" recast
    * as explicit keyed state. State per key is one boolean; over an
    * unbounded stream use dedupStreamTtl so total state stays bounded. */
  def dedupStream(rows: Dataset[SeqRow]): Dataset[SeqRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    rows
      .groupByKey(r => ContentKey.of(r))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (_: Long, it: Iterator[SeqRow], state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty // seen in an earlier batch
          else {
            state.update(true)
            it.take(1) // first occurrence only (also dedups within the batch)
          }
        })
  }

  /** dedupStream with bounded state: each key's seen-bit expires `ttl`
    * after its last sighting (ProcessingTimeTimeout), so state size tracks
    * the de-dup horizon, not the stream's lifetime — the policy production
    * ingest dedup uses (exact within a window, best-effort beyond it). A
    * duplicate arriving after the TTL is treated as new. */
  def dedupStreamTtl(rows: Dataset[SeqRow], ttl: String): Dataset[SeqRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    rows
      .groupByKey(r => ContentKey.of(r))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout())(
        (_: Long, it: Iterator[SeqRow], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            state.setTimeoutDuration(ttl) // sighting refreshes the horizon
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(ttl)
            it.take(1)
          }
        })
  }

  /** Windowed/watermarked aggregation over a stream of (ts, source, n_tok):
    * per-minute token counts per source — the streaming stats feed for the
    * codec selector's reporting side (SURVEY.md Table B streaming row). */
  def tokenRateByWindow(rows: DataFrame): DataFrame =
    rows
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("source"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_tok")).as("n_tokens"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_rows"), col("n_tokens"))
}
