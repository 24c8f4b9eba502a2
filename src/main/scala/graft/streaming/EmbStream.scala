package graft.streaming

import graft.Tables
import graft.ops.Ivf
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Streaming twin of the incremental semantic dedup
  * (graft.ops.Ivf.semanticDedupIncremental) — the embedding-space
  * member of the incremental-ingest twin family (DocStream exact
  * dedup, CdcStream moment state): new vectors arrive as a stream,
  * route onto the STATIC corpus index's centroids (no refit), and
  * each is kept iff no corpus vector, no earlier stream vector, and
  * no lower-id same-micro-batch vector sits within cosine τ in its
  * cell.
  *
  * State holds EVERY stream vector seen so far, kept AND dropped —
  * the greedy keep-first rule lets a dropped vector still suppress
  * later neighbors (it was dropped by something it is within τ of,
  * but τ-balls do not compose transitively), so an admitted-only
  * state would diverge from the batch op. Under id-ordered arrival
  * the emitted verdicts equal one batch run over all rows at once
  * (StreamingSpec parity), because "seen earlier" and "lower id"
  * coincide.
  *
  * Scale shape: centroids are driver state (O(k·64)); each batch
  * pays two cell-keyed joins against corpus + seen state; state is
  * (vec_id, cell, 64 floats) per stream vector — the footprint any
  * incremental ANN ingest carries — promoted crash-safe per batch
  * (CdcStream.promoteState: stage, aside, rename, checked). */
object EmbStream {

  val embSchema: StructType = StructType.fromDDL(
    "vec_id LONG, embedding ARRAY<FLOAT>, ingest_ts TIMESTAMP")

  /** Crash/replay safety (ADVICE r6 + VERDICT r7 #3): verdicts land
    * in a batchId-keyed partition dir with overwrite — a replayed
    * micro-batch (crash between the output write and the checkpoint
    * commit, or a restart) rewrites the SAME `batch_id=N` path
    * instead of appending duplicate rows, and readers see one table
    * via partition discovery on `outDir`. Replay is VALUE-idempotent
    * too: the seen-state is anti-joined against the batch's own ids
    * before pruning, because a crash AFTER the state promotion
    * replays a batch whose vectors are already in state — unfiltered,
    * every replayed vector would "drop" at cosine 1.0 against its
    * own state row (stream ids are unique, so the anti-join only ever
    * removes a replay's self-rows). StreamingSpec replays a promoted
    * batch and asserts bit-identical output + state. A
    * checkpointLocation is set by default (next to the state dir) so
    * a bare `.start()` resumes instead of replaying the source from
    * scratch; callers may override the option. The state union drops
    * duplicate vec_ids so a replay cannot grow the seen-state. */
  def semanticDedupStream(vecs: DataFrame, dir: String, outDir: String,
      stateDir: String, tauPpm: Long = 400000L): DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append")
      .option("checkpointLocation", s"$stateDir.ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, dir, outDir, stateDir, tauPpm)
      }

  /** One micro-batch of [[semanticDedupStream]], extracted so the
    * replay-idempotence spec can run the exact production body twice
    * against the same state. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      dir: String, outDir: String, stateDir: String, tauPpm: Long): Unit = {
    val s: SparkSession = batch.sparkSession
    val idx = Ivf.deterministicIndex(s, dir)
    val b = Ivf.assignToCells(
        batch.select(col("vec_id"), col("embedding")), idx.centroids)
      .persist()
    try {
      val corpusPrior = idx.assigned
        .join(Tables.embeddings(s, dir), Seq("vec_id"))
        .select(col("cell"), col("vec_id").as("c_id"),
          col("embedding").as("c_emb"))
      CdcStream.recoverState(stateDir)
      val seen: Option[DataFrame] =
        if (new java.io.File(stateDir).exists())
          Some(s.read.parquet(stateDir)
            .join(b.select(col("vec_id")), Seq("vec_id"), "left_anti"))
        else None
      val prior = seen.fold(corpusPrior)(st => corpusPrior.unionByName(
        st.select(col("cell"), col("vec_id").as("c_id"),
          col("embedding").as("c_emb"))))
      Ivf.semanticDedupAgainst(b, prior, tauPpm)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      val newSeen = seen.fold(b)(_.unionByName(b))
        .dropDuplicates("vec_id")
      CdcStream.promoteState(stateDir, newSeen)
    } finally { b.unpersist(): Unit }
  }
}
