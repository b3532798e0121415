package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** ONLINE ANN serving: a stream of query vectors against the persisted
  * IVF-PQ index — the other half of build-once/serve-many. The offline
  * entry (`sim_index_serve`) serves a fixed query batch; a deployed
  * retrieval system serves queries as they ARRIVE, without retraining,
  * re-reading, or re-planning the index per query.
  *
  * Shape: `foreachBatch` running the IDENTICAL relational serving plan the
  * batch path uses (`Similarity.serveIvfPqQueries`) over each micro-batch
  * of queries, stream-static-joined against the four persisted index
  * relations + the full-vector store. Zero streaming state: every query is
  * answered within its own micro-batch, so there is no watermark, no state
  * store, and a replayed batch reproduces its answers exactly (the serve
  * plan is deterministic), making the sink effectively idempotent per
  * q_id. This is the same pattern `MergeSink` uses for CDC — Structured
  * Streaming's recommended route for per-batch computations that need full
  * batch-engine semantics (window-rank top-k is not available in a
  * streaming plan without watermark gymnastics; inside foreachBatch it
  * costs what the offline query costs).
  *
  * Scale: the index relations are loaded ONCE and cached — per batch the
  * work is |batch| · (nprobe cells + refineT exact rescores); the
  * corpus-proportional relations (`cells`, `codes`, vector store) are
  * equi-joined with no broadcast hint, exactly as the offline plan pins.
  */
object AnnServeStream {

  /** Start serving. `queries` is a streaming DataFrame with columns
    * `(q_id: Long, qv: array<double>)` — qv unit-normalized (the contract
    * of every serve path; normalize upstream if needed). `onBatch`
    * receives each micro-batch's ANSWERS `(q_id, vec_id, cos, rn)` —
    * write them to a sink, a topic, or a memory table.
    *
    * `tombstoneStore`, when given, names a parquet path of deleted ids
    * `(vec_id)` — the ONLINE half of `sim_index_delete`'s batch
    * semantics: the store is re-read at every micro-batch boundary
    * (deletes land mid-stream, so it must NOT be cached like the index
    * relations — a delete takes effect at the next batch, which is the
    * contract a serving endpoint owes an RTBF/dedup-loser feed), probed
    * via the store URI's own Hadoop FileSystem, and threaded through the
    * serve as the same two anti-joins the batch path uses: candidate
    * cells are masked BEFORE ranking (a dead id must not consume a
    * refine slot) and the refine corpus is masked to survivors. The
    * store is |deletes|-bounded — re-reading it per batch costs a small
    * file scan while the corpus-bounded relations stay cached. */
  def start(queries: DataFrame, dir: String, checkpoint: String,
            tombstoneStore: Option[String] = None)
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = queries.sparkSession
    val (idx, nprobe, refineT) = Similarity.ensureIvfPqIndex(spark, dir)
    // loaded + cached once, reused by every micro-batch: index relations
    // are small-to-corpus-bounded and re-reading parquet per batch would
    // put the index scan, not the query, on the serving critical path
    val centroids = spark.read.parquet(s"$idx/centroids").cache()
    val codebook = spark.read.parquet(s"$idx/codebook").cache()
    val cells = spark.read.parquet(s"$idx/cells").cache()
    val codes = spark.read.parquet(s"$idx/codes").cache()
    val corpus = Similarity.unitVectors(spark, dir).cache()
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val (srvCorpus, srvCells) = tombstoneStore match {
          case Some(store) =>
            val hPath = new org.apache.hadoop.fs.Path(store)
            val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
            if (fs.exists(hPath)) {
              val tombs = spark.read.parquet(store).select(col("vec_id"))
              (corpus.join(tombs, Seq("vec_id"), "left_anti"),
                cells.join(tombs, Seq("vec_id"), "left_anti"))
            } else (corpus, cells)
          case None => (corpus, cells)
        }
        onBatch(Similarity.serveIvfPqQueries(
          batch, srvCorpus, centroids, codebook, srvCells, codes,
          nprobe, refineT), epoch)
      }
      .start()
  }
}
