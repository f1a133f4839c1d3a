package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.extensions.Ivf

/** Streaming vector ingest against a FROZEN IVF index: the streaming
  * face of [[graft.extensions.Ivf.appendAssign]] + [[Ivf.refitAdvisory]].
  *
  * Each micro-batch of new vectors is assigned to its inverted-list cell
  * by a map-side argmin over the frozen centroids (no refit, no history
  * reads — the 100 TB ingest shape), landed in the cell-keyed lists
  * table, and simultaneously health-checked: the batch's per-cell
  * quantization error is compared against a STATIC history profile
  * ([[Ivf.cellStats]] of the corpus the index was fitted on) and the
  * per-cell refit advisory lands next to the lists. A drifted batch
  * flips `drifted = true` on the affected cells — the trigger for an
  * offline re-train — without ever interrupting ingest.
  *
  * foreachBatch, not a stateful operator: the index is a broadcast-scale
  * artifact fixed at query start (like the Bloom decontamination filter
  * and the drift monitor's reference sample), and per batch the work is
  * one map-side assignment pass + a k-row aggregate. Exactly-once: both
  * sinks are batch-id-addressed partition directories written with
  * overwrite, so foreachBatch replays — including of a half-written
  * batch — are idempotent (same stance as [[DocsStream.flagBatch]]).
  */
object VecsStream {

  /** Row shape for streaming vector ingest (MemoryStream-friendly). */
  final case class Vec(vec_id: Long, embedding: Array[Float])

  /** Start the ingest query. `vecs` must be a STREAMING frame with
    * (vec_id long, embedding array&lt;float&gt;); assigned lists land
    * under `listsDir/batch=&lt;id&gt;`, per-cell refit advisories under
    * `advisoryDir/batch=&lt;id&gt;`. `histStats` is the frozen index's
    * history error profile ([[Ivf.cellStats]] over the fitted corpus) —
    * an offline artifact computed once, not per batch.
    */
  def ivfIngest(vecs: DataFrame, index: Ivf.IvfIndex, histStats: DataFrame,
                listsDir: String, advisoryDir: String, checkpointDir: String,
                ratio: Double = 1.5): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ivfIngestBatch(batch, batchId, index, histStats, listsDir,
          advisoryDir, ratio)
      }
      .start()

  /** One ingest micro-batch (exposed for batch-parity testing): assign
    * vs the frozen centroids, land the lists, land the advisory. The
    * assigned frame is persisted across its two consumers so the batch
    * is scanned (and the argmin computed) once, not twice.
    */
  def ivfIngestBatch(batch: DataFrame, batchId: Long, index: Ivf.IvfIndex,
                     histStats: DataFrame, listsDir: String,
                     advisoryDir: String, ratio: Double = 1.5): Unit = {
    val assigned = Ivf.assign(batch, "vec_id", "embedding", index)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assigned.write.mode("overwrite").parquet(s"$listsDir/batch=$batchId")
      Ivf.refitAdvisory(histStats, Ivf.cellStats(assigned, index), ratio)
        .write.mode("overwrite").parquet(s"$advisoryDir/batch=$batchId")
    } finally {
      assigned.unpersist()
      ()
    }
  }

  /** Streaming ONLINE k-means — the streaming face of
    * [[graft.extensions.Kmeans.incrementalUpdate]]. Unlike [[ivfIngest]]
    * (frozen index, per-batch advisory only), the model state here
    * EVOLVES across micro-batches: batch b assigns under the centroids
    * of state b−1 and folds its exact fixed-point sums in, landing the
    * full restorable state (cluster, pos, sq, n, c) at
    * `stateDir/batch=b`. Exactly-once the same way the other ingest
    * sinks are: state b is a pure function of the LANDED state b−1
    * plus batch b (batch 0 starts from the offline model), written
    * with batch-addressed overwrite — a foreachBatch replay recomputes
    * the identical partition. Per batch: one k·d-row state read-back
    * (bounded), one map-side assignment, one k·d-key shuffle.
    */
  def kmeansIngest(vecs: DataFrame,
                   model0: graft.extensions.Kmeans.KmeansModel,
                   stateDir: String, checkpointDir: String,
                   vecCol: String = "embedding"): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        kmeansIngestBatch(batch, batchId, model0, stateDir, vecCol)
      }
      .start()

  /** One online-k-means micro-batch (exposed for batch-parity tests
    * and the demo registry). `vecCol` names the batch's vector column
    * (the Kmeans.incrementalUpdate contract — a hardcoded "embedding"
    * would fail on any other stream shape, or silently bind an
    * unrelated column that happens to carry the name). */
  def kmeansIngestBatch(batch: DataFrame, batchId: Long,
                        model0: graft.extensions.Kmeans.KmeansModel,
                        stateDir: String,
                        vecCol: String = "embedding"): Unit = {
    import graft.extensions.Kmeans
    val spark = batch.sparkSession
    val prev =
      if (batchId == 0L) model0
      else Kmeans.modelFromSums(Kmeans.sumsFromStateRows(
        spark.read.schema(kmeansStateSchema)
          .parquet(s"$stateDir/batch=${batchId - 1}")
          .select("cluster", "pos", "sq", "n").collect()))
    val updated = Kmeans.incrementalUpdate(prev, batch, vecCol)
    Kmeans.stateFrame(spark, updated)
      .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
  }

  /** The landed k-means state artifact's on-disk shape
    * ([[graft.extensions.Kmeans.stateFrame]] / lloydFramed output):
    * declaring it on read-back skips one parquet footer-inference job
    * per micro-batch (the state schema is this module's own contract,
    * not something to re-discover every batch).
    */
  private val kmeansStateSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c",
      org.apache.spark.sql.types.DoubleType)))

  /** One FRAME-RESIDENT online-k-means micro-batch (exposed for
    * batch-parity tests and the demo registry) — [[kmeansIngestBatch]]
    * with the k·d driver state removed: the previous state reads back
    * as a frame (never collected), the update is
    * `Kmeans.incrementalUpdateFramed`, and the merged state lands
    * batch-addressed. Batch 0 starts from `state0Dir`, the landed
    * offline training artifact (a [[Kmeans.lloydFramed]] or
    * [[Kmeans.stateFrame]] parquet), so training → landing → updates
    * never hold k·d rows on the driver. */
  def kmeansIngestBatchFramed(batch: DataFrame, batchId: Long,
                              state0Dir: String, stateDir: String,
                              vecCol: String = "embedding",
                              nSupers: Int = 1): Unit = {
    import graft.extensions.Kmeans
    val spark = batch.sparkSession
    val prevDir =
      if (batchId == 0L) state0Dir else s"$stateDir/batch=${batchId - 1}"
    val prev = spark.read.schema(kmeansStateSchema).parquet(prevDir)
      .select("cluster", "pos", "sq", "n")
    Kmeans.incrementalUpdateFramed(prev, batch, vecCol, nSupers)
      .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
  }

  /** Streaming framed SemDeDup ingest (VERDICT r16 #6) — the streaming
    * face of the semdedup_prune pipeline: each micro-batch of new
    * vectors stages through `by` — the FROZEN routed cell structure
    * (an offline-trained [[graft.extensions.Kmeans.FramedRouting]] or,
    * at the 2M-cell regime, a [[graft.extensions.Kmeans.FramedRouting3]]
    * whose joined rows stay O(k^(1/3)·d)), fixed at query start like
    * the IVF index and the Bloom filter — is near-dup-checked against
    * the accumulated HISTORY of its own cell only (new-vs-history —
    * never hist-vs-hist, and batch-internal pairs wait for the next
    * batch's history view, exactly [[DocsStream.nearDupIngest]]'s
    * contract), flagged, and appended to the cell-keyed staged lists.
    *
    * Exactly-once: flags and staged lists land in batch-id-addressed
    * partitions written with overwrite; history for batch b = the
    * offline stage0 artifact plus staged partitions strictly < b, so a
    * replayed batch — including a half-written one — re-derives
    * identical flags. The staged list is written AFTER the flags: a
    * listed history partition is therefore always complete (the
    * [[DocsStream.flagBatch]] write-order argument).
    */
  def semdedupIngest(vecs: DataFrame, by: graft.extensions.Kmeans.Assigner,
                     stage0Dir: String, stageDir: String,
                     flagsDir: String, checkpointDir: String,
                     threshold: Double, idCol: String = "vec_id",
                     vecCol: String = "embedding"): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        semdedupIngestBatch(batch, batchId, by, stage0Dir,
          stageDir, flagsDir, threshold, idCol, vecCol)
      }
      .start()

  /** One framed-SemDeDup ingest micro-batch (exposed for batch-parity
    * tests and the demo registry): stage the batch through the frozen
    * assignment (ONE scan — the staged frame feeds the flag join and
    * the landed list), flag within-cell near-dups against history,
    * land flags then the staged list.
    */
  def semdedupIngestBatch(batch: DataFrame, batchId: Long,
                          by: graft.extensions.Kmeans.Assigner,
                          stage0Dir: String, stageDir: String,
                          flagsDir: String, threshold: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          maxCell: Int =
                            graft.extensions.Kmeans.defaultMaxCell): Unit =
    semdedupIngestStaged(
      graft.extensions.Kmeans.semStage(batch, idCol, vecCol, by),
      batchId, stage0Dir, stageDir, flagsDir, threshold, maxCell)

  /** The ingest tail over an already-staged batch frame
    * ((id, v, nrm, cluster, dq) — a [[graft.extensions.Kmeans
    * .semStage]] output at any routing depth): list history, flag within-cell
    * new-vs-history near-dups, land flags THEN the staged list (the
    * write-order argument: a listed history partition is always
    * complete).
    *
    * DENSE-CELL CAP (r19, VERDICT r18 #2): uncapped, the flag join
    * pairs every new vector with ALL accumulated history of its cell —
    * O(|new∩cell|·|hist∩cell|) per batch, O(H²) over the stream's
    * life on a §12d mega-cell (mass-duplicated boilerplate with
    * near-identical embeddings, exactly what this operator exists to
    * remove). Cells whose HISTORY exceeds `maxCell` members therefore
    * flag against the cell's min-id REPRESENTATIVE only — the
    * [[graft.extensions.Kmeans.pairsOf]] star-reduction argument: the
    * cap only ever trips on mass-duplicate cells, where every true dup
    * still matches the representative, so the `dup_of` contract is
    * preserved (dup_of = the cell's min history id; n_matches
    * collapses to the representative count — the same documented
    * recall trade as pairsOf/bandCandidatePairs). Cells at or under
    * `maxCell` — every healthy corpus, and all demo fixtures — join
    * their FULL history: flags are bit-identical to the uncapped
    * join. The per-cell sizes come from one k-row broadcast aggregate
    * over the (column-pruned) history listing — no window, no extra
    * probe action; the flag join scans the same history anyway.
    */
  private def semdedupIngestStaged(staged: DataFrame, batchId: Long,
                                   stage0Dir: String, stageDir: String,
                                   flagsDir: String,
                                   threshold: Double,
                                   maxCell: Int =
                                     graft.extensions.Kmeans.defaultMaxCell)
      : Unit = {
    import org.apache.spark.sql.functions._
    import graft.extensions.Similarity
    val spark = staged.sparkSession
    try {
      // history = stage0 + staged batches strictly BEFORE this one
      // (Hadoop FS listing — the DocsStream.flagBatch URI stance)
      val stagePath = new org.apache.hadoop.fs.Path(stageDir)
      val fs =
        stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val priorIds =
        if (!fs.exists(stagePath)) Seq.empty[Long]
        else fs.listStatus(stagePath).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("batch="))
          .map(_.getPath.getName.stripPrefix("batch=").toLong)
          .filter(_ < batchId)
      // the stage dirs hold exactly the staged frame's shape (this
      // body wrote them on earlier batches; stage0 comes from the same
      // semStage family): the declared schema skips one parquet
      // footer-inference job per micro-batch
      val hist = spark.read.schema(staged.schema)
        .parquet(stage0Dir +: priorIds.map(i => s"$stageDir/batch=$i"): _*)
        .select(col("id").as("hist_id"), col("v").as("hv"),
                col("nrm").as("hnrm"), col("cluster"))
      // k-row per-cell history profile; broadcast so the cap filter is
      // map-side on the history stream
      val histInfo = broadcast(hist.groupBy("cluster")
        .agg(count(lit(1)).as("hsize"), min(col("hist_id")).as("hrep")))
      val histCapped = hist.join(histInfo, "cluster")
        .filter(col("hsize") <= maxCell || col("hist_id") === col("hrep"))
        .select(col("cluster"), col("hist_id"), col("hv"), col("hnrm"))
      val flags = staged.select("id", "v", "nrm", "cluster")
        .join(histCapped, "cluster")
        .select(col("id"), col("hist_id"),
          when(col("nrm") > 0 && col("hnrm") > 0,
            Similarity.dot(col("v"), col("hv"))
              / (col("nrm") * col("hnrm")))
            .otherwise(lit(0.0)).as("cos"))
        .filter(col("cos") >= threshold)
        .groupBy("id")
        .agg(min(col("hist_id")).as("dup_of"),
             count(lit(1)).as("n_matches"),
             max(col("cos")).as("best_cos"))
      flags.write.mode("overwrite").parquet(s"$flagsDir/batch=$batchId")
      staged.write.mode("overwrite").parquet(s"$stageDir/batch=$batchId")
    } finally {
      staged.unpersist()
      ()
    }
  }
}
