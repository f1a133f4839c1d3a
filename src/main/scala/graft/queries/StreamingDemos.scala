package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, md5, pmod, substring}
import graft.extensions.Kmeans
import graft.streaming.{DocsStream, EventsStream, SpikeStream, VecsStream}
import graft.tables.{ScratchDirs, Tables}

/** Streaming-shaped demo: the tumbling-window aggregation registered in
  * its batch form (identical transform feeds the Structured Streaming
  * path — parity asserted in StreamingSpec).
  */
object StreamingDemos {
  type Q = (SparkSession, String) => DataFrame

  /** The two micro-batches every vector-ingest demo replays: the new
    * quarter of the corpus as `vec_id % 8` = 3, then 7. */
  private def twoBatches(e: DataFrame)(ingest: (DataFrame, Long) => Unit)
      : Unit =
    Seq(3L, 7L).zipWithIndex.foreach { case (m, i) =>
      ingest(e.filter(pmod(col("vec_id"), lit(8L)) === m), i.toLong)
    }

  /** An online k-means ingest demo: fresh sink dir (correctness relies
    * on exactly batches {0, 1} existing — batch-addressed overwrite only
    * protects the batches this run writes), the two-batch replay, the
    * landed states read back. */
  private def kmeansIngestDemo(family: String)(
      ingestOf: (SparkSession, String) => (DataFrame, Long, String) => Unit)
      : Q = (s, dir) => {
    val ingest = ingestOf(s, dir)
    val state = s"${ScratchDirs.tmp(family, dir)}/state"
    ScratchDirs.deleteRecursively(new java.io.File(state))
    twoBatches(Tables.embeddings(s, dir))(ingest(_, _, state))
    s.read.parquet(state)
      .select(col("batch").cast("long").as("batch"), col("cluster"),
              col("pos"), col("sq"), col("n"), col("c"))
      .orderBy("batch", "cluster", "pos")
  }

  /** A framed SemDeDup ingest demo over the frozen history routing `by`:
    * the landed history stage (a frame fixture), fresh sink dirs, the
    * two-batch replay, the accumulated flags read back. */
  private def semdedupIngestDemo(family: String,
      by: (SparkSession, String) => Kmeans.Assigner): Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val assigner = by(s, dir)
    val stage0 = Fixtures.landed(s"${family}stage0", dir, "embeddings")(
      Kmeans.semStage(Fixtures.historySplit(e)._1, "vec_id", "embedding",
        assigner), release = true)
    val base = ScratchDirs.tmp(s"${family}ingest", dir)
    Seq("stage", "flags").foreach(d =>
      ScratchDirs.deleteRecursively(new java.io.File(s"$base/$d")))
    twoBatches(e)((batch, i) =>
      VecsStream.semdedupIngestBatch(batch, i, assigner, stage0,
        s"$base/stage", s"$base/flags", PipelineDemos.cosineThreshold))
    s.read.parquet(s"$base/flags")
      .select(col("batch").cast("long").as("batch"), col("id"),
              col("dup_of"), col("n_matches"), col("best_cos"))
      .orderBy("batch", "id")
  }

  val queries: Map[String, Q] = Map(
    "stream_window" -> ((s, dir) =>
      EventsStream.batchDemo(Tables.events(s, dir))),
    // Sessionization (batch form; stateful flatMapGroupsWithState parity
    // asserted in StreamingSpec).
    "sessionize" -> ((s, dir) =>
      EventsStream.sessionizeBatch(Tables.events(s, dir), 30)
        .orderBy("user_id", "session_start")),
    // Exactly-once dedup by event_id (batch form over a self-union, so
    // every id arrives twice and the dedup provably halves it; streaming
    // dropDuplicatesWithinWatermark parity asserted in StreamingSpec).
    "stream_dedup" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventsStream.dedupedCounts(e.unionByName(e))
    }),
    // Stream-static enrichment join (batch form; per-micro-batch
    // broadcast parity asserted in StreamingSpec).
    "stream_enrich" -> ((s, dir) =>
      EventsStream.enrichedCounts(Tables.events(s, dir),
          Tables.customer(s, dir))
        .orderBy("c_mktsegment", "event_type")),
    // Stream-stream event-time interval join: purchases ⋈ same-user
    // views within the previous hour (batch form; two-watermarked-stream
    // parity asserted in StreamingSpec).
    "stream_stream_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventsStream.attributionJoin(
          e.filter(col("event_type") === "view"),
          e.filter(col("event_type") === "purchase"))
        .orderBy("purchase_id", "view_id")
    }),
    // SpikeStream's batch-parity face — the stream's exact semantics
    // including the lapse reap (a >7-day gap restarts a key's trail);
    // detectStateful equivalence asserted in StreamingSpec.
    "spike_stream_batch" -> ((s, dir) =>
      SpikeStream.detectBatch(Tables.events(s, dir))
        .orderBy("event_type", "hour")),
    // DocsStream's batch-parity face: the documents table ingested as 3
    // deterministic micro-batches (md5-split) through the REAL
    // foreachBatch body — batch 0 seeds history, batch 1 flags against
    // batch 0, batch 2 against batches 0+1; the accumulated flags
    // directory is the result. flagBatch's batch-id-addressed overwrite
    // makes re-runs idempotent, so the registry re-execution pattern
    // (warm-up + timed runs) reads back identical state every time.
    // Streaming drift monitor's batch-parity face: the md5-smallest half
    // of documents is the STATIC scored reference; the other half
    // arrives as 2 micro-batches through the REAL qualityDriftBatch
    // body, each landing its per-bucket drift frame in a batch-addressed
    // partition. Stateless per batch; the oracle recomputes both
    // batches' spines end-to-end.
    "stream_quality_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val hex1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      val refScores = docs.filter(hex1 < "8")
        .select(graft.extensions.TextAnalysis.qualityScore(col("text"))
          .as("score"))
      val base = ScratchDirs.tmp("qdrift", dir)
      Seq(hex1 >= "8" && hex1 < "c", hex1 >= "c")
        .zipWithIndex.foreach { case (cond, i) =>
          DocsStream.qualityDriftBatch(docs.filter(cond), i.toLong,
            refScores, s"$base/drift")
        }
      s.read.parquet(s"$base/drift")
        .select(col("batch").cast("long").as("batch"), col("bucket"),
                col("ref_n"), col("cur_n"), col("ref_p"), col("cur_p"),
                col("tv_term"), col("chi2_term"))
        .orderBy("batch", "bucket")
    }),
    // Streaming decontamination gate's batch-parity face: the documents
    // table as 3 md5-split micro-batches through the REAL decontamBatch
    // body against the static docs<5 benchmark. Stateless per batch, so
    // the accumulated flags equal the one-shot batch result — the oracle
    // is decontam_ngram's CTE verbatim.
    "stream_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") < 5)
      val hex1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      val base = ScratchDirs.tmp("decontam", dir)
      Seq(hex1 < "8", hex1 >= "8" && hex1 < "c", hex1 >= "c")
        .zipWithIndex.foreach { case (cond, i) =>
          DocsStream.decontamBatch(docs.filter(cond), i.toLong, bench,
            s"$base/flags")
        }
      s.read.parquet(s"$base/flags")
        .select("doc_id", "n_hits")
        .orderBy("doc_id")
    }),
    // Streaming mixture curation's batch-parity face: the documents
    // table as 3 doc_id%3 micro-batches through the REAL mixtureBatch
    // body — per batch the per-lang token totals join the running
    // totals artifact, the waterfill cap RE-SOLVES on the cumulative
    // frame (m-row), and the batch's docs keep at the new rates (so a
    // dominant language faces a tighter cap as it accumulates). The
    // batch split is doc_id%3, NOT an md5 prefix: the keep test reads
    // the first four md5 nibbles, and an md5-split batch would
    // correlate with it and skew the sampling. Both sinks are
    // batch-addressed overwrites; the oracle re-derives all three
    // cumulative cap solves arithmetically.
    "stream_mixture" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val base = ScratchDirs.tmp("mixstream", dir)
      (0L to 2L).foreach { b =>
        graft.streaming.DocsStream.mixtureBatch(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === b), b,
          s"$base/totals", s"$base/kept", 1L, 3L)
      }
      s.read.parquet(s"$base/kept")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("batch").cast("long").as("batch"))
        .orderBy("doc_id")
    }),
    // Streaming IVF ingest's batch-parity face: the index is FROZEN on
    // the history 3/4 of the embeddings corpus (same split and
    // deterministic centroid pick as ann_ivf_incremental); the "new"
    // 1/4 arrives as 2 micro-batches (vec_id % 8 = 3 then 7) through
    // the REAL VecsStream.ivfIngestBatch body — map-side assignment
    // lands the cell lists, and each batch's per-cell refit advisory
    // (vs the static history error profile) lands in a batch-addressed
    // partition. Stateless per batch; the oracle recomputes the whole
    // chain (centroid pick → argmin assignment → fixed-point error →
    // per-batch drift flag) arithmetically.
    "stream_ivf_ingest" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val index = Fixtures.ivfHistIndex(s, dir)
      // the frozen index's per-cell history error profile is an OFFLINE
      // artifact (computed once when the index is fitted, like the
      // centroids themselves) — k rows
      val histRows = Fixtures.value("ivf_hist_stats", dir, "embeddings")(
        graft.extensions.Ivf.cellStats(
            graft.extensions.Ivf.assign(Fixtures.historySplit(e)._1,
              "vec_id", "embedding", index),
            index)
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq)
      val histStats = {
        import s.implicits._
        histRows.toDF("cell", "n", "sum_qerr_q")
      }
      val base = ScratchDirs.tmp("ivfing", dir)
      // fresh sink dirs: correctness relies on exactly batches {0, 1}
      // existing, and batch-addressed overwrite only protects batches
      // this run writes — a past run with a different split would leave
      // stale batch=N partitions in the read-back otherwise
      Seq("lists", "advisory").foreach(d =>
        ScratchDirs.deleteRecursively(new java.io.File(s"$base/$d")))
      twoBatches(e)((batch, i) =>
        VecsStream.ivfIngestBatch(batch, i, index, histStats,
          s"$base/lists", s"$base/advisory"))
      s.read.parquet(s"$base/advisory")
        .select(col("batch").cast("long").as("batch"), col("cell"),
                col("hist_n"), col("hist_err"),
                col("batch_n"), col("batch_err"),
                col("drifted").cast("long").as("drifted"))
        .orderBy("batch", "cell")
    }),
    // Streaming ONLINE k-means: unlike stream_ivf_ingest (frozen index,
    // advisory only) the model EVOLVES across micro-batches — batch b
    // assigns under the centroids of landed state b−1 and folds its
    // exact fixed-point sums in (VecsStream.kmeansIngestBatch, the
    // streaming face of Kmeans.incrementalUpdate). Two batches
    // (vec_id % 8 = 3 then 7) over the history-trained model; the
    // oracle replays the full chain — history training, batch-0 merge,
    // batch-1 assignment under the UPDATED centroids, batch-1 merge.
    "stream_kmeans_ingest" -> kmeansIngestDemo("kmingest") { (s, dir) =>
      val m = Fixtures.kmeansModel(s, dir, hist = true)
      VecsStream.kmeansIngestBatch(_, _, m, _)
    },
    // FRAME-RESIDENT streaming online k-means: the whole lineage —
    // offline training (lloydFramed), the landed state artifact,
    // and every micro-batch update (incrementalUpdateFramed) — runs
    // without EVER collecting k·d rows to the driver (the driver-state
    // variant above reads its state back with a per-batch collect).
    // nSupers=1 keeps batch assignment exact, so the landed states
    // equal stream_kmeans_ingest's bit-for-bit and the demo answers to
    // the same evolving-state oracle.
    "stream_kmeans_ingest_framed" -> kmeansIngestDemo("kmingestf") {
      (s, dir) =>
        val state0 = Fixtures.landed("kmstate0", dir, "embeddings")(
          Kmeans.lloydFramed(
            Fixtures.historySplit(Tables.embeddings(s, dir))._1,
            "vec_id", "embedding", k = 8, rounds = 3, nSupers = 1),
          release = true)
        VecsStream.kmeansIngestBatchFramed(_, _, state0, _, "embedding",
          nSupers = 1)
    },
    // Streaming framed SemDeDup ingest (VERDICT r16 #6): new vectors
    // route into the FROZEN framed cells of the history-trained model
    // (nSupers=3 — the production routed composition), are near-dup
    // checked against the accumulated history of their own cell ONLY
    // (new-vs-history; batch 0 flags against the landed history stage,
    // batch 1 against history + batch 0 — the dedup_incremental
    // stance), and append to the cell-keyed staged lists. The oracle
    // replays the frozen routing, both batch stagings, and both flag
    // joins end-to-end.
    "stream_semdedup_ingest" -> semdedupIngestDemo("sd", (s, dir) =>
      Kmeans.Assigner.Routed(Fixtures.routing(s, dir, hist = true))),
    // THREE-LEVEL streaming SemDeDup ingest (VERDICT r17 #5): the same
    // new-vs-history contract with the frozen structure a 2M-cell
    // regime needs — a FramedRouting3 (2×2 here), so every array row
    // the ingest path joins is k^(1/3)-bounded like the batch path's.
    // The ingest tail (history listing, flag join, batch-addressed
    // idempotent sinks) is the SAME shared code as the two-level demo;
    // the oracle replays the frozen three-level routing, both batch
    // stagings through super → mid → leaf, and both flag joins.
    "stream_semdedup_ingest3" -> semdedupIngestDemo("sd3", (s, dir) =>
      Kmeans.Assigner.Routed3(Fixtures.routing3(s, dir, hist = true))),
    "stream_ingest_flags" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val hex1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      val base = ScratchDirs.tmp("ingest", dir)
      Seq(hex1 < "8", hex1 >= "8" && hex1 < "c", hex1 >= "c")
        .zipWithIndex.foreach { case (cond, i) =>
          DocsStream.flagBatch(s, docs.filter(cond), i.toLong,
            s"$base/hist", s"$base/flags", s"$base/bands",
            PipelineDemos.jaccardThreshold)
        }
      s.read.parquet(s"$base/flags")
        .select("id", "dup_of", "n_matches", "best_jaccard")
        .orderBy("id")
    }))

  /** Streaming framed-SemDeDup ingest oracle: the frozen two-level
    * routing over the HISTORY-trained model (the routed CTEs with the
    * history filter — `rv` stages the history corpus), the history
    * staging `raf` with norms, then per micro-batch the routed batch
    * staging and the within-cell NEW-vs-HISTORY cosine flag join —
    * batch i's history is raf plus the staged batches before i,
    * exactly VecsStream.semdedupIngestBatch's accumulated listing.
    */
  private def streamSemdedupOracle(k: Int, rounds: Int, nSupers: Int,
                                   mods: Seq[Long],
                                   threshold: Double): String = {
    def cosSql(a: String, b: String): String =
      s"(CASE WHEN $a.nrm > 0 AND $b.nrm > 0 " +
      s"THEN ${PipelineDemos.dotSql(s"$a.v", s"$b.v")} / ($a.nrm * $b.nrm) " +
      "ELSE 0.0 END)"
    val batchCtes = mods.zipWithIndex.map { case (m, i) =>
      val histRel = if (i == 0) "raf" else s"h$i"
      val pre =
        if (i == 0) ""
        else s"""h$i AS (SELECT id, v, cluster, nrm
           |  FROM ${if (i == 1) "raf" else s"h${i - 1}"}
           |  UNION ALL SELECT id, v, cluster, nrm FROM bst${i - 1}),
           |""".stripMargin
      pre +
      s"""bv$i AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id % 8 = $m),
         |brt$i AS (SELECT id, v, super FROM (
         |  SELECT b.id, b.v, s.super,
         |    ${PipelineDemos.kmL2Sql("b.v", "s.scv")} AS d
         |  FROM bv$i b, rpop s)
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY d, super) = 1),
         |bst$i AS MATERIALIZED (SELECT id, v, cluster,
         |    sqrt(${PipelineDemos.dotSql("v", "v")}) AS nrm FROM (
         |  SELECT t.id, t.v, c.cluster,
         |    ${PipelineDemos.kmL2Sql("t.v", "c.cv")} AS d
         |  FROM brt$i t JOIN rm ON rm.super = t.super
         |  JOIN c$rounds c ON c.cluster = rm.cluster)
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY d, cluster) = 1),
         |fl$i AS (SELECT CAST($i AS BIGINT) AS batch, b.id,
         |    min(h.id) AS dup_of, count(*) AS n_matches,
         |    max(${cosSql("b", "h")}) AS best_cos
         |  FROM bst$i b JOIN $histRel h ON h.cluster = b.cluster
         |  WHERE ${cosSql("b", "h")} >= $threshold
         |  GROUP BY b.id)""".stripMargin
    }.mkString(",\n")
    val unions = mods.indices
      .map(i => s"SELECT batch, id, dup_of, n_matches, best_cos FROM fl$i")
      .mkString(" UNION ALL ")
    s"""WITH ${PipelineDemos.routedCtes(k, rounds, nSupers,
          where = "WHERE vec_id % 4 < 3")},
       |raf AS MATERIALIZED (SELECT id, v, cluster,
       |    sqrt(${PipelineDemos.dotSql("v", "v")}) AS nrm FROM (
       |  SELECT rv.id, rv.v, c.cluster,
       |    ${PipelineDemos.kmL2Sql("rv.v", "c.cv")} AS d
       |  FROM rv JOIN rm ON rm.super = rv.super
       |  JOIN c$rounds c ON c.cluster = rm.cluster)
       |  QUALIFY row_number() OVER (PARTITION BY id
       |    ORDER BY d, cluster) = 1),
       |$batchCtes
       |SELECT batch, id, dup_of, n_matches, best_cos FROM ($unions)
       |ORDER BY batch, id""".stripMargin
  }

  /** Streaming THREE-LEVEL SemDeDup ingest oracle (r17 #5): the frozen
    * framed3 routing over the HISTORY-trained model (the framed3 CTEs
    * with the history filter — `vm` routes the history corpus through
    * super → mid), the history staging `raf3` with norms (leaf argmin
    * under `mm`), then per micro-batch the SAME two-hop route + leaf
    * staging for the batch vectors and the within-cell NEW-vs-HISTORY
    * cosine flag join — batch i's history is raf3 plus the staged
    * batches before i, exactly VecsStream.semdedupIngestBatch's
    * accumulated listing. */
  private def streamSemdedup3Oracle(k: Int, rounds: Int, nSupers: Int,
                                    nMids: Int, mods: Seq[Long],
                                    threshold: Double): String = {
    def cosSql(a: String, b: String): String =
      s"(CASE WHEN $a.nrm > 0 AND $b.nrm > 0 " +
      s"THEN ${PipelineDemos.dotSql(s"$a.v", s"$b.v")} / ($a.nrm * $b.nrm) " +
      "ELSE 0.0 END)"
    val batchCtes = mods.zipWithIndex.map { case (m, i) =>
      val histRel = if (i == 0) "raf3" else s"h$i"
      val pre =
        if (i == 0) ""
        else s"""h$i AS (SELECT id, v, cluster, nrm
           |  FROM ${if (i == 1) "raf3" else s"h${i - 1}"}
           |  UNION ALL SELECT id, v, cluster, nrm FROM bst${i - 1}),
           |""".stripMargin
      pre +
      s"""bv$i AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id % 8 = $m),
         |brt$i AS (SELECT id, v, super FROM (
         |  SELECT b.id, b.v, s.super,
         |    ${PipelineDemos.kmL2Sql("b.v", "s.scv")} AS d
         |  FROM bv$i b, rpop s)
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY d, super) = 1),
         |bmd$i AS (SELECT id, v, super, mid FROM (
         |  SELECT r.id, r.v, r.super, s.mid,
         |    ${PipelineDemos.kmL2Sql("r.v", "s.mcv")} AS d
         |  FROM brt$i r JOIN mpop s ON s.super = r.super)
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY d, mid) = 1),
         |bst$i AS MATERIALIZED (SELECT id, v, cluster,
         |    sqrt(${PipelineDemos.dotSql("v", "v")}) AS nrm FROM (
         |  SELECT t.id, t.v, c.cluster,
         |    ${PipelineDemos.kmL2Sql("t.v", "c.cv")} AS d
         |  FROM bmd$i t JOIN mm ON mm.super = t.super AND mm.mid = t.mid
         |  JOIN c$rounds c ON c.cluster = mm.cluster)
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY d, cluster) = 1),
         |fl$i AS (SELECT CAST($i AS BIGINT) AS batch, b.id,
         |    min(h.id) AS dup_of, count(*) AS n_matches,
         |    max(${cosSql("b", "h")}) AS best_cos
         |  FROM bst$i b JOIN $histRel h ON h.cluster = b.cluster
         |  WHERE ${cosSql("b", "h")} >= $threshold
         |  GROUP BY b.id)""".stripMargin
    }.mkString(",\n")
    val unions = mods.indices
      .map(i => s"SELECT batch, id, dup_of, n_matches, best_cos FROM fl$i")
      .mkString(" UNION ALL ")
    s"""WITH ${PipelineDemos.framed3Ctes(k, rounds, nSupers, nMids,
          where = "WHERE vec_id % 4 < 3")},
       |raf3 AS MATERIALIZED (SELECT id, v, cluster,
       |    sqrt(${PipelineDemos.dotSql("v", "v")}) AS nrm FROM (
       |  SELECT vm.id, vm.v, c.cluster,
       |    ${PipelineDemos.kmL2Sql("vm.v", "c.cv")} AS d
       |  FROM vm JOIN mm ON mm.super = vm.super AND mm.mid = vm.mid
       |  JOIN c$rounds c ON c.cluster = mm.cluster)
       |  QUALIFY row_number() OVER (PARTITION BY id
       |    ORDER BY d, cluster) = 1),
       |$batchCtes
       |SELECT batch, id, dup_of, n_matches, best_cos FROM ($unions)
       |ORDER BY batch, id""".stripMargin
  }

  /** Streaming online k-means oracle: the history training chain, then
    * per micro-batch an assignment CTE under the PREVIOUS state's
    * centroids and an exact fixed-point merge — the full evolving-state
    * replay of VecsStream.kmeansIngestBatch.
    */
  private def streamKmeansOracle(k: Int, rounds: Int,
                                 mods: Seq[Long]): String = {
    val histSums = s"""SELECT cluster, pos, CAST(sq AS HUGEINT) AS sq,
         |CAST(n AS HUGEINT) AS n FROM u$rounds""".stripMargin
    val batchCtes = mods.zipWithIndex.map { case (m, i) =>
      val prevCents =
        if (i == 0) s"c$rounds" else s"cm${i - 1}"
      val prevSums = if (i == 0) s"hm" else s"m${i - 1}"
      s"""b$i AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id % 8 = $m),
         |sa$i AS (SELECT id, v, cluster FROM (
         |  SELECT b$i.id, b$i.v, c.cluster,
         |    ${PipelineDemos.kmL2Sql(s"b$i.v", "c.cv")} AS d
         |  FROM b$i, $prevCents c)
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY d, cluster) = 1),
         |ub$i AS (SELECT cluster, CAST(i - 1 AS BIGINT) AS pos,
         |    SUM(CAST(floor(v[i] * 1000000.0) AS BIGINT)) AS sq,
         |    count(*) AS n
         |  FROM (SELECT cluster, v,
         |        unnest(generate_series(1, len(v))) AS i FROM sa$i)
         |  GROUP BY cluster, pos),
         |m$i AS (SELECT p.cluster, p.pos,
         |    p.sq + COALESCE(CAST(ub$i.sq AS HUGEINT), 0) AS sq,
         |    p.n + COALESCE(CAST(ub$i.n AS HUGEINT), 0) AS n
         |  FROM $prevSums p LEFT JOIN ub$i
         |    ON p.cluster = ub$i.cluster AND p.pos = ub$i.pos),
         |cm$i AS (SELECT cluster, list(CAST(sq AS DOUBLE) /
         |    (CAST(n AS DOUBLE) * 1000000.0) ORDER BY pos) AS cv
         |  FROM m$i GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    val unions = mods.indices.map { i =>
      s"""SELECT CAST($i AS BIGINT) AS batch, cluster, pos,
         |  CAST(sq AS BIGINT) AS sq, CAST(n AS BIGINT) AS n,
         |  CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS c
         |FROM m$i""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH ${PipelineDemos.kmeansCtes(k, rounds,
          where = "WHERE vec_id % 4 < 3")},
       |hm AS ($histSums),
       |$batchCtes
       |SELECT batch, cluster, pos, sq, n, c FROM ($unions)
       |ORDER BY batch, cluster, pos""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "stream_kmeans_ingest" ->
      streamKmeansOracle(k = 8, rounds = 3, mods = Seq(3L, 7L)),
    // the framed lineage at nSupers=1 lands bit-identical states —
    // the evolving-state oracle replays both variants verbatim
    "stream_kmeans_ingest_framed" ->
      streamKmeansOracle(k = 8, rounds = 3, mods = Seq(3L, 7L)),
    "stream_semdedup_ingest" ->
      streamSemdedupOracle(k = 8, rounds = 3, nSupers = 3,
        mods = Seq(3L, 7L), threshold = PipelineDemos.cosineThreshold),
    "stream_semdedup_ingest3" ->
      streamSemdedup3Oracle(k = 8, rounds = 3, nSupers = 2, nMids = 2,
        mods = Seq(3L, 7L), threshold = PipelineDemos.cosineThreshold),
    "sessionize" ->
      """WITH l AS (SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events),
        |s AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS new_session FROM l),
        |c AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM s)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM c GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    // the self-union collapses back to the plain per-type aggregate
    "stream_dedup" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    "spike_stream_batch" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |    count(*) AS n FROM events GROUP BY event_type, hour),
        |g AS (SELECT *, CASE WHEN lag(hour) OVER tw IS NULL
        |    OR hour - lag(hour) OVER tw > 168 THEN 1 ELSE 0 END AS ne
        |  FROM h WINDOW tw AS (PARTITION BY event_type ORDER BY hour)),
        |e AS (SELECT *, sum(ne) OVER (PARTITION BY event_type ORDER BY hour
        |    ROWS UNBOUNDED PRECEDING) AS epoch FROM g),
        |t AS (SELECT *,
        |    sum(n) OVER w AS sum_trail, count(n) OVER w AS n_trail
        |  FROM e WINDOW w AS (PARTITION BY event_type, epoch ORDER BY hour
        |                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour, n, CAST(sum_trail AS BIGINT) AS sum_trail,
        |  n_trail
        |FROM t WHERE n_trail > 0 AND n * n_trail > sum_trail * 2
        |ORDER BY event_type, hour""".stripMargin,
    // stateless gate: 3 micro-batches ∪ = the one-shot batch result,
    // so the oracle is decontam_ngram's CTE verbatim
    "stream_decontam" -> PipelineDemos.oracleSql("decontam_ngram"),
    // three cumulative cap solves re-derived arithmetically (the
    // waterfill CTE chain once per batch over batches <= b)
    "stream_mixture" -> PipelineDemos.streamMixtureOracle,
    // ann_ivf_drift's CTE chain with the batch side split on
    // vec_id % 8 (3 → batch 0, 7 → batch 1): the frozen history
    // centroids, argmin assignment, and fixed-point quantization error
    // are identical per batch — only the grouping key gains the batch
    // tag, exactly what the stateless per-batch advisory computes.
    "stream_ivf_ingest" ->
      s"""WITH ${PipelineDemos.normsCte},
         |nv AS (SELECT vec_id, embedding, nrm,
         |         list_transform(embedding, x -> CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE) / nrm ELSE 0.0 END) AS nvec
         |       FROM norms),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS cell,
         |           nvec AS cvec
         |         FROM nv WHERE vec_id % 4 < 3
         |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |cn AS (SELECT cell, cvec, sqrt(${PipelineDemos.dotSql("cvec", "cvec")}) AS cnrm FROM cent),
         |scored AS (SELECT nv.vec_id, cn.cell, ${PipelineDemos.dotSql("nv.nvec", "cn.cvec")} AS d
         |           FROM nv, cn),
         |ranked AS (SELECT vec_id, cell,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell DESC) AS rn
         |           FROM scored),
         |ass AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
         |qe AS (SELECT a.vec_id, a.cell,
         |         CAST(floor((1.0 - CASE WHEN n.nrm > 0 AND c.cnrm > 0
         |             THEN ${PipelineDemos.dotSql("n.embedding", "c.cvec")} / (n.nrm * c.cnrm)
         |             ELSE 0.0 END) * 1000000.0) AS BIGINT) AS qerr_q
         |       FROM ass a JOIN norms n ON n.vec_id = a.vec_id
         |       JOIN cn c ON c.cell = a.cell),
         |h AS (SELECT cell, count(*) AS n, SUM(qerr_q) AS sum_q FROM qe
         |      WHERE vec_id % 4 < 3 GROUP BY cell),
         |b AS (SELECT CAST(vec_id % 8 = 7 AS BIGINT) AS batch, cell,
         |        count(*) AS n, SUM(qerr_q) AS sum_q FROM qe
         |      WHERE vec_id % 4 = 3 GROUP BY batch, cell)
         |SELECT b.batch, b.cell, COALESCE(h.n, 0) AS hist_n,
         |  CAST(COALESCE(h.sum_q, 0) AS DOUBLE)
         |    / (CAST(GREATEST(COALESCE(h.n, 0), 1) AS DOUBLE) * 1000000.0) AS hist_err,
         |  b.n AS batch_n,
         |  CAST(b.sum_q AS DOUBLE) / (CAST(b.n AS DOUBLE) * 1000000.0) AS batch_err,
         |  CAST(COALESCE(h.n, 0) = 0
         |    OR CAST(b.sum_q AS DOUBLE) / (CAST(b.n AS DOUBLE) * 1000000.0)
         |       > CAST(COALESCE(h.sum_q, 0) AS DOUBLE)
         |         / (CAST(GREATEST(COALESCE(h.n, 0), 1) AS DOUBLE) * 1000000.0) * 1.5
         |    AS BIGINT) AS drifted
         |FROM b LEFT JOIN h ON h.cell = b.cell
         |ORDER BY b.batch, b.cell""".stripMargin,
    // both micro-batches' drift spines recomputed end-to-end against the
    // md5-smallest-half reference (same arithmetic as quality_drift)
    "stream_quality_drift" ->
      s"""WITH scores AS (${PipelineDemos.oracleSqlQualityScore}),
         |lbl AS (SELECT doc_id, score,
         |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
         |        FROM scores),
         |bk AS (SELECT h,
         |         CAST(least(greatest(floor(score * 10), 0.0), 9.0) AS BIGINT) AS bucket
         |       FROM lbl),
         |r AS (SELECT bucket, count(*) AS ref_n FROM bk WHERE h < '8' GROUP BY bucket),
         |c0 AS (SELECT bucket, count(*) AS cur_n FROM bk
         |       WHERE h >= '8' AND h < 'c' GROUP BY bucket),
         |c1 AS (SELECT bucket, count(*) AS cur_n FROM bk WHERE h >= 'c' GROUP BY bucket),
         |sp AS (SELECT unnest(generate_series(0, 9)) AS bucket),
         |j0 AS (SELECT sp.bucket, COALESCE(r.ref_n, 0) AS ref_n,
         |         COALESCE(c0.cur_n, 0) AS cur_n
         |       FROM sp LEFT JOIN r ON r.bucket = sp.bucket
         |       LEFT JOIN c0 ON c0.bucket = sp.bucket),
         |j1 AS (SELECT sp.bucket, COALESCE(r.ref_n, 0) AS ref_n,
         |         COALESCE(c1.cur_n, 0) AS cur_n
         |       FROM sp LEFT JOIN r ON r.bucket = sp.bucket
         |       LEFT JOIN c1 ON c1.bucket = sp.bucket),
         |p0 AS (SELECT bucket, ref_n, cur_n,
         |         CAST(ref_n + 1 AS DOUBLE) / CAST(SUM(ref_n) OVER () + 10 AS DOUBLE) AS ref_p,
         |         CAST(cur_n + 1 AS DOUBLE) / CAST(SUM(cur_n) OVER () + 10 AS DOUBLE) AS cur_p
         |       FROM j0),
         |p1 AS (SELECT bucket, ref_n, cur_n,
         |         CAST(ref_n + 1 AS DOUBLE) / CAST(SUM(ref_n) OVER () + 10 AS DOUBLE) AS ref_p,
         |         CAST(cur_n + 1 AS DOUBLE) / CAST(SUM(cur_n) OVER () + 10 AS DOUBLE) AS cur_p
         |       FROM j1),
         |u AS (SELECT CAST(0 AS BIGINT) AS batch, * FROM p0
         |      UNION ALL SELECT CAST(1 AS BIGINT) AS batch, * FROM p1)
         |SELECT batch, bucket, ref_n, cur_n, ref_p, cur_p,
         |  abs(ref_p - cur_p) * 0.5 AS tv_term,
         |  (cur_p - ref_p) * (cur_p - ref_p) / ref_p AS chi2_term
         |FROM u ORDER BY batch, bucket""".stripMargin,
    "stream_ingest_flags" ->
      s"""WITH ${PipelineDemos.lshCtes},
         |c1 AS (SELECT DISTINCT n.doc_id AS id, h.doc_id AS hist_id
         |       FROM bands n JOIN bands h USING (band)
         |       WHERE substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 1) >= '8'
         |         AND substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 1) < 'c'
         |         AND substr(md5(CAST(h.doc_id AS VARCHAR)), 1, 1) < '8'),
         |c2 AS (SELECT DISTINCT n.doc_id AS id, h.doc_id AS hist_id
         |       FROM bands n JOIN bands h USING (band)
         |       WHERE substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 1) >= 'c'
         |         AND substr(md5(CAST(h.doc_id AS VARCHAR)), 1, 1) < 'c'),
         |cands AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
         |${PipelineDemos.incrementalFlagTail}""".stripMargin,
    // epoch_us on both sides of the condition: Spark compares at its
    // native µs precision (ts already ns→µs truncated), so the oracle
    // must too — raw TIMESTAMP_NS comparison could flip a boundary pair
    "stream_stream_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, purchase_id, view_id, p_us - v_us AS lag_us
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v_us <= p_us AND v_us >= p_us - 3600000000
        |ORDER BY purchase_id, view_id""".stripMargin)
}
