package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import graft.extensions.{Ivf, Kmeans, Pq}
import graft.tables.{ScratchDirs, Tables}

/** The demo registry's once-per-corpus artifacts — indexes, models,
  * merge lists, sketches, landed frames — behind ONE store, the demo
  * side of the pipeline's one offline artifact (the stage-1
  * checkpoint, `Sinks.writeCheckpoint`).
  *
  * A fixture is keyed by its name plus [[Tables.contentStamp]] of the
  * tables it derives from, so a testdata rewrite at the same dir starts
  * a fresh entry instead of serving an index fitted to data that no
  * longer exists (the oracle always recomputes from the files on disk).
  * Each entry is built once per process: concurrent first touches of
  * one key wait on the same slot while unrelated keys build in
  * parallel. Builders derive purely from the stamped tables, so every
  * entry is deterministic per corpus.
  *
  * Two forms: a value fixture ([[value]], [[valid]]) holds a driver-side
  * object; a frame fixture ([[landed]], [[frame]]) lands a derived frame
  * as parquet once and is read back as a plain file scan — an elastic
  * lineage cut (pages in only the pruned columns, survives an executor
  * restart) where an eager localCheckpoint would pin the whole
  * intermediate in executor storage memory for the session.
  */
object Fixtures {
  private final class Slot { var value: Option[Any] = None }
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  /** The value fixture `name` over `tables` of corpus `dir`. */
  def value[V](name: String, dir: String, tables: String*)(build: => V): V =
    valid[V](name, dir, tables: _*)(_ => true)(build)

  /** [[value]] whose stored entry must also pass `ok` to be reused — for
    * values naming session-scoped state (a routing's member frame, a
    * catalog table name) that a later SparkSession in the same process
    * won't have, while the content stamp still matches.
    */
  def valid[V](name: String, dir: String, tables: String*)(
      ok: V => Boolean)(build: => V): V = {
    val key = (name +: tables.map(Tables.contentStamp(dir, _))).mkString(";")
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      slot.value.map(_.asInstanceOf[V]).filter(ok).getOrElse {
        val v = build
        slot.value = Some(v)
        v
      }
    }
  }

  /** The frame fixture `name`: `build` lands once per stamp under the
    * fixture's per-(corpus, pid) scratch dir, partitioned by
    * `partitionBy`. `release` unpersists the built frame once landed —
    * for builders that hand back a frame they persisted themselves (a
    * frame equal to a session cache entry someone else owns must keep
    * it). Returns the landed path.
    */
  def landed(name: String, dir: String, tables: String*)(
      build: => DataFrame, partitionBy: Seq[String] = Nil,
      release: Boolean = false): String =
    value(name, dir, tables: _*) {
      val path = ScratchDirs.tmp(name, dir)
      val df = build
      df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)
      if (release) df.unpersist(false)
      path
    }

  /** [[landed]], read back. */
  def frame(name: String, s: SparkSession, dir: String, tables: String*)(
      build: => DataFrame, partitionBy: Seq[String] = Nil,
      release: Boolean = false): DataFrame =
    s.read.parquet(landed(name, dir, tables: _*)(build, partitionBy, release))

  // ---- fixtures shared by several demos ----

  /** The `vec_id % 4` split of an embeddings frame: the history (residues
    * 0–2) an incremental index or model is frozen on, and the new batch
    * (residue 3) appended to it. */
  def historySplit(e: DataFrame): (DataFrame, DataFrame) = {
    val r = pmod(col("vec_id"), lit(4L))
    (e.filter(r < 3L), e.filter(r === 3L))
  }

  private def history(s: SparkSession, dir: String): DataFrame =
    historySplit(Tables.embeddings(s, dir))._1

  /** The 8-cell deterministic IVF coarse quantizer over the full corpus. */
  def ivfIndex(s: SparkSession, dir: String): Ivf.IvfIndex =
    value("ivf", dir, "embeddings")(Ivf.trainDeterministic(
      Tables.embeddings(s, dir), "vec_id", "embedding", k = 8))

  /** The same quantizer frozen on the history split. */
  def ivfHistIndex(s: SparkSession, dir: String): Ivf.IvfIndex =
    value("ivf_hist", dir, "embeddings")(Ivf.trainDeterministic(
      history(s, dir), "vec_id", "embedding", k = 8))

  /** 4 × 16 L2 PQ codebooks over the full corpus. */
  def pqIndex(s: SparkSession, dir: String): Pq.PqIndex =
    value("pq", dir, "embeddings")(Pq.trainDeterministic(
      Tables.embeddings(s, dir), "vec_id", "embedding", m = 4, nCodes = 16))

  /** 16 × 64 cosine-metric PQ codebooks (trained on normalized vectors). */
  def pqCosIndex(s: SparkSession, dir: String): Pq.PqIndex =
    value("pq_cos", dir, "embeddings")(Pq.trainDeterministicCosine(
      Tables.embeddings(s, dir), "vec_id", "embedding", m = 16, nCodes = 64))

  /** 4 × 16 PQ codebooks frozen on the history split. */
  def pqHistIndex(s: SparkSession, dir: String): Pq.PqIndex =
    value("pq_hist", dir, "embeddings")(Pq.trainDeterministic(
      history(s, dir), "vec_id", "embedding", m = 4, nCodes = 16))

  /** The k = 8, 3-round Lloyd model over the full corpus, or over the
    * history split when `hist`. */
  def kmeansModel(s: SparkSession, dir: String,
                  hist: Boolean = false): Kmeans.KmeansModel =
    value(if (hist) "kmeans_hist" else "kmeans", dir, "embeddings")(
      Kmeans.lloyd(if (hist) history(s, dir) else Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, rounds = 3))

  /** Two-level frame-resident routing (3 supers) over [[kmeansModel]].
    * It holds a member DataFrame, so reuse is gated on the session still
    * being the one that built it. */
  def routing(s: SparkSession, dir: String,
              hist: Boolean = false): Kmeans.FramedRouting =
    valid(if (hist) "routing_hist" else "routing", dir, "embeddings")(
        (r: Kmeans.FramedRouting) => r.members.sparkSession eq s)(
      Kmeans.framedRoutingFor(
        Kmeans.lastCentroidsFrame(s, kmeansModel(s, dir, hist)),
        "cluster", "cv", nSupers = 3))

  /** Three-level routing (2 supers × 2 mids) over [[kmeansModel]],
    * session-gated like [[routing]]. */
  def routing3(s: SparkSession, dir: String,
               hist: Boolean = false): Kmeans.FramedRouting3 =
    valid(if (hist) "routing3_hist" else "routing3", dir, "embeddings")(
        (r: Kmeans.FramedRouting3) => r.members.sparkSession eq s)(
      Kmeans.framedRoutingFor3(
        Kmeans.lastCentroidsFrame(s, kmeansModel(s, dir, hist)),
        "cluster", "cv", nSupers = 2, nMids = 2))
}
