package graft.extensions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic distributed Lloyd k-means — the clustering primitive
  * semantic data curation is built on (SemDeDup-style cluster-then-
  * prune, coarse-quantizer training, curriculum grouping). The engine
  * already USES k-means in two guises — MLlib's sampled fit for IVF
  * index quality ([[Ivf.train]]) and the md5-seeded no-iteration
  * quantizer ([[Ivf.trainDeterministic]]) — but neither exposes the
  * Lloyd iteration itself as an oracle-checkable operator. This one
  * does, the same way [[Bpe.mergeTable]] exposes tokenizer training:
  * every round is exact, engine-independent arithmetic, so an
  * independent SQL engine reproduces the full training trajectory
  * bit-for-bit.
  *
  * Determinism contract (the same three tricks the ANN/centroid
  * family already relies on):
  *  - init: centroids are the vectors of the k smallest ids — no RNG;
  *  - distances: squared L2 as a SEQUENTIAL left-to-right double fold
  *    over dims (matches DuckDB `list_reduce`; 0.0 + x ≡ x in IEEE),
  *    ties argmin to the smaller cluster id;
  *  - updates: per-dim means in fixed point — sum of floor(v·1e6)
  *    longs divided by (n·1e6) — so the distributed sum is
  *    order-independent and the new centroid is the same double on
  *    any cluster layout or engine.
  *
  * Scale shape per round: assignment is MAP-SIDE — the k·d centroid
  * matrix rides into the executors as literals (broadcast semantics,
  * ~4 KB at k=8, d=64; a production k in the thousands would move it
  * to an explicit broadcast join, same plan) and the argmin is one
  * pass over a k-element literal array per row, no shuffle, no
  * candidate explosion. The ONLY shuffle is the centroid update: a
  * posexplode to (cluster, pos, q) rows map-side-combined onto k·d
  * keys (512 at the demo shape) — the exchange carries k·d rows per
  * partition regardless of corpus size. Driver state per round is the
  * k·d quantized-sum table (bounded by construction, the same
  * index-build stance as [[Ivf.trainDeterministic]]'s k-row collect).
  * The corpus is re-read once per round — inherent to Lloyd — so the
  * prepped frame persists for the duration and unpersists in finally.
  *
  * Empty clusters (possible once centroids migrate) drop out of the
  * update groupBy on both engines identically; later rounds simply
  * carry fewer centroids.
  */
object Kmeans {

  /** One trained model: per-round centroids (exact doubles), the
    * per-round quantized inertia, and the FINAL round's exact
    * fixed-point sums. `centroids(r)` is the table AFTER update round
    * r+1, sorted by cluster id; `inertiaQ(r)` is Σ floor(min-dist·1e6)
    * under the round-r assignment (i.e. against the PREVIOUS round's
    * centroids) — the convergence curve. `sums` is (cluster, per-dim
    * quantized-long sums, n) behind `last` — the rational the doubles
    * were divided from, carried so [[incrementalUpdate]] can fold a
    * new batch in EXACTLY without re-reading history.
    *
    * Alignment contract: after [[lloyd]], `centroids.length ==
    * inertiaQ.length` and index r of each pairs up. An online merge
    * ([[incrementalUpdate]]) appends a centroid generation WITHOUT an
    * inertiaQ entry — no assignment sweep over history happens, so
    * there is no inertia to report; consumers pairing the two
    * trajectories must zip up to `inertiaQ.length` (the training
    * prefix) and treat later generations as online state.
    */
  final case class KmeansModel(centroids: Vector[Array[(Int, Array[Double])]],
                               inertiaQ: Vector[Long],
                               sums: Array[(Int, Array[Long], Long)]) {
    def last: Array[(Int, Array[Double])] = centroids.last
  }

  /** centroid doubles from the exact (sq, n) rationals */
  private def centsOf(sums: Array[(Int, Array[Long], Long)])
      : Array[(Int, Array[Double])] =
    sums.map { case (cid, sq, n) =>
      cid -> sq.map(_.toDouble / (n.toDouble * Q))
    }

  private val Q = 1e6

  /** (best-cluster, best-dist) against the centroid table: the native
    * codegen'd kernel (graft.functions.NearestCentroid) — one generated
    * static call regardless of k. Semantics are exactly the composed
    * `array_min(array(k × struct(aggregate(zip_with((x−c)²)), id)))`:
    * the same sequential left-to-right double fold per centroid (the
    * bit-for-bit mirror of the oracle's list_reduce) and the same
    * (d, cluster) argmin order with ties to the smaller cluster id
    * (QuantSpec pins the equivalence). The composed form's generated
    * code grew with k — fine at the demo k=8, fatal at the
    * thousands-of-cells a production SemDeDup k needs.
    */
  private def argminStruct(vec: Column,
                           cents: Array[(Int, Array[Double])]): Column = {
    // Loud-failure guard (the Mixture null-cell stance): NearestCentroid
    // returns null for a vector whose length differs from the centroid
    // dimension, and a null best-struct would otherwise flow silently —
    // into the update agg as an unboxed cluster 0 (corrupting that
    // centroid and, via the dim probe, the whole next round), or out of
    // nearDupPairs as a null cell that just joins nothing. Raise
    // instead; map-side cost is one null check per row.
    val b = graft.functions.NearestCentroid(vec, cents)
    when(b.isNull, raise_error(lit(
      "Kmeans: vector length != centroid dimension — ragged vectors " +
      "would silently corrupt centroid sums; filter or fix them first")))
      .otherwise(b)
  }

  /** Train up to `rounds` Lloyd iterations over `vecs(idCol, vecCol)`
    * with k = the vectors of the k smallest ids as initial centroids.
    * Returns the full trajectory (see [[KmeansModel]]). Each round is
    * one Spark job: map-side assign + k·d-key update + bounded
    * (k·d + 1)-row collect.
    *
    * EXACT convergence early-stop: after round r ≥ 2, training stops
    * once the quantized-inertia improvement `inertiaQ(r-1) − inertiaQ(r)`
    * is ≤ `tolQ` (round r itself is kept — its inertia was measured, so
    * the trajectory ends on the round that proved convergence). The
    * criterion runs on the exact longs BOTH engines compute, so an
    * independent SQL oracle replays the stop decision bit-for-bit — no
    * epsilon, no float drift. `tolQ = 0` stops only on a fully-stalled
    * (or quantization-noise negative) improvement; `tolQ < 0` (the
    * default) never stops early. Each skipped round is one corpus
    * assignment pass + one k·d shuffle that never runs.
    */
  def lloyd(vecs: DataFrame, idCol: String, vecCol: String,
            k: Int, rounds: Int, tolQ: Long = -1L): KmeansModel = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val prepped = vecs
      .select(col(idCol).as("id"),
              col(vecCol).cast("array<double>").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // init: k smallest ids, k bounded rows to the driver (the
      // Ivf.trainDeterministic index-build stance)
      var cents: Array[(Int, Array[Double])] =
        prepped.orderBy("id").limit(k).collect().zipWithIndex.map {
          case (r, i) => i -> r.getSeq[Double](1).toArray
        }
      var centTrail = Vector.empty[Array[(Int, Array[Double])]]
      var inertiaTrail = Vector.empty[Long]
      var lastSums = Array.empty[(Int, Array[Long], Long)]
      var converged = false
      for (_ <- 1 to rounds if !converged) {
        val assigned = prepped
          .select(col("id"), col("v"),
                  argminStruct(col("v"), cents).as("best"))
          .select(col("id"), col("v"),
                  col("best.cluster").as("cluster"),
                  floor(col("best.d") * Q).cast("long").as("dq"))
        // ONE aggregation computes both the k·d quantized dim sums and
        // the inertia (grouping-key trick: pos = -1 carries the
        // per-row min-dist mass so the round stays a single job).
        // Both long masses aggregate in DECIMAL(38,0) and downcast with
        // longValueExact — the incrementalUpdate overflow stance applied
        // to TRAINING too (a plain LongType sum wraps silently at
        // ~9.2e18 quanta per (cluster, dim) while the SQL oracle's
        // HUGEINT stays exact; the trained model would carry garbage
        // into the guarded incremental path).
        val upd = assigned
          .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")),
                  col("dq"))
          .select(col("cluster"), col("pos"),
                  floor(col("x") * Q).cast("long").as("q"),
                  when(col("pos") === 0, col("dq")).otherwise(lit(0L))
                    .as("dq0"))
          .groupBy("cluster", "pos")
          .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
               count(lit(1)).as("n"),
               sum(col("dq0").cast("decimal(38,0)")).as("sdq"))
          .collect()
        inertiaTrail :+= upd.filter(_.getInt(1) == 0)
          .map(_.getDecimal(4).toBigInteger.longValueExact())
          .foldLeft(0L)(Math.addExact)
        lastSums = upd.groupBy(_.getInt(0)).toArray.sortBy(_._1).map {
          case (cid, rows) =>
            val dim = rows.map(_.getInt(1)).max + 1
            val sq = new Array[Long](dim)
            rows.foreach(r => sq(r.getInt(1)) =
              r.getDecimal(2).toBigInteger.longValueExact())
            (cid, sq, rows.head.getLong(3))
        }
        cents = centsOf(lastSums)
        centTrail :+= cents
        if (tolQ >= 0 && inertiaTrail.length >= 2 &&
            inertiaTrail(inertiaTrail.length - 2) -
              inertiaTrail.last <= tolQ)
          converged = true
      }
      KmeansModel(centTrail, inertiaTrail, lastSums)
    } finally prepped.unpersist(false)
  }

  /** Online (mini-batch) k-means update — the incremental-family
    * contract ([[lloyd]] trains offline; this folds a NEW batch into a
    * trained model without re-reading history). Semantics, stated
    * exactly: history rows keep the assignment they had when last
    * summed (the final training round's), batch rows assign under the
    * CURRENT centroids, and the new centroid is the exact rational
    * mean over both — the model's carried fixed-point sums make the
    * merge bit-reproducible on any engine. This is the standard online
    * k-means estimator (each point contributes where it stood when
    * last seen), NOT a fresh Lloyd round over the union — a full refit
    * is a retrain, the same stance as Ivf.appendAssign vs refit.
    *
    * Cost: one map-side batch assignment + one k·d-key shuffle +
    * one bounded k·d collect; history is untouched. An empty batch
    * returns the model's centroids bit-for-bit. Appends a centroid
    * generation WITHOUT an inertiaQ entry (see the [[KmeansModel]]
    * alignment contract).
    *
    * Exactness at scale: the batch's quantized dim sums aggregate in
    * DECIMAL(38,0) (no silent long wraparound — the AggOps.exactSum
    * stance) and downcast with `longValueExact`; the history merge
    * adds with `Math.addExact`. A corpus big enough to overflow the
    * carried longs (~9.2e18 quanta per (cluster, dim)) fails LOUDLY on
    * both paths instead of wrapping to a garbage centroid while the
    * SQL oracle's HUGEINT arithmetic silently stays exact.
    */
  def incrementalUpdate(model: KmeansModel, batch: DataFrame,
                        vecCol: String): KmeansModel = {
    val upd = batch
      .select(col(vecCol).cast("array<double>").as("v"))
      .select(col("v"),
              argminStruct(col("v"), model.last)
                .getField("cluster").as("cluster"))
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("cluster"), col("pos"),
              floor(col("x") * Q).cast("long").as("q"))
      .groupBy("cluster", "pos")
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
           count(lit(1)).as("n"))
      .collect()
    val bsums: Map[Int, (Array[Long], Long)] =
      upd.groupBy(_.getInt(0)).map { case (cid, rows) =>
        val dim = rows.map(_.getInt(1)).max + 1
        val sq = new Array[Long](dim)
        rows.foreach(r => sq(r.getInt(1)) =
          r.getDecimal(2).toBigInteger.longValueExact())
        cid -> (sq, rows.head.getLong(3))
      }
    // batch clusters are a subset of the model's (assignment can only
    // pick existing centroids), so the merged key set is the model's
    val merged = model.sums.map { case (cid, sq, n) =>
      bsums.get(cid) match {
        case Some((bsq, bn)) =>
          require(bsq.length == sq.length,
            s"Kmeans.incrementalUpdate: dim mismatch on cluster $cid")
          (cid, sq.zip(bsq).map { case (a, b) => Math.addExact(a, b) },
           Math.addExact(n, bn))
        case None => (cid, sq, n)
      }
    }
    KmeansModel(model.centroids :+ centsOf(merged),
                model.inertiaQ, merged)
  }

  /** FRAME-RESIDENT online update — [[incrementalUpdate]] without the
    * k·d driver state: `state` is the (cluster, pos, sq, n) fixed-
    * point frame (a landed [[stateFrame]]/[[lloydFramed]] artifact),
    * the batch assigns under the state's centroids through
    * [[Assigner.Routed]], and the merge is one (cluster, pos)-
    * keyed left join — the driver never touches a centroid. With
    * `nSupers = 1` the batch assignment is the exact argmin and the
    * result equals [[incrementalUpdate]] bit-for-bit (ExtensionsSpec
    * pins it); with nSupers ≈ √k each batch pays the routed flop
    * count — the same documented trade as [[Assigner.Routed]].
    *
    * Exactness: batch sums aggregate in DECIMAL(38,0); the merge adds
    * in decimal and downcasts with the loud overflow guard — the
    * frame form of longValueExact + Math.addExact.
    *
    * @return the merged (cluster, pos, sq, n, c) state frame
    */
  def incrementalUpdateFramed(state: DataFrame, batch: DataFrame,
                              vecCol: String, nSupers: Int): DataFrame = {
    // nSupers == 1 (the EXACT-assignment mode every declared streaming/
    // incremental demo runs): routing is the identity grouping — every
    // cluster lives in the single super — so deriving it per batch
    // (framedRoutingFor: a centroid-frame count, a 1-round Lloyd over
    // the k centroid rows, a membership collect — ~4 k-row jobs EVERY
    // micro-batch) is pure waste. The batch argmins directly over ONE
    // sorted member array built from the state centroids: the same
    // array_sort(collect_list(struct(cluster, cv))) row memberArrays
    // builds, the same NearestCentroidIn fold (seed from member 0,
    // strict < walking ascending cluster ids), so the assignment is
    // bit-equal to the routed path (ExtensionsSpec pins framed == exact
    // at nSupers = 1). The ragged-vector guard sits on the fold
    // result, which is null exactly on a dimension mismatch.
    // nSupers > 1 keeps the per-batch derivation: the routing must
    // track the EVOLVING centroids of state b−1 (freezing it would
    // change which super a vector probes, i.e. the documented
    // approximation contract), so it cannot be carried across batches.
    val assigned =
      if (nSupers == 1) {
        val marr = centroidsOf(state)
          .groupBy()
          .agg(array_sort(collect_list(struct(col("cluster"), col("cv"))))
            .as("marr"))
        val best = graft.functions.NearestCentroidIn(col("v"), col("marr"))
        batch.select(col(vecCol).cast("array<double>").as("v"))
          .crossJoin(broadcast(marr))
          .select(col("v"),
            when(best.isNull, raise_error(lit(
              "Kmeans: vector length != centroid dimension — ragged " +
              "vectors would silently corrupt centroid sums; filter " +
              "or fix them first")))
              .otherwise(best).getField("cluster").as("cluster"))
      } else {
        val routing = framedRoutingFor(centroidsOf(state), "cluster",
          "cv", nSupers)
        // the row id plays no part in the update aggregation — a
        // constant satisfies the decide signature without inventing
        // per-row ids
        decide(batch.select(lit(0L).as("_bid"), col(vecCol).as("_v")),
          "_bid", "_v", Assigner.Routed(routing))
      }
    val bsums = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("cluster"), col("pos").cast("long").as("pos"),
              floor(col("x") * Q).cast("long").as("q"))
      .groupBy("cluster", "pos")
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq_b"),
           count(lit(1)).as("n_b"))
    // batch clusters are a subset of the state's (assignment can only
    // pick existing centroids): LEFT join keeps the full key set
    state.select(col("cluster"), col("pos"), col("sq"), col("n"))
      .join(bsums, Seq("cluster", "pos"), "left")
      .select(col("cluster"), col("pos"),
        (col("sq").cast("decimal(38,0)") +
          coalesce(col("sq_b"), lit(0).cast("decimal(38,0)"))).as("sq"),
        (col("n") + coalesce(col("n_b"), lit(0L))).as("n"))
      .select(col("cluster"), col("pos"),
        sqExactLong("incrementalUpdateFramed").as("sq"), col("n"))
      .withColumn("c", col("sq").cast("double") /
        (col("n").cast("double") * lit(Q)))
  }

  /** The model's exact fixed-point state as a frame — (cluster, pos,
    * c, n): the centroid value and the member count it averages. The
    * incremental demo's comparable output. */
  def sumsFrame(spark: org.apache.spark.sql.SparkSession,
                model: KmeansModel): DataFrame =
    stateFrame(spark, model).select("cluster", "pos", "c", "n")

  /** The model's FULL restorable state — (cluster, pos, sq, n, c):
    * the exact quantized-long sums (not just their double quotient),
    * so a landed artifact round-trips through [[modelFromSums]] with
    * zero loss. The streaming ingest's per-batch state sink. */
  def stateFrame(spark: org.apache.spark.sql.SparkSession,
                 model: KmeansModel): DataFrame = {
    import spark.implicits._
    model.sums.toSeq.flatMap { case (cid, sq, n) =>
      sq.toSeq.zipWithIndex.map { case (s, pos) =>
        (cid, pos.toLong, s, n, s.toDouble / (n.toDouble * Q))
      }
    }.toDF("cluster", "pos", "sq", "n", "c")
  }

  /** Rebuild a (single-generation) model from carried sums — the
    * read-back path for landed state artifacts. */
  def modelFromSums(sums: Array[(Int, Array[Long], Long)]): KmeansModel =
    KmeansModel(Vector(centsOf(sums)), Vector.empty, sums)

  /** Parse a [[stateFrame]] read-back into carried sums. Bounded by
    * k·d rows by construction. */
  def sumsFromStateRows(rows: Array[org.apache.spark.sql.Row])
      : Array[(Int, Array[Long], Long)] =
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map {
      case (cid, rs) =>
        val dim = rs.map(_.getLong(1).toInt).max + 1
        val sq = new Array[Long](dim)
        rs.foreach(r => sq(r.getLong(1).toInt) = r.getLong(2))
        (cid, sq, rs.head.getLong(3))
    }

  /** The per-round centroid trajectory as a long-format frame —
    * (round, cluster, pos, c) — the training artifact, directly
    * comparable to the oracle's chained-CTE reproduction. */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                    model: KmeansModel): DataFrame = {
    import spark.implicits._
    model.centroids.zipWithIndex.flatMap { case (cents, r) =>
      cents.toSeq.flatMap { case (cid, cv) =>
        cv.toSeq.zipWithIndex.map { case (c, pos) =>
          (r + 1, cid, pos.toLong, c)
        }
      }
    }.toDF("round", "cluster", "pos", "c")
  }

  /** The per-round quantized inertia curve (round, inertia_q) —
    * Σ floor(min-dist·1e6) under each round's assignment. Exact longs,
    * so the convergence curve is engine-comparable. */
  def inertiaFrame(spark: org.apache.spark.sql.SparkSession,
                   model: KmeansModel): DataFrame = {
    import spark.implicits._
    model.inertiaQ.zipWithIndex
      .map { case (iq, r) => (r + 1, iq) }
      .toDF("round", "inertia_q")
  }

  /** How a vector picks its centroid — the ONE assignment abstraction
    * behind [[assign]], [[semStage]] and [[nearDupPairs]] (and the
    * framed training/update paths).
    *
    *  - [[Assigner.Exact]]: the argmin over the model's final centroids
    *    (n·k·d flops, the k·d table rides the plan as literals).
    *  - [[Assigner.Routed]]: two-level frame-resident routing — the
    *    large-k scale path. Each vector routes to its `nProbe` nearest
    *    supers (√k literals) and argmins over the UNION of those supers'
    *    member centroids, which stay a DataFrame (~n·(√k + nProbe·√k)·d
    *    flops, no k·d driver or plan state).
    *  - [[Assigner.Routed3]]: three-level routing — supers, then the
    *    `nProbe` nearest mids per probed super, then the leaf members;
    *    every joined array row is O(k^(1/3)·d).
    *
    * Approximation contract, stated exactly: a routed decision differs
    * from Exact precisely when a vector's true nearest centroid lives
    * outside every probed cell (the IVF nProbe trade). Every step is
    * deterministic — sequential-fold distances, (d, cluster) argmin
    * order with ties to the smaller id, fixed-point routing training —
    * so an independent SQL engine replays the whole decision
    * bit-for-bit. Probing every populated cell recovers the exact
    * argmin.
    */
  sealed trait Assigner
  object Assigner {
    final case class Exact(model: KmeansModel) extends Assigner
    final case class Routed(routing: FramedRouting, nProbe: Int = 1)
        extends Assigner {
      require(nProbe >= 1, "nProbe must be >= 1")
    }
    final case class Routed3(routing: FramedRouting3, nProbe: Int = 1)
        extends Assigner {
      require(nProbe >= 1, "nProbe must be >= 1")
    }
  }

  /** Assignment under `by`: (id, cluster, dq) per vector — plus `super`
    * for [[Assigner.Routed]] and `super, mid` for [[Assigner.Routed3]]
    * (the probed cell the winning centroid belongs to). The quantized
    * distance keeps the output engine-exact. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
             by: Assigner): DataFrame =
    decide(vecs, idCol, vecCol, by).drop("v")

  /** The staged SemDeDup frame — (id, v, nrm, cluster, dq) under `by`:
    * ONE corpus scan + argmin feeds BOTH the within-cell pair search
    * ([[pairsOf]]) and the farthest-from-centroid keep rule (VERDICT
    * r16 #2: the prune demos used to re-assign the whole corpus a
    * second time just to recover `dq`). Persisted for the session (the
    * Ivf.nearDupPairs cache stance: CacheManager dedups repeat calls,
    * clearCache() reclaims between corpora) — every downstream consumer
    * reads the cache, so the assignment scan runs exactly once.
    */
  def semStage(vecs: DataFrame, idCol: String, vecCol: String,
               by: Assigner): DataFrame =
    decide(vecs, idCol, vecCol, by)
      .select(col("id"), col("v"), Similarity.norm(col("v")).as("nrm"),
              col("cluster"), col("dq"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Within-cluster exact-cosine near-dup pairs over the cells `by`
    * assigns — the candidate generator of SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540): duplicates are only searched INSIDE a semantic
    * cluster, so candidate volume is Σ|cell|² instead of n² (with k
    * grown ∝ n, cell sizes — and the per-cell quadratic — stay
    * bounded; the paper uses the same argument). Under a routed
    * assigner a pair is missed iff routing SPLITS it across cells
    * where exact assignment co-located it (SCALECURVE §12 measures
    * that recall on planted twins). Prefer [[semStage]] + [[pairsOf]]
    * when the keep rule also needs the distances — this convenience
    * form builds (and caches) the same staged frame.
    */
  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                   by: Assigner, threshold: Double): DataFrame =
    pairsOf(semStage(vecs, idCol, vecCol, by), threshold)

  /** The one decide step: (id, v, cluster, dq[, super[, mid]]). */
  private def decide(vecs: DataFrame, idCol: String, vecCol: String,
                     by: Assigner): DataFrame = {
    val prepped = vecs.select(col(idCol).as("id"),
                              col(vecCol).cast("array<double>").as("v"))
    val (best, cell) = by match {
      case Assigner.Exact(model) =>
        (prepped.select(col("id"), col("v"),
           argminStruct(col("v"), model.last).as("best")), Nil)
      case Assigner.Routed(routing, nProbe) =>
        (routedBest(prepped, routing, nProbe), Seq("super"))
      case Assigner.Routed3(routing, nProbe) =>
        (routed3Best(prepped, routing, nProbe), Seq("super", "mid"))
    }
    best.select(Seq(col("id"), col("v"), col("best.cluster").as("cluster"),
        floor(col("best.d") * lit(Q)).cast("long").as("dq")) ++
      cell.map(c => col(s"best.$c").as(c)): _*)
  }

  /** The multi-probe twin of [[argminStruct]]'s loud-failure guard:
    * NearestCentroids returns null for a ragged vector, and a null
    * probe array would silently null every slot out of the cross-slot
    * least — raise instead. */
  private def probesGuard(probes: Column): Column =
    when(probes.isNull, raise_error(lit(
      "Kmeans: vector length != centroid dimension — ragged vectors " +
      "would silently drop out of the routed assignment; filter or " +
      "fix them first")))
      .otherwise(probes)

  /** The cross-slot decision: `least` by the slot structs' leading
    * (d, cluster) fields. Spark's `least` needs two arguments, so a
    * single probe slot is its own answer. */
  private def leastOf(slots: Seq[Column]): Column =
    if (slots.size == 1) slots.head else least(slots: _*)

  /** (super, marr): each populated super's member centroids as ONE
    * array row sorted by cluster id — the NearestCentroid position-
    * tie contract in frame form. */
  private def memberArrays(routing: FramedRouting): DataFrame =
    routing.members
      .groupBy("super")
      .agg(array_sort(collect_list(struct(col("cluster"), col("cv"))))
        .as("marr"))

  /** The map-side argmin over a member-array column — the native
    * [[graft.functions.NearestCentroidIn]] kernel: one generated
    * static call per row (the composed HOF form was an order-of-
    * magnitude wall regression, SCALECURVE §12b). Seeds from member 0,
    * strict `<` walking ascending cluster ids — the literal kernel's
    * tie order, bit for bit. Expects the vector in scope as `v`. */
  private def marrBest(marrCol: Column): Column =
    graft.functions.NearestCentroidIn(col("v"), marrCol)

  /** Two-level routed decision over `prepped(id, v)`: the nProbe
    * nearest supers from the literal kernel, then per probe slot ONE
    * 1:1 left join of that super's member array (broadcast when it
    * fits, a shuffle by `super` otherwise — Catalyst/AQE's call) and a
    * map-side argmin fold, then a map-side `least` by (d, cluster)
    * across slots. n rows end to end — no row expansion, no
    * aggregation operator. Probed member sets are DISJOINT (each
    * centroid belongs to one super), so the cross-slot order is total.
    * A corpus with fewer populated supers than nProbe yields short
    * probe arrays: get() (0-based) is null past the end (element_at
    * THROWS there under Spark 4's default ANSI mode), the slot's
    * struct stays null and least() skips it.
    * @return (id, v, best: struct(d, cluster, super))
    */
  private def routedBest(prepped: DataFrame, routing: FramedRouting,
                         nProbe: Int): DataFrame = {
    val marr = memberArrays(routing)
    val routed = prepped.select(col("id"), col("v"),
      probesGuard(graft.functions.NearestCentroids(col("v"),
        routing.routeCents, nProbe)).as("probes"))
    val joined = (1 to nProbe).foldLeft(routed) { (acc, i) =>
      // the slot REDUCES to its argmin struct right after its join and
      // the member array drops BEFORE the next join's exchange (r18:
      // carrying every marr_i to a final select made each successive
      // shuffle haul all prior slots' arrays — a 15× wall)
      val b = marrBest(col(s"marr_$i"))
      acc.join(marr.select(col("super").as(s"super_$i"),
                           col("marr").as(s"marr_$i")),
        get(col("probes"), lit(i - 1)) === col(s"super_$i"), "left")
        .withColumn(s"best_$i",
          when(col(s"super_$i").isNotNull,
            struct(b.getField("d").as("d"),
                   b.getField("cluster").as("cluster"),
                   col(s"super_$i").as("super"))))
        .drop(s"marr_$i", s"super_$i")
    }
    joined.select(col("id"), col("v"),
      leastOf((1 to nProbe).map(i => col(s"best_$i"))).as("best"))
  }

  /** Three-level routed decision over `prepped(id, v)` — the two-level
    * composition one level deeper: the nProbe nearest SUPERS from the
    * literal kernel, each probed super's MID array 1:1-joins and its
    * nProbe nearest mids come from the frame-resident multi-probe
    * kernel ([[graft.functions.NearestCentroidsIn]] — same fold, order
    * and ties as the literal one), each of the ≤ nProbe² (super, mid)
    * leaf slots 1:1-joins its member array, and the cross-slot
    * decision is a map-side `least` by (d, cluster) — leaf member sets
    * are disjoint, so the order is total. Short-probe safety is the
    * two-level path's: null join keys via get(), null slots drop out
    * of least().
    * @return (id, v, best: struct(d, cluster, super, mid))
    */
  private def routed3Best(prepped: DataFrame, routing: FramedRouting3,
                          nProbe: Int): DataFrame = {
    val midArr = routing.mids.groupBy("super")
      .agg(array_sort(collect_list(struct(col("mid"), col("mcv"))))
        .as("midarr"))
    val marr = routing.members.groupBy("super", "mid")
      .agg(array_sort(collect_list(struct(col("cluster"), col("cv"))))
        .as("marr"))
    val routed = prepped.select(col("id"), col("v"),
      probesGuard(graft.functions.NearestCentroids(col("v"),
        routing.routeCents, nProbe)).as("sprobes"))
    // per probed super: its nProbe nearest mids, ONE kernel call over
    // the joined mid array, the array dropped before the next exchange
    val withMids = (1 to nProbe).foldLeft(routed) { (acc, i) =>
      acc.join(midArr.select(col("super").as(s"super_$i"),
                             col("midarr").as(s"midarr_$i")),
        get(col("sprobes"), lit(i - 1)) === col(s"super_$i"), "left")
        .withColumn(s"mprobes_$i",
          graft.functions.NearestCentroidsIn(col("v"), col(s"midarr_$i"),
            nProbe))
        .drop(s"midarr_$i")
    }
    val slotKeys = for { i <- 1 to nProbe; j <- 1 to nProbe } yield (i, j)
    // each leaf slot reduces to its argmin struct right after its join
    // (the two-level early-projection rule)
    val joined = slotKeys.foldLeft(withMids) { case (acc, (i, j)) =>
      val b = marrBest(col(s"marr_${i}_$j"))
      acc.join(marr.select(col("super").as(s"s_${i}_$j"),
                           col("mid").as(s"m_${i}_$j"),
                           col("marr").as(s"marr_${i}_$j")),
        col(s"super_$i") === col(s"s_${i}_$j") &&
          get(col(s"mprobes_$i"), lit(j - 1)) === col(s"m_${i}_$j"),
        "left")
        .withColumn(s"best_${i}_$j",
          when(col(s"s_${i}_$j").isNotNull,
            struct(b.getField("d").as("d"),
                   b.getField("cluster").as("cluster"),
                   col(s"s_${i}_$j").as("super"),
                   col(s"m_${i}_$j").as("mid"))))
        .drop(s"marr_${i}_$j", s"s_${i}_$j", s"m_${i}_$j")
    }
    joined.select(col("id"), col("v"),
      leastOf(slotKeys.map { case (i, j) => col(s"best_${i}_$j") })
        .as("best"))
  }

  /** FRAME-RESIDENT two-level routing — the production-k scale path.
    * Only the √k SUPER centroids are literals; the k member centroids
    * stay a DataFrame keyed by super — no k·d driver collect and no
    * k·d plan literal, which is a hard wall at the SemDeDup regime
    * (n=10⁹, cell≈512 → k≈2M, d=768 is tens of GB of driver state).
    * The member table is one more DataFrame Catalyst plans, broadcast
    * or shuffled by size.
    */
  final case class FramedRouting(
      routeCents: Array[(Int, Array[Double])],
      members: DataFrame)

  /** Derive frame-resident routing from a CENTROID FRAME
    * `cents(clusterCol int, cvCol array<double>)`: one Lloyd round over
    * the centroid rows, membership under the updated supers, empty
    * supers dropped (a vector can only route where an answer exists).
    * Driver state is bounded by nSupers·d, NEVER k·d: the super
    * training collects nSupers init rows + nSupers·d update sums,
    * membership stays a frame, and only the ≤nSupers populated-super
    * ids collect.
    */
  def framedRoutingFor(cents: DataFrame, clusterCol: String,
                       cvCol: String, nSupers: Int): FramedRouting = {
    require(nSupers >= 1, "nSupers must be >= 1")
    val cd = cents.select(col(clusterCol).cast("int").as("cluster"),
                          col(cvCol).cast("array<double>").as("cv"))
    // with more supers than centroid rows lloyd's limit-k init would
    // just train fewer supers SILENTLY. One count over the k-row
    // centroid frame — index-build-time cost, k rows vs the n-row corpus.
    val nCents = cd.count()
    require(nSupers <= nCents,
      s"nSupers must be in [1, k] — got $nSupers supers over $nCents " +
        "centroid rows")
    val superModel = lloyd(cd, "cluster", "cv", k = nSupers, rounds = 1)
    // (cluster, super): each member centroid's routed super — a FRAME
    val membership = assign(cd, "cluster", "cv", Assigner.Exact(superModel))
      .select(col("id").as("cluster"), col("cluster").as("super"))
    val populated = membership.select("super").distinct()
      .collect().map(_.getInt(0)).toSet // ≤ nSupers rows by construction
    FramedRouting(
      superModel.last.filter { case (s, _) => populated(s) },
      cd.join(membership, "cluster").select("super", "cluster", "cv"))
  }

  /** THREE-LEVEL frame-resident routing (VERDICT r16 #2) — kills the
    * member-array ROW-SIZE ceiling: [[FramedRouting]] packs each
    * super's k/√k member centroids into ONE array row, which at the
    * SemDeDup regime (k≈2M, d=768) is a ~9 MB row and a ~17 GB
    * broadcast/shuffle payload. Here the hierarchy gains a MID level:
    * ~k^(1/3) literal supers route the vector, each super's members
    * split into ~k^(1/3) mids (anchored on the nMids smallest cluster
    * ids, one fixed-point Lloyd update round, re-assignment — the same
    * train-then-assign recipe as [[framedRoutingFor]], one level
    * down), and the leaf member arrays hold ~k^(1/3) centroids each.
    * Every array row is now O(k^(1/3)·d) bytes (~774 KB at k=2M,
    * d=768 vs ~9 MB two-level), driver state stays nSupers·d, and
    * assignment is ~n·3k^(1/3)·d flops — three map-side argmin folds
    * behind two 1:1 equi-joins, n rows end to end.
    *
    * Approximation contract: the decision differs from the exact
    * argmin (and from two-level routing) exactly when the true nearest
    * centroid lives outside the probed supers OR outside the probed
    * mids — one more nProbe trade, measured like §12's twin recall.
    * Every step is deterministic (fixed-point arithmetic, sorted
    * arrays, position-tie = id-tie argmins), so an independent SQL
    * engine replays the whole three-level decision bit-for-bit.
    *
    * `mids` holds only POPULATED mids (≥ 1 member after the final
    * re-assignment) — a vector can only route where an answer exists,
    * the [[framedRoutingFor]] populated-supers stance one level down.
    */
  final case class FramedRouting3(
      routeCents: Array[(Int, Array[Double])],
      mids: DataFrame,     // (super, mid, mcv) — populated mids only
      members: DataFrame)  // (super, mid, cluster, cv)

  /** Derive three-level routing from a centroid frame. Driver state:
    * the level-1 build's nSupers·d (via [[framedRoutingFor]]) — the
    * mid level never touches the driver. */
  def framedRoutingFor3(cents: DataFrame, clusterCol: String,
                        cvCol: String, nSupers: Int,
                        nMids: Int): FramedRouting3 = {
    require(nMids >= 1, "nMids must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val l1 = framedRoutingFor(cents, clusterCol, cvCol, nSupers)
    val mem = l1.members // (super, cluster, cv)
    // anchors: the nMids smallest cluster ids per super seed the mid
    // centroids, mid ids positional (0..) in cluster order — no RNG,
    // the lloyd init one level down
    val anchors = mem
      .withColumn("rn", row_number().over(
        Window.partitionBy("super").orderBy("cluster")))
      .filter(col("rn") <= nMids)
      .select(col("super"), (col("rn") - 1).cast("int").as("mid"),
              col("cv").as("acv"))
    val aarr = anchors.groupBy("super")
      .agg(array_sort(collect_list(struct(col("mid"), col("acv"))))
        .as("aarr"))
    // init assignment of member centroids to anchors (ties to the
    // smaller mid — NearestCentroidIn position ties on sorted arrays)
    val mm0 = mem.join(aarr, "super")
      .select(col("super"),
              graft.functions.NearestCentroidIn(col("cv"), col("aarr"))
                .getField("cluster").as("mid"),
              col("cv"))
    // ONE fixed-point update round — the exact lloyd arithmetic keyed
    // by (super, mid, pos), frame-resident throughout
    val mu = mm0
      .select(col("super"), col("mid"),
              posexplode(col("cv")).as(Seq("pos", "x")))
      .select(col("super"), col("mid"), col("pos"),
              floor(col("x") * Q).cast("long").as("q"))
      .groupBy("super", "mid", "pos")
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
           count(lit(1)).as("n"))
      .select(col("super"), col("mid"), col("pos"),
              sqExactLong("framedRoutingFor3").as("sq"), col("n"))
    val mc = mu
      .select(col("super"), col("mid"), col("pos"),
              (col("sq").cast("double") /
                (col("n").cast("double") * lit(Q))).as("c"))
      .groupBy("super", "mid")
      .agg(transform(
             array_sort(collect_list(struct(col("pos"), col("c")))),
             e => e.getField("c")).as("mcv"))
    // final membership under the UPDATED mids
    val midArr = mc.groupBy("super")
      .agg(array_sort(collect_list(struct(col("mid"), col("mcv"))))
        .as("midarr"))
    val mm = mem.join(midArr, "super")
      .select(col("super"),
              graft.functions.NearestCentroidIn(col("cv"), col("midarr"))
                .getField("cluster").as("mid"),
              col("cluster"), col("cv"))
    val popMids = mc.join(mm.select("super", "mid").distinct(),
      Seq("super", "mid"), "leftsemi")
    FramedRouting3(l1.routeCents, popMids, mm)
  }

  /** FRAME-RESIDENT Lloyd training — the large-k companion of
    * [[lloyd]]: centroids live in a (cluster, cv) DataFrame between
    * rounds, assignment is [[Assigner.Routed]] under routing re-derived
    * from each round's centroids, and the update is a (cluster, pos)-
    * keyed aggregation that STAYS a frame — the driver never holds k·d
    * state (per round it holds nSupers·d super sums + the populated-
    * super id set, both √k-bounded). With `nSupers = 1` routing is a
    * single all-members super, assignment degenerates to the exact
    * argmin, and the trajectory is bit-equal to [[lloyd]]'s
    * (ExtensionsSpec pins it); with nSupers ≈ √k each round pays the
    * routed flop count — the approximation the SemDeDup regime runs.
    *
    * Exactness stance matches [[lloyd]]: fixed-point DECIMAL(38,0)
    * sums, loud overflow on the long downcast, identical init (k
    * smallest ids, positional cluster ids).
    *
    * @return the final round's FULL fixed-point state — (cluster, pos,
    *         sq, n, c), persisted, the frame twin of [[stateFrame]]: the
    *         restorable artifact [[incrementalUpdateFramed]] consumes,
    *         and [[centroidsOf]] turns it into the (cluster, cv) frame
    *         [[framedRoutingFor]] reads
    */
  def lloydFramed(vecs: DataFrame, idCol: String, vecCol: String,
                  k: Int, rounds: Int, nSupers: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val prepped = vecs
      .select(col(idCol).as("id"),
              col(vecCol).cast("array<double>").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val kept = scala.collection.mutable.Buffer.empty[DataFrame]
    try {
      var cents = framedInitCentroids(prepped, k)
        .persist(StorageLevel.MEMORY_AND_DISK)
      kept += cents
      var state: DataFrame = null
      for (_ <- 1 to rounds) {
        val routing = framedRoutingFor(cents, "cluster", "cv", nSupers)
        state = decide(prepped, "id", "v", Assigner.Routed(routing))
          .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
          .select(col("cluster"), col("pos"),
                  floor(col("x") * Q).cast("long").as("q"))
          .groupBy("cluster", "pos")
          .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
               count(lit(1)).as("n"))
          .select(col("cluster"), col("pos").cast("long").as("pos"),
                  sqExactLong("lloydFramed").as("sq"), col("n"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        kept += state
        cents = centroidsOf(state)
          .persist(StorageLevel.MEMORY_AND_DISK)
        kept += cents
      }
      val out = state.select(col("cluster"), col("pos"), col("sq"),
        col("n"), (col("sq").cast("double") /
          (col("n").cast("double") * lit(Q))).as("c"))
      // materialize the final frame before releasing the trail so the
      // per-round caches back each round exactly once; `out` persists
      // independently of `state`, so the whole trail goes
      out.persist(StorageLevel.MEMORY_AND_DISK).count()
      kept.foreach(_.unpersist(false))
      out
    } finally {
      prepped.unpersist(false)
      ()
    }
  }

  /** Loud long-downcast guard on a decimal `sq` column: a decimal sum
    * past ±2^63 nulls out under non-ANSI casts — the silent-wrap
    * hazard in frame form (the driver paths' longValueExact stance). */
  private def sqExactLong(where: String): Column = {
    val sqLong = col("sq").cast("long")
    when(sqLong.isNull, raise_error(lit(
      s"Kmeans.$where: quantized dim sum overflows long — " +
      "the carried fixed-point state cannot represent this corpus")))
      .otherwise(sqLong)
  }

  /** A (cluster, pos, sq, n) fixed-point state frame ([[lloydFramed]],
    * [[stateFrame]], [[incrementalUpdateFramed]]) → the (cluster, cv)
    * centroid frame, the exact [[centsOf]] arithmetic in frame form. */
  def centroidsOf(state: DataFrame): DataFrame =
    state
      .select(col("cluster"), col("pos"),
              (col("sq").cast("double") /
                (col("n").cast("double") * lit(Q))).as("c"))
      .groupBy("cluster")
      .agg(transform(
             array_sort(collect_list(struct(col("pos"), col("c")))),
             e => e.getField("c")).as("cv"))

  /** [[lloydFramed]]'s init — the k smallest ids get positional
    * cluster ids 0..k−1 ([[lloyd]]'s init as a frame) with NO
    * single-task stage (VERDICT r17 #2: the old `orderBy.limit(k)` +
    * global `row_number` window pushed k·d through one GlobalLimit
    * gather and one single-partition WindowExec — ~12 GB in one task
    * at the module's own target regime k≈2M, d=768, contradicting the
    * framed family's "never k·d at any single point" contract).
    * Shape: ids-only two-pass global index ([[graft.ops.Indexing
    * .globalIndex]] — range repartition + per-partition offsets, the
    * per-partition-count job is the only driver touch), rank &lt; k
    * filter, then the VECTORS join back co-partitioned — the d-vector
    * payload never crosses a single-task boundary, and the id→cluster
    * mapping (rank of id among the k smallest) is bit-identical to
    * the window it replaces. PlanShapeSpec pins the no-Window/
    * no-GlobalLimit shape. `prepped` must carry (id, v). */
  private[graft] def framedInitCentroids(prepped: DataFrame,
                                         k: Int): DataFrame =
    prepped
      .join(graft.ops.Indexing.globalIndex(
              prepped.select(col("id")), "id", "rank")
            .filter(col("rank") < k)
            .select(col("id"), col("rank").cast("int").as("cluster")),
        "id")
      .select(col("cluster"), col("v").as("cv"))

  /** The model's final centroid table as a (cluster, cv) frame — the
    * bridge from a [[lloyd]]-trained model into the framed assignment
    * path ([[framedRoutingFor]] consumes it). */
  def lastCentroidsFrame(spark: org.apache.spark.sql.SparkSession,
                         model: KmeansModel): DataFrame = {
    import spark.implicits._
    model.last.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cluster", "cv")
  }

  /** The shared within-cluster pair tail over a staged frame
    * ([[semStage]] family — needs (id, v, nrm, cluster); extra columns
    * like `dq` ride along untouched): repartition by cluster BEFORE
    * the per-side renames so the self-join's two exchange subtrees
    * canonicalize identically and ReusedExchange ships the staged
    * vectors once (the Ivf.nearDupPairs plan shape, PlanShapeSpec-
    * pinned). Plan shape mirrors [[Ivf.nearDupPairs]]; single-cell
    * assignment (unlike IVF's multi-probe) means no pair can appear
    * twice — no dedup aggregation needed.
    *
    * DENSE-CELL CAP (VERDICT r16 #5): the within-cell search is
    * Σ|cell|² — one Zipf-mass cell (mass-duplicated boilerplate with
    * near-identical embeddings, a real crawl pathology) makes one task
    * quadratic. Cells with ≤ `maxCell` members emit ALL pairs (exact
    * SemDeDup semantics — the default trips only on degenerate cells);
    * larger cells emit STAR pairs against the cell's smallest id —
    * linear, connectivity-preserving for the components step (every
    * member still links to the representative, so the duplicate group
    * survives intact and the keep rule is unchanged), at the same
    * documented recall trade as [[TextDedup.bandCandidatePairs]]:
    * transitive near-dups linked only through non-representative
    * members of a capped cell lose their direct pair. Cell sizes come
    * from a k-row broadcast aggregate, not a window — no n-row sort.
    */
  def pairsOf(staged: DataFrame, threshold: Double,
              maxCell: Int = defaultMaxCell): DataFrame = {
    val colocated = staged.repartition(col("cluster"))
    def cos(na: Column, nb: Column, va: Column, vb: Column): Column =
      when(na > 0 && nb > 0, Similarity.dot(va, vb) / (na * nb))
        .otherwise(lit(0.0))
    def b = colocated.select(col("cluster"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    def pairsFrom(left: DataFrame): DataFrame = left
      .select(col("cluster"), col("id").as("id_a"),
        col("v").as("v_a"), col("nrm").as("nrm_a"))
      .join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cos(col("nrm_a"), col("nrm_b"), col("v_a"), col("v_b")).as("cos"))
    // Plan-choice probe: ONE k-row aggregate over the (persisted)
    // staged frame decides whether any cell trips the cap. When none
    // does — every healthy corpus — the returned plan is the PLAIN
    // two-branch-free self-join (the cap machinery's union + star
    // branch + per-cell size probe cost a measured ~0.3 s of extra
    // AQE stages per execution, paid on every run of a plan that
    // would never produce a star pair). maxCell = Int.MaxValue is the
    // explicit uncapped opt-out and skips the probe entirely. The
    // probe is eager but cheap (map-side-combined count over the
    // cache, k result rows), and its verdict is memoized per
    // (session, staged plan, maxCell) so repeat constructions over
    // the same staged frame — the registry re-execution pattern —
    // pay it once. Memo validity is tied to the CACHE ENTRY IDENTITY,
    // not mere cache presence: a verdict is stored with the identity
    // token of the live CachedData record the probe actually read, and
    // a hit is trusted only while that SAME record is still the one
    // the plan resolves to. After clearCache() + corpus rewrite at the
    // same path + fresh semStage, the plan is semantically identical
    // but re-persist registers a NEW record → token mismatch → the
    // verdict recomputes over the new data (presence-gating alone
    // would hit the stale verdict there, since persist() marks
    // eagerly). With no live entry at all the probe runs un-memoized.
    if (maxCell == Int.MaxValue)
      return pairsFrom(colocated).filter(col("cos") >= threshold)
    val cellInfo = staged.groupBy("cluster")
      .agg(count(lit(1)).as("csize"), min(col("id")).as("rep"))
    def probe(): Boolean = !cellInfo.filter(col("csize") > maxCell).isEmpty
    val anyMega = GraftBridge.cacheEntryRecord(staged) match {
      case None => probe() // nothing pins the data — never memoize
      case Some(rec) =>
        val perSession = capProbeMemo.computeIfAbsent(
          staged.sparkSession,
          _ => new java.util.concurrent.ConcurrentHashMap[
            (Int, Int), (java.lang.ref.WeakReference[AnyRef], Boolean)])
        val key = (staged.queryExecution.analyzed.semanticHash(), maxCell)
        perSession.get(key) match {
          // reference identity against the LIVE record — collision-free
          // (an identityHashCode token could alias a later record after
          // GC; r18 advice), same lifetime semantics: a cleared weak ref
          // or a re-registered entry both miss and re-probe
          case (ref, v) if ref.get() != null && (ref.get() eq rec) => v
          case _ =>
            val v = probe()
            perSession.put(key,
              (new java.lang.ref.WeakReference[AnyRef](rec), v))
            v
        }
    }
    if (!anyMega)
      return pairsFrom(colocated).filter(col("cos") >= threshold)
    val info = broadcast(cellInfo)
    val allPairs = pairsFrom(
      colocated.join(info, "cluster").filter(col("csize") <= maxCell))
    // the representatives are ONE row per mega cell — semi-join them
    // out of the staged cache and BROADCAST, so the star join is
    // map-side over the co-located members (never a shuffle of the
    // mega cell by a second key)
    val repRows = broadcast(staged
      .join(broadcast(info.filter(col("csize") > maxCell)
        .select(col("rep").as("id"))), Seq("id"), "leftsemi")
      .select(col("id").as("rep"), col("v").as("v_a"),
        col("nrm").as("nrm_a")))
    val starPairs = colocated.join(info, "cluster")
      .filter(col("csize") > maxCell && col("id") =!= col("rep"))
      .select(col("cluster"), col("rep"), col("id").as("id_b"),
        col("v").as("v_b"), col("nrm").as("nrm_b"))
      .join(repRows, Seq("rep"))
      .select(col("rep").as("id_a"), col("id_b"),
        cos(col("nrm_a"), col("nrm_b"), col("v_a"), col("v_b")).as("cos"))
    allPairs.unionByName(starPairs).filter(col("cos") >= threshold)
  }

  /** Default dense-cell cap — matches [[TextDedup.defaultMaxBucket]]'s
    * stance: trips only on degenerate (mass-duplicate) cells, never on
    * a healthy SemDeDup cell size (the paper's regime holds cells at
    * a few hundred members; testdata cells are < 10²). */
  val defaultMaxCell: Int = 10000

  /** [[pairsOf]]'s plan-choice probe verdicts: session (held WEAKLY —
    * a closed session's entries become collectable, and a real
    * reference can't collide the way `identityHashCode` buckets can)
    * → (staged-plan semantic hash, maxCell) → (live-cache-entry token,
    * verdict). Bounded by the distinct staged frames a LIVE session
    * builds. */
  private val capProbeMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[(Int, Int),
        (java.lang.ref.WeakReference[AnyRef], Boolean)]])
}
