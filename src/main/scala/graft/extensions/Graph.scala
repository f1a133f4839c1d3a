package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph centrality for corpus curation: PageRank over a directed
  * edge list, in fixed-point integer arithmetic so results are
  * bit-identical across engines and cluster layouts.
  *
  * Why integer: floating-point PageRank sums contributions in
  * partition order, so the same graph yields last-ulp-different ranks
  * run to run — unverifiable against an oracle and non-reproducible
  * across cluster sizes. Here ranks are scaled longs ([[Scale]] = one
  * unit of probability mass) and every step is integral (`div`
  * truncation, exact 64-bit sums), so any summation order gives the
  * same bits. The per-step truncation loses ≤1/[[Scale]] of mass per
  * vertex per round — irrelevant to ranking, decisive for testability.
  *
  * The 100 TB shape (the CommonCrawl-style "rank domains to weight a
  * training mixture" job): per iteration one join of the static
  * (src, dst, deg) frame against the current ranks plus one groupBy(dst)
  * — the classic two-shuffle PageRank round. The edge frame is hashed by
  * src ONCE and persisted, so iterations re-shuffle only the rank
  * vector (|V| rows, two longs each), never the edges (|E| rows); at
  * scale the same layout is a bucketed edges table. The rounds chain
  * lazily into one job (each rank vector feeds exactly one consumer —
  * see [[iterate]]) with a single final lineage cut. Dangling
  * vertices (no out-edges) simply
  * leak their damped mass — the standard simplification; it is applied
  * identically in the oracle so parity is exact.
  *
  * No counterpart in the reference (it ranks nothing); this is part of
  * the training-data pipeline surface (domain-quality weighting).
  */
object Graph {

  /** One unit of rank mass: 1.0 == 1e12. Large enough that 4–10
    * iterations of per-step truncation (≤ |iters|/Scale relative loss)
    * never reorder two vertices whose true ranks differ measurably;
    * small enough that 85 * sum(contribs) stays far inside Long range
    * (total mass ≤ Scale, so 85 * Scale ≈ 8.5e13 ≪ 2^63).
    */
  val Scale = 1000000000000L

  /** Fixed-point PageRank.
    *
    * @param edges      directed edge list; duplicate edges count twice
    *                   (multi-edge = heavier link), self-loops allowed
    * @param iterations fixed round count (rank jobs run a fixed budget,
    *                   not to convergence — reproducibility beats the
    *                   last decimal of precision)
    * @param dampNum/dampDen damping as an exact rational (85/100)
    * @return (id, rank_fp): one row per vertex appearing in `edges`,
    *         rank_fp = PageRank mass in [[Scale]] units, bit-exact for
    *         any partitioning. rank_fp/1e12 is the familiar probability.
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iterations: Int = 4,
                         dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val (verts, linked) = prep(edges, srcCol, dstCol, iterations,
      dampNum, dampDen)
    // bounded driver scalar (one long), same class as Ivf's k-row builds
    val v = verts.count()
    require(v > 0, "pageRank needs a non-empty edge list")
    val base = Scale / v                      // == SQL `Scale div v`
    val teleport = ((dampDen - dampNum) * base) / dampDen
    val vertsT = verts.select(col("id"), lit(teleport).as("tp"))
    val init = verts.select(col("id"), lit(base).as("rank_fp"))
    iterate(vertsT, linked, init, iterations, dampNum, dampDen,
      release = Seq(verts, linked))
  }

  /** Weighted fixed-point PageRank — rank flows along each out-edge in
    * proportion to an INTEGER edge weight (link multiplicity, mention
    * count, extraction confidence buckets — the realistic link-graph
    * shape, where a page linked 40 times is not a page linked once):
    * vertex v passes `(w · rank(v)) div W(v)` to each out-neighbor,
    * W(v) = v's total out-weight. Exact rationals, so the job keeps
    * every fixed-point guarantee ([[pageRankFixedPoint]]'s scaladoc):
    * bit-identical under any partitioning and SQL-oracle-checkable.
    * All-1 weights reduce bit-for-bit to the uniform engine — `(1 ·
    * rank) div deg` IS `rank div deg` (asserted in GraphSpec). Same
    * per-iteration shuffle budget: the static (src, dst, w, W) frame
    * hashes once; only the rank vector moves per round.
    *
    * @param weightCol positive integer weights, capped at 10^6 so
    *        `w · rank ≤ 1e18` stays inside Long (checked in one
    *        bounded aggregate before iterating — a zero or negative
    *        weight would silently break the mass arithmetic)
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int = 4,
                       dampNum: Long = 85L, dampDen: Long = 100L)
      : DataFrame = {
    val (verts, linked) = prep(edges, srcCol, dstCol, iterations,
      dampNum, dampDen, weightCol = Some(weightCol))
    requireWeightBounds(linked)
    val v = verts.count()
    require(v > 0, "pageRank needs a non-empty edge list")
    val base = Scale / v
    val teleport = ((dampDen - dampNum) * base) / dampDen
    val vertsT = verts.select(col("id"), lit(teleport).as("tp"))
    val init = verts.select(col("id"), lit(base).as("rank_fp"))
    iterate(vertsT, linked, init, iterations, dampNum, dampDen,
      release = Seq(verts, linked))
  }

  /** One bounded aggregate over the prepped edge frame proving every
    * weight is a non-null integer in [1, 1e6] BEFORE iterating. The
    * null check is explicit (count(ew) vs count(*)): min/max IGNORE
    * nulls, so a weight column mixing nulls with valid values would
    * pass a min/max-only guard and then silently LOSE mass — each null
    * ew yields a null contribution that sum() drops, and sw=sum(ew)
    * skips the null rows too, so the surviving edges' shares divide by
    * a wrong denominator. Exactly the failure the guard exists to stop.
    */
  private def requireWeightBounds(linked: DataFrame): Unit = {
    val b = linked.agg(min(col("ew")), max(col("ew")),
      count(lit(1)), count(col("ew"))).collect().head
    require(b.getLong(3) == b.getLong(2),
      s"edge weight column has ${b.getLong(2) - b.getLong(3)} null " +
        "rows (of " + b.getLong(2) + ") — null weights would silently " +
        "drop rank mass; filter or default them explicitly")
    require(b.getLong(2) == 0L || (b.getLong(0) >= 1L &&
            b.getLong(1) <= 1000000L),
      s"edge weights must be in [1, 1e6], got " +
        s"[${b.get(0)}, ${b.get(1)}]")
  }

  /** Personalized (seeded) PageRank — TrustRank-style propagation: the
    * teleport mass flows ONLY to a seed set (hand-vetted quality
    * domains, a topic's known-good docs), so rank measures proximity to
    * the seeds through the link structure rather than global
    * centrality. The standard curation move when "important" must mean
    * "trusted", not "heavily linked": a link farm wins global PageRank
    * but scores 0 here unless some seed-reachable path feeds it. Same
    * fixed-point integer arithmetic, shuffle shape, and lineage stance
    * as [[pageRankFixedPoint]]; vertices unreachable from the seeds
    * settle at exactly 0 (integral, so exactly — no epsilon floor).
    *
    * @param seeds frame whose `seedIdCol` lists seed vertex ids; ids
    *              absent from the graph are ignored (teleport mass
    *              stays on the graph); duplicates dedup
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedIdCol: String,
                           iterations: Int = 4,
                           dampNum: Long = 85L, dampDen: Long = 100L)
      : DataFrame =
    seededPageRank(edges, srcCol, dstCol, seeds, seedIdCol, None,
      iterations, dampNum, dampDen)

  /** Weighted + personalized composition — the realistic TrustRank:
    * teleport mass anchors on hand-vetted seeds AND rank flows in
    * proportion to integer link weights (multiplicity / mention
    * counts). Same exact-rational arithmetic as [[pageRankWeighted]]
    * ((w·rank) div W per edge, weights proven non-null in [1, 1e6]
    * up front), same seed semantics as the uniform
    * [[personalizedPageRank]]; with all-1 weights it reduces
    * bit-for-bit to the uniform seeded engine (GraphSpec).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedIdCol: String,
                           weightCol: String, iterations: Int,
                           dampNum: Long, dampDen: Long): DataFrame =
    seededPageRank(edges, srcCol, dstCol, seeds, seedIdCol,
      Some(weightCol), iterations, dampNum, dampDen)

  /** [[personalizedPageRank]] (weighted) with the standard defaults. */
  def personalizedPageRankWeighted(edges: DataFrame, srcCol: String,
                                   dstCol: String, seeds: DataFrame,
                                   seedIdCol: String, weightCol: String,
                                   iterations: Int = 4): DataFrame =
    seededPageRank(edges, srcCol, dstCol, seeds, seedIdCol,
      Some(weightCol), iterations, 85L, 100L)

  private def seededPageRank(edges: DataFrame, srcCol: String,
                             dstCol: String, seeds: DataFrame,
                             seedIdCol: String, weightCol: Option[String],
                             iterations: Int,
                             dampNum: Long, dampDen: Long): DataFrame = {
    val (verts, linked) = prep(edges, srcCol, dstCol, iterations,
      dampNum, dampDen, weightCol = weightCol)
    if (weightCol.isDefined) requireWeightBounds(linked)
    val seedSet = seeds.select(col(seedIdCol).cast("long").as("id"))
      .distinct()
      .join(verts, Seq("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s = seedSet.count()
    require(s > 0, "personalized PageRank needs >=1 seed present in the graph")
    val seedShare = Scale / s
    val teleportSeed = ((dampDen - dampNum) * seedShare) / dampDen
    // SUPPORT-ONLY iteration (r19): seeded teleport mass is 0 for every
    // non-seed, so a vertex outside the seed-reachable support holds
    // rank EXACTLY 0 (integral arithmetic) and contributes exactly 0
    // through any out-edge ((ew·0) div sw = 0). The rank vector
    // therefore stays on its support: the teleport term is an s-row
    // frame (the seeds), each round's merge is a FULL OUTER join of
    // that s-row frame with the round's inflow sums — replacing the
    // old per-round |V|-row vertsT left join (and its eager
    // localCheckpoint) — and the full per-vertex contract is restored
    // by ONE |V|-row completion join at the end, coalescing the
    // unreached to their true 0. At 100 TB personalized PageRank over
    // a hand-vetted seed set touches the reachable set, not the whole
    // vertex table, every round. Bit-exact vs the full-vector
    // recurrence (GraphSpec's sequential references pin it).
    val vertsT = seedSet.select(col("id"), lit(teleportSeed).as("tp"))
    // init = the seed distribution itself (the vector the teleport term
    // anchors), so iteration k already carries k-hop trust flow
    var ranks = seedSet.select(col("id"), lit(seedShare).as("rank_fp"))
    for (_ <- 1 to iterations) {
      ranks = seededRound(vertsT, linked, ranks, dampNum, dampDen)
    }
    // one completion join restores the one-row-per-vertex contract;
    // the lazy round chain materializes once here (iterate()'s stance)
    val out = verts.join(ranks, Seq("id"), "left")
      .select(col("id"), coalesce(col("rank_fp"), lit(0L)).as("rank_fp"))
      .localCheckpoint(true)
    Seq(verts, linked, seedSet).foreach(_.unpersist(false))
    out
  }

  /** HITS (hubs & authorities) in fixed-point integers — the
    * complementary centrality to PageRank for link corpora: an
    * AUTHORITY is a page good pages point TO (citation-worthiness — a
    * strong quality signal for curation), a HUB is a page that points
    * to good pages (directory/aggregator-ness — often a DOWN-weight
    * signal: link farms are textbook hubs). Mutual recursion: auth(v)
    * = Σ hub(u) over in-edges, hub(v) = Σ auth(w) over out-edges,
    * renormalized each half-step.
    *
    * Integer renormalization: dividing every score by the SAME
    * `max(1, total div Scale)` keeps the vector near [[Scale]] total
    * mass using one common divisor — ratios and ranking survive
    * exactly, every step stays integral, so the whole iteration is
    * bit-exact on any layout and verifies against an unrolled SQL
    * oracle like the PageRank family. Overflow bound: scores ≤ ~Scale
    * after each renormalization, so a raw sum is ≤ Scale·maxDegree ≤
    * 2^63 for degrees up to ~9e6 — beyond that, lower [[Scale]].
    *
    * Scale shape: per iteration one join keyed on src + one on dst
    * (the two directions of the same persisted edge frame) and two
    * 1-row total aggregates joined back via broadcast. Unlike
    * [[iterate]]'s pure chain, each half-step consumes its
    * predecessor TWICE (total + join), so half-steps materialize
    * eagerly — see the in-body comment for the measured alternative.
    *
    * @return (id, hub_fp, auth_fp), one row per vertex in `edges`
    */
  def hitsFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                     iterations: Int = 4): DataFrame =
    hitsLoop(edges, srcCol, dstCol, prevState = None, iterations)

  /** Warm-start (resumable) HITS — completing the resume/artifact set
    * (rank vectors, label states, cluster labelings, inverted lists,
    * PQ codes): each iteration re-derives auth from hub before hub
    * reads auth back, so the recursion is Markovian in the hub_fp
    * vector alone (auth_fp rides along in the artifact as the other
    * half of the RESULT), and the integer renormalization depends only
    * on the current raw totals —
    * so on an unchanged graph resume(k)+resume(m) equals
    * fromScratch(k+m) BIT-FOR-BIT (GraphSpec): a saved HITS vector is
    * a resumable artifact, not an approximation. Vertices NEW to the
    * graph (absent from `prevState`) start at the from-scratch
    * iteration-0 values — hub = Scale div |V|, auth = 0 — exactly
    * where a fresh run would start them.
    *
    * @param prevState (id, hub_fp, auth_fp) — the output contract of
    *                  [[hitsFixedPoint]] / a previous resume, e.g.
    *                  read back from a parquet checkpoint
    */
  def hitsResume(edges: DataFrame, srcCol: String, dstCol: String,
                 prevState: DataFrame, iterations: Int = 4): DataFrame =
    hitsLoop(edges, srcCol, dstCol, Some(prevState), iterations)

  private def hitsLoop(edges: DataFrame, srcCol: String, dstCol: String,
                       prevState: Option[DataFrame],
                       iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 32, "fixed iteration budget")
    // NOT pre-hashed per direction (r20 measured and rejected): caching
    // eSrc/eDst copies repartitioned by src/dst would let every
    // half-step join plan the edge side exchange-free at the
    // no-broadcast scale (the prep/linked trick below), but the edge
    // list is consumed in BOTH directions, so it costs two upfront |E|
    // exchanges plus a second |E| cache — and at demo scale it
    // tripled the wall (link_hits 2.7 -> 8.4 s, hits_resume 1.5 ->
    // 5.1 s isolated): every half-step stage inherited the 32-way
    // repartition layout, turning ~16 tiny stages into 32-task
    // scheduler overhead, where the broadcast-regime half-steps never
    // shuffle the edge side at all. See OPTIMIZATION_r20.md for the
    // measurements.
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val v = verts.count()
    require(v > 0, "HITS needs a non-empty edge list")
    // common-divisor renormalization: x div max(1, total div Scale).
    // SUPPORT-ONLY iteration (r19): the half-step vectors carry only
    // vertices with a raw sum — an absent vertex's score is exactly 0,
    // `0 div d = 0`, and a zero score contributes nothing to the next
    // half-step's inner-join sums, so dropping the per-half-step
    // verts left-join (8 |V|-row joins per 4-iteration run) is
    // bit-exact; the full vector is completed ONCE at the end
    // (coalesce to 0 over `verts`). The closure argument: every
    // out-neighbor w has an in-edge, so w appears in every auth
    // vector; every in-neighbor u has an out-edge, so u appears in
    // every hub vector (the fresh init is complete anyway) — no sum
    // ever misses a non-zero term. The 1-row total is a bounded
    // driver scalar (the verts.count() class) folded in as a literal,
    // replacing the per-half-step BroadcastExchange+crossJoin — and
    // with the divisor a literal, each renormalized vector is
    // referenced exactly ONCE (by the next half-step), so the chain
    // is linear and needs NO per-half-step lineage cut (the walkLoop
    // stance): each half-step persists its raw sums — filled by the
    // same total-aggregate job — and the one final materialization
    // reads the cached chain; every intermediate is released after.
    // (The old shape checkpointed every half-step because the
    // broadcast-total plan referenced raw twice, doubling the tree —
    // 2 extra jobs per half-step that no longer exist.)
    val kept = scala.collection.mutable.Buffer[DataFrame]()
    def renorm(raw0: DataFrame, outName: String): DataFrame = {
      val raw = raw0.persist(StorageLevel.MEMORY_AND_DISK)
      kept += raw
      val totRow = raw.agg(sum(col("raw"))).collect().head
      val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
      val divisor = math.max(1L, tot / Scale)
      raw.select(col("id"), expr(s"raw div $divisor").as(outName))
    }
    // each iteration re-derives auth from hub FIRST, so the recursion's
    // Markovian state is the hub vector alone — the saved auth_fp
    // travels in the artifact for consumers (it is the other half of
    // the result) but never feeds a resumed recursion
    var hub = prevState match {
      case None => verts.select(col("id"), lit(Scale / v).as("hub_fp"))
      case Some(prev) =>
        // left join: the saved vector wins; appended vertices start at
        // the from-scratch hub base (one extra |V|-row join, once)
        verts.join(prev.select(col("id").cast("long").as("id"),
            col("hub_fp").cast("long").as("ph")), Seq("id"), "left")
          .select(col("id"), coalesce(col("ph"), lit(Scale / v)).as("hub_fp"))
    }
    var auth: DataFrame = null
    for (t <- 1 to iterations) {
      val araw =
        if (t == 1 && prevState.isEmpty)
          // fresh iteration 1: hub is the CONSTANT Scale/v everywhere,
          // so the join collapses to indeg(d)·base — one aggregate,
          // no join, same exact sum
          e.groupBy(col("dst").as("id"))
            .agg((count(lit(1)) * lit(Scale / v)).as("raw"))
        else
          e.join(hub.withColumnRenamed("id", "src"), "src")
            .groupBy(col("dst").as("id")).agg(sum(col("hub_fp")).as("raw"))
      auth = renorm(araw, "auth_fp")
      hub = renorm(
        e.join(auth.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("auth_fp")).as("raw")),
        "hub_fp")
    }
    // complete both support-only vectors over the vertex set once;
    // the one eager cut materializes through the cached raw chain,
    // then every intermediate is released (in finally — a failed job
    // must not strand ≤ 2·iters cached half-step frames)
    try verts
      .join(hub, Seq("id"), "left")
      .join(auth, Seq("id"), "left")
      .select(col("id"), coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
              coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
      .localCheckpoint(true)
    finally {
      kept.foreach(_.unpersist(false))
      e.unpersist(false); verts.unpersist(false)
    }
  }

  /** Warm-start (incremental) PageRank — the append-without-recompute
    * story for the graph family, matching `appendAssign` (IVF) and
    * `incrementalNearDups` (text dedup): resume the power iteration
    * from a SAVED rank vector instead of the uniform start, so after an
    * edge-batch append the job spends its iteration budget refining
    * yesterday's converged vector rather than re-deriving it from
    * scratch.
    *
    * Two exact properties (both provable because the arithmetic is
    * integral — GraphSpec asserts them bit-for-bit):
    *   - SPLIT EQUALITY on an unchanged graph: resume(resume(init, k),
    *     m) == fromScratch(k + m). A checkpointed rank vector is a
    *     resumable artifact, not an approximation.
    *   - vertices NEW to the graph (absent from `prevRanks`) start at
    *     the uniform base mass, exactly where a from-scratch run would
    *     start them; existing vertices keep their saved rank.
    * After an append the resumed vector is a warm start, not a replay:
    * the fixed point it converges TO is the new graph's, and getting
    * there needs a handful of refinement iterations instead of the full
    * budget (the same reasoning as any power-iteration restart).
    *
    * Shuffle shape is identical to [[pageRankFixedPoint]] — the edge
    * frame re-hashes once, each iteration moves only the rank vector —
    * plus ONE extra left join to seed the start vector from
    * `prevRanks`.
    *
    * @param prevRanks (id, rank_fp) — the output contract of
    *                  [[pageRankFixedPoint]] / a previous resume, e.g.
    *                  read back from a parquet checkpoint
    */
  def pageRankResume(edges: DataFrame, srcCol: String, dstCol: String,
                     prevRanks: DataFrame, iterations: Int = 4,
                     dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val (verts, linked) = prep(edges, srcCol, dstCol, iterations,
      dampNum, dampDen)
    val v = verts.count()
    require(v > 0, "pageRank needs a non-empty edge list")
    val base = Scale / v
    val teleport = ((dampDen - dampNum) * base) / dampDen
    val vertsT = verts.select(col("id"), lit(teleport).as("tp"))
    val prev = prevRanks.select(col("id").cast("long").as("id"),
      col("rank_fp").cast("long").as("prev_fp"))
    // left join: saved rank wins; vertices the append introduced (or
    // ranks dropped from the artifact) fall back to the uniform base
    val init = verts.join(prev, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("prev_fp"), lit(base)).as("rank_fp"))
    iterate(vertsT, linked, init, iterations, dampNum, dampDen,
      release = Seq(verts, linked))
  }

  /** First 8 hex digits of md5("<cur>#<walk>#<t>") as a long — the
    * shared walk-pick entropy (32 bits, 0..4294967295). 8 nibbles, not
    * 4: the pick is `h mod totalRange`, and a 16-bit h cannot COVER a
    * range above 65535 — a hub whose out-degree (× bias weight, for
    * [[biasedWalks]]) exceeds that would silently never walk its
    * high-dst edges. 32 bits cover any realistic out-degree times the
    * ≤1000 weight cap; the residual modulo bias is ≤ range/2^32 — the
    * same determinism-over-perfect-uniformity stance as the md5
    * sampling throughout this engine. The oracle rebuilds the same
    * integer nibble by nibble.
    */
  private def pickHash(t: Int): Column =
    conv(substring(md5(concat(col("cur").cast("string"),
        lit("#"), col("walk").cast("string"), lit(s"#$t"))), 1, 8),
      16, 10).cast("long")

  /** Shared scaffolding for the uniform and biased walkers: canonical
    * (src, dst) longs, the adjacency-array frame, the per-start walk
    * fanout, the per-step persist chain, and the final materialize-
    * then-release. `step(frontier, neighbors, t)` returns the next
    * frontier — it must carry (start, walk, cur) and may carry extra
    * columns for its own next step (the biased walker hands its
    * prev-adjacency forward).
    *
    * Adjacency is ARRAYS, not a window-indexed edge list: one map-side-
    * combined hash aggregate builds (src, sorted dsts, deg) — |V| rows
    * — and every step join probes THAT, picking an element by h mod a
    * range. The row_number()-window alternative is the same logical
    * index but WindowExec sorts and buffers per src group outside
    * codegen, and the step join then matches against |E| rows
    * (measured 2.4× slower end-to-end at 1.6M vertices, ProfileGraph).
    *
    * Each frontier is persisted LAZILY, not eagerly checkpointed: the
    * output unions every step's frontier, so without caching, branch t
    * would recompute the whole chain (O(steps²) joins); with it, step
    * t+1 and the union both read step t from cache on the one real
    * action. Eager per-step materialization (localCheckpoint(true))
    * ran every step as its own job — an extra full pass plus per-step
    * scheduling — and measured ~4.7× slower at 1.6M vertices (19 s vs
    * 4 s, ProfileGraph); the plan chain is bounded by the ≤32-step
    * budget, so lineage depth is not a concern here (unlike the
    * unbounded PageRank/Components loops). The lazy cache entries fill
    * during the ONE materialization at the end, after which everything
    * is released (labelPropagation's stance) — a walk-heavy session
    * must not accumulate ≤32 frontier caches per call (ProfileGraph:
    * wall unchanged, storage empty after).
    */
  /** Shared walker scaffolding (also the fused pairs path): arg
    * bounds, canonical long endpoints, the persisted adjacency-array
    * frame, and the per-start walk fanout — ONE copy, so a tuning or
    * semantics change cannot silently reach only one walker.
    */
  private def walkSetup(edges: DataFrame, srcCol: String, dstCol: String,
                        steps: Int, walksPerStart: Int)
      : (DataFrame, DataFrame) = {
    require(steps >= 1 && steps <= 32, "fixed walk budget")
    require(walksPerStart >= 1 && walksPerStart <= 64, "bounded walk fanout")
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
    val neighbors = e.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("dsts"),
           count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize before any step is planned (r20, VERDICT r19 #6
    // co-partitioning pass): the aggregate leaves the adjacency frame
    // hashed by src, and with the cached layout FINALIZED every walk
    // step's join plans the (array-carrying, |V|-row) adjacency side
    // with zero exchange — only the two-long frontier moves per step.
    // Unfinalized, the whole steps-deep chain re-exchanged it per step.
    neighbors.count()
    val starts = e.select(col("src").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(walksPerStart - 1))).as("walk"))
    (neighbors, starts)
  }

  private def walkLoop(edges: DataFrame, srcCol: String, dstCol: String,
                       steps: Int, walksPerStart: Int,
                       step: (DataFrame, DataFrame, Int) => DataFrame)
      : DataFrame = {
    val (neighbors, starts) =
      walkSetup(edges, srcCol, dstCol, steps, walksPerStart)
    val kept = scala.collection.mutable.Buffer[DataFrame](neighbors)
    var frontier = starts
      .select(col("start"), col("walk"), col("start").as("cur"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    kept += frontier
    var out = frontier.select(col("start"), col("walk"),
      lit(0).as("step"), col("cur").as("node"))
    for (t <- 1 to steps) {
      frontier = step(frontier, neighbors, t)
        .persist(StorageLevel.MEMORY_AND_DISK)
      kept += frontier
      out = out.union(frontier.select(col("start"), col("walk"),
        lit(t).as("step"), col("cur").as("node")))
    }
    // one materialization through the cached chain, then release all
    // intermediates (in finally — a failed job must not strand
    // ≤ steps frontier caches plus the adjacency frame); callers get
    // a self-contained leaf
    try out.localCheckpoint(true)
    finally kept.foreach(_.unpersist(false))
  }

  /** Deterministic random walks — the node2vec/DeepWalk corpus
    * generator, derandomized: step t from vertex v follows out-edge
    * number `md5(v + "#" + t) % outdeg(v)` (out-edges ranked by dst),
    * so the same graph yields the same walks on any cluster — walk
    * corpora become reproducible, diffable artifacts instead of
    * seed-and-pray samples, and the whole pipeline verifies against a
    * SQL oracle.
    *
    * Scale shape ([[walkLoop]]): the adjacency-array frame is built
    * once; each step is ONE keyed equi-join of the walk frontier —
    * (start, cur) pairs, two longs — against it, with the edge pick
    * evaluated on the joined row. Walks from a dangling vertex (no
    * out-edges) simply end at that step (inner join); `steps` is a
    * fixed budget, matching how walk corpora are actually generated.
    *
    * @param walksPerStart number of independent walks per start vertex
    *         (walk w picks by md5("<cur>#<w>#<t>")), the corpus-size
    *         knob real walk generation turns
    * @return (start, walk, step, node) — step 0 is the start vertex
    *         itself; one row per surviving walk position, so a walk
    *         that hits a dangling vertex contributes fewer than
    *         `steps`+1 rows
    */
  def deterministicWalks(edges: DataFrame, srcCol: String, dstCol: String,
                         steps: Int = 3, walksPerStart: Int = 1): DataFrame =
    walkLoop(edges, srcCol, dstCol, steps, walksPerStart, uniformStep(Nil))

  /** The uniform edge pick as a walkLoop/fusedPairsLoop step: one keyed
    * probe of the adjacency frame, out-edge `md5 mod deg`. `carry`
    * names frontier columns to pass through untouched (the fused pairs
    * loop threads its `recent` buffer this way) — ONE copy of the pick
    * for both the corpus and fused paths.
    */
  private def uniformStep(carry: Seq[String])(
      frontier: DataFrame, neighbors: DataFrame, t: Int): DataFrame =
    frontier.withColumn("h", pickHash(t))
      .join(neighbors, col("cur") === col("src"))
      .select(Seq(col("start"), col("walk")) ++ carry.map(col) :+
        element_at(col("dsts"),
          (col("h") % col("deg") + 1L).cast("int")).as("cur"): _*)

  /** Node2vec-biased deterministic walks — [[deterministicWalks]] with
    * the return/in-out bias real graph-embedding corpora use, still
    * fully derandomized: from step 2 on, out-edge e from `cur` (given
    * the previous node `prev`) carries an INTEGER weight
    *   - dst == prev                     → `wReturn`  (node2vec 1/p)
    *   - dst ∈ out-neighbors(prev)       → `wStay`    (distance-1, 1)
    *   - otherwise                       → `wExplore` (node2vec 1/q)
    * and the pick is `md5(...) mod totalWeight` mapped through the
    * cumulative weight ranges over the dst-sorted out-edges — exact
    * integer arithmetic, so the biased corpus is as reproducible and
    * SQL-oracle-checkable as the uniform one. With all weights equal
    * the ranges collapse to `mod deg`: biasedWalks(1,1,1) IS
    * deterministicWalks row for row (asserted in GraphSpec). Step 1
    * has no `prev` and stays uniform, exactly as node2vec's first hop.
    *
    * Adjacency is `prev`'s OUT-neighbors (this is a directed engine);
    * `dst == prev` takes precedence over adjacency, mirroring
    * node2vec's d=0 case. Multi-edges weight independently — a doubled
    * link doubles its pick range in both the uniform and biased forms.
    *
    * Scale shape: TWO keyed equi-joins per step against the |V|-row
    * adjacency frame (cur's out-edges for the candidates, prev's for
    * the distance-1 test) vs the uniform walker's one. The r11 design
    * instead CARRIED prev's out-neighbor array forward in the cached
    * frontier — one join per step on paper, but every per-step
    * frontier then stored |frontier|·avg_deg array cells, and the
    * SCALECURVE §10 top octave (6.4M vertices, 51.2M walk rows) blew
    * past executor storage: MemoryStore eviction + disk fallback took
    * the biased walker to ×6.0 wall per ×4 data while the uniform
    * walker held ×4.0. Re-deriving prev_dsts from the once-persisted
    * adjacency keeps frontier rows at four longs — the second join is
    * a hash probe of a frame that never leaves cache, measured CHEAPER
    * than spilling the arrays from the top octave on (and within
    * noise below it); the weight fold stays a map-side codegen'd
    * higher-order aggregate either way.
    */
  def biasedWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  steps: Int = 3, walksPerStart: Int = 1,
                  wReturn: Int = 1, wStay: Int = 1,
                  wExplore: Int = 1): DataFrame =
    walkLoop(edges, srcCol, dstCol, steps, walksPerStart,
      biasedStep(wReturn, wStay, wExplore, Nil))

  /** The node2vec-biased pick as a walkLoop/fusedPairsLoop step — see
    * [[biasedWalks]] for the weight semantics. Output carries
    * `prev` = the stepped-from vertex plus the `carry` pass-through
    * columns; ONE copy of the weight fold for both the corpus and
    * fused paths.
    */
  private def biasedStep(wReturn: Int, wStay: Int, wExplore: Int,
      carry: Seq[String])(
      frontier: DataFrame, neighbors: DataFrame, t: Int): DataFrame = {
    // ONE copy of the weight-bounds contract for every biased entry
    // point (corpus and fused) — a cap or rationale change here
    // reaches both walkers
    require(Seq(wReturn, wStay, wExplore).forall(w => w >= 1 && w <= 1000),
      "integer biases in [1, 1000] (exact rationals over a common " +
        "denominator; 0 would need dead-end handling the walk " +
        "semantics don't define)")
    val passthrough = Seq(col("start"), col("walk")) ++ carry.map(col)
    if (t == 1)
      // step 1: uniform (no prev); the frontier leaves carrying
      // only prev = the vertex it stepped from (four longs a row —
      // prev's adjacency is re-derived next step, see scaladoc)
      frontier.withColumn("h", pickHash(1))
        .join(neighbors, col("cur") === col("src"))
        .select(passthrough ++ Seq(
          element_at(col("dsts"),
            (col("h") % col("deg") + 1L).cast("int")).as("cur"),
          col("cur").as("prev")): _*)
    else
      frontier.withColumn("h", pickHash(t))
        .join(neighbors, col("cur") === col("src"))
        // prev's out-neighbors from the SAME persisted adjacency —
        // inner join is safe: prev has at least the out-edge the
        // walk arrived through
        .join(neighbors.select(col("src").as("prev"),
          col("dsts").as("prev_dsts")), "prev")
        // weights elementwise over the dst-sorted candidates;
        // staged as its own column so total and the range fold
        // both read it
        .withColumn("wts", transform(col("dsts"), d =>
          when(d === col("prev"), lit(wReturn.toLong))
            .when(array_contains(col("prev_dsts"), d),
              lit(wStay.toLong))
            .otherwise(lit(wExplore.toLong))))
        .withColumn("target",
          col("h") % aggregate(col("wts"), lit(0L), (a, x) => a + x))
        // fold the cumulative ranges: first index whose range
        // covers target — (rem, found) accumulator, found = -1
        // until hit
        .withColumn("pick", aggregate(col("wts"),
          struct(col("target").as("rem"), lit(-1).as("found"),
                 lit(0).as("pos")),
          (acc, w) =>
            when(acc.getField("found") >= 0, acc)
              .when(acc.getField("rem") < w,
                struct(acc.getField("rem").as("rem"),
                       acc.getField("pos").as("found"),
                       (acc.getField("pos") + 1).as("pos")))
              .otherwise(
                struct((acc.getField("rem") - w).as("rem"),
                       lit(-1).as("found"),
                       (acc.getField("pos") + 1).as("pos"))),
          acc => acc.getField("found")))
        .select(passthrough ++ Seq(
          element_at(col("dsts"), col("pick") + 1).as("cur"),
          col("cur").as("prev")): _*)
  }

  /** Skip-gram co-occurrence pairs from a walk corpus — the word2vec-
    * style training signal walk generation exists to produce: within
    * each walk, every ordered (center, context) position pair at
    * distance ≤ `window` contributes one count. Deterministic input
    * ([[deterministicWalks]]) → deterministic counts, so graph-
    * embedding training data is reproducible end to end.
    *
    * Scale shape: one self-join co-keyed on (start, walk) — each walk
    * is ≤ steps+1 rows, so the join blowup is the bounded
    * (steps+1)·2·window factor, never corpus-squared — followed by a
    * map-side-combined (center, context) count. At 100 TB the walks
    * table is written bucketed by the full join key (start, walk) and
    * the self-join is shuffle-free: the SortMergeJoin consumes both
    * bucketed scans with zero ShuffleExchange (the
    * `walk_pairs_bucketed` demo runs exactly that layout; PlanShapeSpec
    * pins the plan with broadcast disabled). Bucketing on start alone
    * is NOT enough under Spark's default
    * requireAllClusterKeysForCoPartition — the planner would re-shuffle
    * on the composite and drop the bucketed read.
    *
    * @param walks output of [[deterministicWalks]] (start, walk, step,
    *              node)
    * @return (center, context, cnt) aggregated over all walks
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1 && window <= 16, "bounded context window")
    val a = walks.select(col("start"), col("walk"),
      col("step").as("step_a"), col("node").as("center"))
    val b = walks.select(col("start"), col("walk"),
      col("step").as("step_b"), col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .filter(col("step_a") =!= col("step_b") &&
        abs(col("step_a") - col("step_b")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[skipGramPairs]] FUSED with uniform walk generation (VERDICT r14
    * #4) — the walk corpus never materializes: each frontier row
    * carries the last `window` visited nodes as a bounded array
    * (`recent`, oldest first), and stepping to node n emits the 2·|recent|
    * ordered (center, context) increments (r, n) and (n, r) right
    * there — every ordered pair at distance ≤ window is emitted
    * exactly once, when its LATER position is generated. The union of
    * per-step increments feeds one map-side-combined count, so what
    * reaches storage is only the ≤ steps persisted frontiers (four
    * longs + a ≤window array per row) and the aggregated pair frame —
    * never the steps·walksPerStart·|V|-row walk table whose
    * localCheckpoint made SCALECURVE §10's last octave storage-bound
    * (×5.6 wall per ×4 data from MemoryStore eviction), and never the
    * self-join that re-read it. Same edge picks (identical
    * [[pickHash]] chain), same dangling-walk semantics (a dead
    * frontier row just stops emitting), so the counts are bit-equal to
    * `skipGramPairs(deterministicWalks(...), window)` — GraphSpec pins
    * it, and the `walk_pairs` oracle is unchanged. The node2vec-biased
    * walker has the same fusion as [[walkSkipGramPairsBiased]]; only
    * the corpus-as-artifact jobs ([[deterministicWalks]],
    * [[biasedWalks]], `graph_walks`, the bucketed-table demo) still
    * materialize, by design — fuse there and the artifact IS the
    * product being deleted.
    */
  def walkSkipGramPairs(edges: DataFrame, srcCol: String, dstCol: String,
                        steps: Int = 3, walksPerStart: Int = 1,
                        window: Int = 2): DataFrame =
    fusedPairsLoop(edges, srcCol, dstCol, steps, walksPerStart, window,
      uniformStep(Seq("recent")))

  /** [[walkSkipGramPairs]] over the node2vec-BIASED walker — the fused
    * pairs path for biased corpora: same per-step increment emission,
    * same no-corpus/no-self-join shape, with [[biasedStep]]'s weight
    * fold picking the edges (the `prev` column the bias needs rides
    * the frontier exactly as in [[biasedWalks]]). With all weights
    * equal this IS [[walkSkipGramPairs]] row for row, and both are
    * bit-equal to `skipGramPairs(biasedWalks(...))` (GraphSpec).
    */
  def walkSkipGramPairsBiased(edges: DataFrame, srcCol: String,
      dstCol: String, steps: Int = 3, walksPerStart: Int = 1,
      window: Int = 2, wReturn: Int = 1, wStay: Int = 1,
      wExplore: Int = 1): DataFrame =
    fusedPairsLoop(edges, srcCol, dstCol, steps, walksPerStart, window,
      biasedStep(wReturn, wStay, wExplore, Seq("recent")))

  /** The fused-pairs engine shared by the uniform and biased variants:
    * `step` must pass the `recent` buffer through (both step builders
    * take it as a carry column) and may add its own state columns
    * (`prev`), which the recent update preserves via withColumn.
    */
  private def fusedPairsLoop(edges: DataFrame, srcCol: String,
      dstCol: String, steps: Int, walksPerStart: Int, window: Int,
      step: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    require(window >= 1 && window <= 16, "bounded context window")
    val (neighbors, starts) =
      walkSetup(edges, srcCol, dstCol, steps, walksPerStart)
    val kept = scala.collection.mutable.Buffer[DataFrame](neighbors)
    var frontier = starts
      .select(col("start"), col("walk"), col("start").as("cur"),
        array(col("start")).as("recent"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    kept += frontier
    var parts = List.empty[DataFrame]
    for (t <- 1 to steps) {
      // the walker's own pick, plus the recent buffer carried through;
      // persisted because it feeds TWO consumers (the increments and
      // the next frontier) — the lazy-cache-until-one-materialization
      // walkLoop stance
      val stepped = step(frontier, neighbors, t)
        .persist(StorageLevel.MEMORY_AND_DISK)
      kept += stepped
      parts ::= stepped.select(explode(concat(
          transform(col("recent"), r =>
            struct(r.as("center"), col("cur").as("context"))),
          transform(col("recent"), r =>
            struct(col("cur").as("center"), r.as("context"))))).as("p"))
        .select(col("p.center").as("center"),
                col("p.context").as("context"))
      if (t < steps) {
        // recent holds at most `window` nodes, so the append overflows
        // by at most one — dropping the head restores the bound;
        // withColumn keeps every other frontier column (cur, prev)
        val appended = concat(col("recent"), array(col("cur")))
        frontier = stepped.withColumn("recent",
          when(size(appended) > window, slice(appended, 2, window))
            .otherwise(appended))
      }
    }
    // one materialization of the aggregated pair frame through the
    // cached chain, then release every intermediate (in finally — a
    // failed job must not strand ≤ steps frontier caches)
    try parts.reduce(_.union(_))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    finally kept.foreach(_.unpersist(false))
  }

  /** Semi-supervised label propagation — spread a small set of trusted
    * labels (vetted language/topic/quality tags) through the link
    * structure: each synchronous round, every non-seed vertex takes
    * the MODE of its labeled neighbors' labels (ties → smallest
    * label), seeds stay clamped, and a vertex with no labeled
    * neighbor keeps what it has (null until reached). Deterministic
    * by construction — no random order, no float scores — so the
    * whole iteration verifies against an unrolled SQL oracle, like
    * [[pageRankFixedPoint]].
    *
    * Scale shape: per round one join of the current labels against the
    * symmetrized edge frame (persisted once), one (vertex, label)
    * count, one per-vertex min_by winner pick (both map-side-combined
    * hash aggregates), and one left join back. Intermediate rounds
    * stay cached until one final materialization (each is referenced
    * twice downstream), then everything is released — see the in-loop
    * comment for the measured failure modes either way.
    *
    * @param seeds  (id, label) rows; ids absent from the graph are
    *               ignored, duplicate ids resolve to the smallest label
    * @return (id, label, is_seed) — label null if no seed's influence
    *         reached the vertex within `rounds`
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, seedIdCol: String,
                       seedLabelCol: String, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "fixed round budget")
    val sym = symmetrized(edges, srcCol, dstCol)
    val verts = sym.select(col("a").as("id")).distinct()
    val sd = seeds
      .select(col(seedIdCol).cast("long").as("id"),
              col(seedLabelCol).cast("string").as("seed_label"))
      .groupBy("id").agg(min(col("seed_label")).as("seed_label"))
    val init = verts.join(sd, Seq("id"), "left")
      .select(col("id"), col("seed_label").as("label"),
              col("seed_label").isNotNull.as("is_seed"))
    labelRounds(sym, init, rounds)
  }

  /** Resume label propagation from a SAVED (id, label, is_seed) state —
    * the recurrence is Markovian in exactly that state (each round
    * reads only the current labels and the clamp flags), so on an
    * unchanged graph resume(k)+resume(m) equals from-scratch(k+m)
    * bit-for-bit (GraphSpec), the same split-exactness as
    * [[pageRankResume]] — a propagation checkpoint is a resumable
    * artifact, not an approximation. After an edge append, vertices
    * new to the graph start unlabeled (null, unclamped), exactly where
    * a from-scratch run would start them, and the iteration budget
    * spreads the EXISTING labels onward instead of replaying history.
    *
    * @param prevLabels (id, label, is_seed) — the output contract of
    *                   [[labelPropagation]] / a previous resume
    */
  def labelPropagationResume(edges: DataFrame, srcCol: String,
                             dstCol: String, prevLabels: DataFrame,
                             rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "fixed round budget")
    val sym = symmetrized(edges, srcCol, dstCol)
    val verts = sym.select(col("a").as("id")).distinct()
    val prev = prevLabels.select(col("id").cast("long").as("id"),
      col("label").cast("string").as("prev_label"),
      col("is_seed").as("prev_seed"))
    val init = verts.join(prev, Seq("id"), "left")
      .select(col("id"), col("prev_label").as("label"),
              coalesce(col("prev_seed"), lit(false)).as("is_seed"))
    labelRounds(sym, init, rounds)
  }

  /** Exact per-vertex triangle counts + local clustering coefficient
    * over the undirected simple graph induced by `edges` (direction,
    * multiplicity, and self-loops dropped) — the standard corpus-graph
    * cohesion metrics (a link farm shows as a dense near-clique: high
    * lcc; organically cited pages show low-lcc star shapes).
    *
    * The 100 TB shape is the degree-ordered orientation: each
    * undirected edge is directed from its (degree, id)-smaller endpoint
    * to the larger, which bounds every vertex's OUT-degree by O(√m)
    * regardless of skew (a hub of degree d keeps at most O(√m)
    * out-edges because all its out-neighbors must out-rank it). The
    * wedge self-join on the oriented source — the quadratic step of
    * any triangle count — therefore fans out per key by at most
    * O(√m)², total O(m^1.5) pairs, the known optimum for exact
    * counting; un-oriented, a single degree-d hub alone contributes
    * d² wedges. Ordering uses the ARITHMETIC key deg·2³² + id (ids
    * must sit in [0, 2³¹), checked by one bounded aggregate) — a
    * global row_number window would serialize |V| rows through one
    * task to learn the same total order.
    *
    * Joins: two id-keyed joins to attach endpoint keys, one self
    * equi-join on the oriented source (wedges), one (v, w) pair
    * equi-join closing the wedges, and a map-side-combinable explode
    * count — every shuffle is on a data key, no window, no cartesian.
    *
    * @return (id, degree, triangles, lcc): one row per vertex of the
    *         simple graph; lcc = 2·triangles / (degree·(degree−1))
    *         (0.0 below degree 2) — plain integer-to-IEEE division,
    *         so bit-identical in any engine.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val und = undirectedSimple(edges, srcCol, dstCol)
    // the wedge enumeration expands by the oriented out-degree — the
    // same shape that spilled in linkCandidates/kTruss (GBs per 19M
    // edges on an 8g heap; ProfileGraphSpill) — so big graphs run
    // under the shared expansion-sized scope; the count doubles as
    // the persisted frame's materialization and runs inside the try
    // so a failure in it cannot strand the cached frame
    var deg: Option[DataFrame] = None
    var oriented: Option[DataFrame] = None
    val out =
      try {
        val m = und.count()
        withExpansionSizedShuffles(und,
            engage = m >= expansionEngageEdges) { undS =>
          val d = undS.select(explode(array(col("a"), col("b"))).as("id"))
            .groupBy("id").agg(count(lit(1)).as("degree"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          deg = Some(d)
          val (tris, ori) = orientedTriangles(undS, d)
          oriented = Some(ori)
          val perVertex = tris
            .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
            .groupBy("id").agg(count(lit(1)).as("triangles"))
          d.join(perVertex, Seq("id"), "left")
            .select(col("id"), col("degree"),
              coalesce(col("triangles"), lit(0L)).as("triangles"),
              when(col("degree") >= 2,
                lit(2.0) * coalesce(col("triangles"), lit(0L)) /
                  (col("degree") * (col("degree") - lit(1.0))))
                .otherwise(lit(0.0)).as("lcc"))
            .localCheckpoint(true)
        }
      } finally {
        (Seq(und) ++ deg ++ oriented).foreach(_.unpersist(false))
      }
    out
  }

  /** Shared degree-ordered triangle enumeration over a canonical
    * (a, b) simple-graph frame and its degree frame: returns the
    * (u, v, w) triangle list (each triangle exactly once, corners in
    * (degree, id) orientation order) plus the persisted oriented edge
    * frame — the CALLER unpersists it after materializing. The
    * id-range guard rides INSIDE the key projection (raise_error
    * branch, codegen'd and never true on valid input) instead of an
    * eager bounds aggregate — same loud failure, one fewer job. See
    * [[triangleCounts]] for the O(m^1.5) orientation argument.
    */
  private def orientedTriangles(und: DataFrame, deg: DataFrame)
      : (DataFrame, DataFrame) = {
    def okey(d: Column, id: Column): Column =
      when(id < 0L || id >= (1L << 31),
        raise_error(concat(lit("vertex ids must sit in [0, 2^31) for " +
          "the deg*2^32+id order key; got "), id.cast("string"))))
        .otherwise(d * lit(1L << 32) + id)
    val ka = deg.select(col("id").as("a"),
      okey(col("degree"), col("id")).as("ka"))
    val kb = deg.select(col("id").as("b"),
      okey(col("degree"), col("id")).as("kb"))
    val oriented = und.join(ka, "a").join(kb, "b")
      .select(when(col("ka") < col("kb"), col("a")).otherwise(col("b"))
                .as("x"),
              when(col("ka") < col("kb"), col("b")).otherwise(col("a"))
                .as("y"),
              greatest(col("ka"), col("kb")).as("ykey"))
      .repartition(col("x"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.x") === col("e2.x") && col("e1.ykey") < col("e2.ykey"))
      .select(col("e1.x").as("u"), col("e1.y").as("v"),
              col("e2.y").as("w"))
    val tris = wedges
      .join(oriented.select(col("x").as("v"), col("y").as("w")),
        Seq("v", "w"))
      .select("u", "v", "w")
    (tris, oriented)
  }

  /** Per-edge triangle support over a canonical simple-graph frame:
    * (a, b, support) for EVERY live edge (zero-triangle edges
    * included via the left join) — each enumerated triangle credits
    * its three edges, re-canonicalized to (min, max) id order because
    * the enumeration's corner order is by (degree, id), not id.
    */
  private def edgeSupport(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val (tris, oriented) = orientedTriangles(und, deg)
    val credits = tris
      .select(explode(array(
        struct(col("u").as("p"), col("v").as("q")),
        struct(col("u").as("p"), col("w").as("q")),
        struct(col("v").as("p"), col("w").as("q")))).as("e"))
      .select(least(col("e.p"), col("e.q")).as("a"),
              greatest(col("e.p"), col("e.q")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    val out = und.join(credits, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .localCheckpoint(true)
    oriented.unpersist(false)
    out
  }

  /** Incremental support maintenance — the [[kTruss]] delta round:
    * dropping edge set D from graph G only kills triangles that
    * CONTAIN a D-edge, so for every surviving edge f,
    * support_G\D(f) = support_G(f) − #{distinct triangles of G
    * containing f and ≥1 D-edge}. Distinctness is load-bearing: a
    * triangle with two dropped edges dies ONCE, so debits are counted
    * per dead TRIANGLE (canonical sorted triple, dedup) and then
    * exploded to its edges — summing per dropped edge would
    * double-debit shared triangles.
    *
    * Dead-triangle enumeration: for each dropped (a, b), the third
    * vertices are neighbors c of the LOWER-DEGREE endpoint p with
    * (other, c) ∈ G — one keyed join of D against G's symmetrized
    * adjacency plus one semi-join edge probe:
    * O(Σ_{(a,b)∈D} min(deg(a), deg(b))) candidate rows, vs the full
    * re-enumeration's O(m^1.5). (Pivoting on the canonical low-ID
    * endpoint instead paid deg(hub) whenever a hub happened to hold
    * the low id — worst case O(|D|·max_deg on skewed graphs.) The
    * degree lookup is one count over the adjacency rows of D's
    * endpoints only, piggybacked on the sym frame the join already
    * builds. Full degrees/orientation are never needed — the delta is
    * against the PREVIOUS round's supports, not a fresh count.
    *
    * @param prevEdges the canonical (a,b) frame `surviving ∪ dropped`
    *                  — the graph the carried supports were computed
    *                  over
    * @return surviving (a, b, support) with supports exact for the
    *         graph minus the dropped set — bit-equal to
    *         `edgeSupport(surviving)` (GraphSpec pins both paths)
    */
  private def decrementSupport(prevEdges: DataFrame,
                               surviving: DataFrame,
                               dropped: DataFrame): DataFrame = {
    val sym = prevEdges.select(col("a").as("u"), col("b").as("v"))
      .union(prevEdges.select(col("b").as("u"), col("a").as("v")))
    // degrees of D's endpoints only (semi-join bounds the agg input
    // to adjacency rows of dropped vertices); both endpoints of a
    // dropped edge are in prevEdges, so the inner joins below lose
    // nothing. Ties pivot on `a` — either endpoint enumerates the
    // same canonical triangle set, so the choice is correctness-free.
    val dropVerts = dropped.select(col("a").as("u"))
      .union(dropped.select(col("b").as("u"))).distinct()
    val deg = sym.join(dropVerts, Seq("u"), "left_semi")
      .groupBy("u").agg(count(lit(1)).as("dg"))
    val pivoted = dropped.select("a", "b")
      .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        when(col("db") < col("da"), col("b")).otherwise(col("a"))
          .as("piv"),
        when(col("db") < col("da"), col("a")).otherwise(col("b"))
          .as("oth"))
    val cand = pivoted
      .join(sym, col("piv") === col("u"))
      .select(col("a"), col("b"), col("oth"), col("v").as("c"))
      .filter(col("c") =!= col("oth"))
      .select(col("a"), col("b"), col("c"),
        least(col("oth"), col("c")).as("x"),
        greatest(col("oth"), col("c")).as("y"))
    val closed = cand.join(
      prevEdges.select(col("a").as("x"), col("b").as("y")),
      Seq("x", "y"), "left_semi")
    val tris = closed
      .select(array_sort(array(col("a"), col("b"), col("c"))).as("t"))
      .select(col("t")(0).as("u"), col("t")(1).as("v"),
              col("t")(2).as("w"))
      .distinct()
    // u < v < w, so the exploded edges are already canonical
    val debits = tris.select(explode(array(
        struct(col("u").as("p"), col("v").as("q")),
        struct(col("u").as("p"), col("w").as("q")),
        struct(col("v").as("p"), col("w").as("q")))).as("e"))
      .select(col("e.p").as("a"), col("e.q").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("debit"))
    surviving.join(debits, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (col("support") - coalesce(col("debit"), lit(0L)))
          .as("support"))
      .localCheckpoint(true)
  }

  /** k-truss (bounded-round edge peel) — the EDGE-level cohesion cut
    * completing the triad (vertex lcc → [[triangleCounts]], subgraph
    * core → [[kCore]], edge truss here): iteratively drop edges
    * supported by fewer than k−2 triangles, keeping the maximal
    * subgraph where every surviving edge closes ≥ k−2 triangles with
    * surviving neighbors. The curation read: an edge that never
    * closes a triangle is an un-corroborated citation; truss edges
    * are mutually witnessed — the strictest spam-link filter of the
    * three, and the standard community-backbone extraction.
    *
    * Round structure (r13): the FIRST support pass is the full
    * O(m^1.5) [[edgeSupport]] enumeration; a later round with a
    * sparse drop set updates the carried supports by
    * [[decrementSupport]] — triangles touched by the dropped set
    * only, O(m + |D|·deg) instead of a full re-enumeration
    * (deletions do change degrees and orientation, but the delta
    * form never recomputes either — it subtracts dead triangles from
    * exact previous supports, which is algebraically identical;
    * GraphSpec pins `incremental = false` full re-enumeration
    * against the delta path bit for bit).
    * Rounds cut eagerly (localCheckpoint per support frame), and the
    * convergence test is the free edge-count equality on the
    * checkpointed leaf. Budget semantics mirror [[kCore]]:
    * post-convergence rounds are provable no-ops, so the early stop
    * equals the full-budget unrolled oracle bit for bit.
    *
    * The delta-vs-full choice is ADAPTIVE per round, decided from two
    * counts the convergence test already pays for: delta runs only
    * when the dropped set is sparse (4·|D| ≤ survivors — the
    * long-tail rounds where it saves a full O(m^1.5) pass); a
    * mass-extinction round (the circulant's first peel drops ~m/4)
    * re-enumerates, because there the delta does full-enumeration
    * work PLUS two extra shuffles. `incremental = false` forces full
    * re-enumeration every round — the cross-check path GraphSpec
    * pins bit-equal.
    *
    * Small-graph fast path (the [[kCore]] probe pattern): under
    * `localCutoff` canonical edges the whole peel runs as a driver
    * loop — structurally the same carried-support round (same filter,
    * same convergence test, same budget), so it is bit-equal by
    * construction and GraphSpec pins it against the distributed
    * rounds. The demo corpus (~20k edges at sf0.1) sits under the
    * default cutoff; ScaleCurve's 300k+ graphs never do.
    *
    * @param incremental false forces the per-round full
    *                    re-enumeration (cross-check path)
    * @param localCutoff max canonical edge count for the driver fast
    *                    path (0 disables it). DRIVER MEMORY: up to
    *                    localCutoff (a,b) rows are collected as boxed
    *                    GenericRows (two boxed Longs each) — order of
    *                    5–10 MB of driver heap at the default 64Ki,
    *                    not the raw 1 MB of primitive longs; callers
    *                    with tight drivers should lower it, not raise
    *                    it. Over-cutoff calls collect NOTHING: the
    *                    gating count that seeds the peel also decides
    *                    the fast path (r15 — the r14 shape paid a
    *                    separate limit(cutoff+1) probe job).
    * @return surviving (id_a, id_b, support) edges with their support
    *         in the FINAL subgraph (≥ k−2 iff converged)
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int, maxRounds: Int = 4,
             incremental: Boolean = true,
             localCutoff: Int = 65536): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (k=2 is the whole graph)")
    require(maxRounds >= 1 && maxRounds <= 16, "fixed round budget")
    val first = undirectedSimple(edges, srcCol, dstCol)
    // everything below — probe, gating count, peel — runs inside one
    // try so a failure in ANY job (the 40 GB-class wedge joins
    // included) cannot strand the persisted canonical frame in the
    // block manager; the early fast-path return still runs the
    // finally.
    try {
    // ONE gating action (VERDICT r14 #7): the count both fills the
    // persisted canonical frame's cache and decides the fast path —
    // the r14 shape paid a separate limit(cutoff+1).collect() probe
    // job before it. The under-cutoff collect below is a leaf scan of
    // the just-filled cache, bounded by the count it is gated on.
    var lastCnt = first.count()
    if (localCutoff > 0 && lastCnt <= localCutoff) {
      {
        val probe = first.collect()
        val out = localKTruss(
          probe.map(r => (r.getLong(0), r.getLong(1))).toSeq,
          k, maxRounds)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id_a",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("id_b",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("support",
            org.apache.spark.sql.types.LongType, nullable = false)))
        return edges.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              out.map { case (a, b, s) =>
                org.apache.spark.sql.Row(a, b, s) }).asJava),
          schema)
      }
    }
    // the checkpointed support frame is CARRIED: on convergence (a
    // round that drops nothing) the supports computed over the
    // unchanged live frame ARE the final supports, so the converged
    // exit pays no extra enumeration; on budget exhaustion the final
    // frame's supports are the last round's update — exactly the
    // oracle's sup_{R+1} either way.
    //
    // Every round's enumeration is a wedge join whose output expands
    // by the oriented out-degree, the same shape that spilled 31 GB
    // in linkCandidates — here it spilled 43 GB at 19M circulant
    // edges (ProfileGraphSpill), so the whole peel runs under
    // [[withExpansionSizedShuffles]] above the shared
    // [[expansionEngageEdges]] threshold; each round localCheckpoints
    // inside the scope.
    withExpansionSizedShuffles(first,
        engage = lastCnt >= expansionEngageEdges) { firstS =>
      var sup = edgeSupport(firstS)
      var r = 0
      var converged = false
      while (r < maxRounds && !converged) {
        val surviving = sup.filter(col("support") >= (k - 2).toLong)
        val c = surviving.count() // leaf scan of the round checkpoint
        if (c == lastCnt) converged = true
        else {
          val dropped = lastCnt - c
          sup =
            if (incremental && 4L * dropped <= c)
              decrementSupport(sup.select("a", "b"), surviving,
                sup.filter(col("support") < (k - 2).toLong))
            else edgeSupport(surviving.select("a", "b"))
        }
        lastCnt = c
        r += 1
      }
      sup.select(col("a").as("id_a"), col("b").as("id_b"),
        col("support"))
    }
    } finally {
      first.unpersist(false)
    }
  }

  /** Driver-side exact bounded-round truss peel — the [[kTruss]] fast
    * path. Structurally the distributed loop: carried supports,
    * filter < k−2, convergence on survivor-count equality, budget
    * cap; supports by common-neighbor intersection over adjacency
    * sets.
    */
  private def localKTruss(pairs: Seq[(Long, Long)], k: Int,
                          maxRounds: Int): Seq[(Long, Long, Long)] = {
    def supports(es: Seq[(Long, Long)])
        : Map[(Long, Long), Long] = {
      val adj = scala.collection.mutable
        .Map.empty[Long, scala.collection.mutable.Set[Long]]
      for ((a, b) <- es) {
        adj.getOrElseUpdate(a,
          scala.collection.mutable.Set.empty[Long]) += b
        adj.getOrElseUpdate(b,
          scala.collection.mutable.Set.empty[Long]) += a
      }
      es.map { case (a, b) =>
        (a, b) -> (adj(a) & adj(b)).size.toLong }.toMap
    }
    var sup = supports(pairs)
    var lastCnt = pairs.size.toLong
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val surviving = sup.filter(_._2 >= (k - 2).toLong)
      val c = surviving.size.toLong
      if (c == lastCnt) converged = true
      else sup = supports(surviving.keys.toSeq)
      lastCnt = c
      r += 1
    }
    sup.toSeq.map { case ((a, b), s) => (a, b, s) }
  }

  /** k-core decomposition (bounded-round peel) — the connectivity-
    * robustness cut: iteratively remove vertices with degree < k until
    * none remain, keeping the maximal subgraph where everyone has ≥ k
    * neighbors. The curation read: a k-core survives the removal of
    * any (k−1) of a page's endorsers, so core membership is a
    * collusion-resistant quality gate where raw degree is one spam
    * campaign away from gamed.
    *
    * Iteration contract mirrors [[pageRankFixedPoint]]: a FIXED round
    * budget (reproducible, oracle-unrollable) with an early stop the
    * moment a round removes nothing — the stop test is a 1-row
    * `isEmpty` on the below-k frame, one bounded job per round, and
    * rounds t..budget after convergence are provable no-ops, so the
    * early-stopped result equals the full-budget oracle bit for bit.
    * Per round: one map-side-combinable degree count + two anti-joins
    * keyed on the edge endpoints — the live edge frame only ever
    * SHRINKS, so per-round cost falls as the peel proceeds.
    *
    * No resume variant BY DESIGN (unlike the rank/label/HITS family):
    * peeling is monotone DELETION, and an edge append can re-qualify
    * vertices peeled long ago — the live frame alone is not Markovian
    * state for the appended graph, so a saved peel cannot warm-start
    * correctly. The artifact story here is the opposite direction:
    * re-peel the merged graph, which the shrinking-frame rounds make
    * cheap relative to the iterative operators that DO resume.
    *
    * Small-graph fast path (the [[Components.incrementalComponents]]
    * probe pattern): when the canonical simple-edge frame fits under
    * `localCutoff` rows — decided by the seed count the peel pays
    * anyway, and collected only AFTER that bound is known, never an
    * unbounded collect — the whole peel runs as a driver loop over
    * the collected edges. Bit-equal to the
    * distributed rounds by construction: each round removes exactly
    * the vertices with degree < k from the same canonical frame, the
    * early stop fires on the same no-op-round condition, and rounds
    * after the fixpoint are no-ops in both paths (ExtensionsSpec
    * asserts equality with `localCutoff = 0` forcing the distributed
    * loop). The distributed path is untouched above the cutoff — the
    * fast path exists because the peel's ~14 fixed stage launches
    * dominate demo-scale inputs, not because the big-graph shape
    * changed.
    *
    * @param k         minimum surviving degree (≥ 2; k=1 is the
    *                  whole simple graph minus isolated vertices)
    * @param maxRounds peel budget; peeling removes ≥1 vertex per
    *                  non-final round, so convergence within the
    *                  budget is the common case, and a non-converged
    *                  result is still exactly the budget-round peel
    * @param localCutoff max canonical edge count for the driver fast
    *                  path (0 disables it — every test of the
    *                  distributed rounds pins this). DRIVER MEMORY:
    *                  up to localCutoff (a,b) rows are collected as
    *                  boxed GenericRows (two boxed Longs each) —
    *                  order of 5–10 MB of driver heap at the default
    *                  64Ki, not the raw 1 MB of primitive longs;
    *                  lower it on tight drivers. Over-cutoff calls
    *                  collect nothing: the seed count that fills the
    *                  canonical frame's cache also decides the fast
    *                  path (r15).
    * @return (id, core_degree): vertices of the surviving subgraph
    *         with their degree in it (≥ k iff converged)
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int = 8,
            localCutoff: Int = 65536): DataFrame = {
    require(k >= 2, "k-core needs k >= 2 (k=1 is the input graph)")
    require(maxRounds >= 1 && maxRounds <= 32, "fixed round budget")
    var live = undirectedSimple(edges, srcCol, dstCol)
    // every persisted frame (the canonical input included) — released
    // in finally, so a failure in ANY job (seed count, fast-path
    // collect, any peel round) cannot strand caches in the block
    // manager; the fast-path return still runs the finally
    val kept = scala.collection.mutable.Buffer[DataFrame](live)
    try {
    // ONE gating action (VERDICT r14 #7): the seed count below both
    // fills the persisted canonical frame's cache and decides the
    // fast path — the r14 shape paid a separate limit(cutoff+1)
    // .collect() probe job before it. The under-cutoff collect is a
    // leaf scan of the just-filled cache, bounded by its count.
    val seedCnt = live.count()
    if (localCutoff > 0 && seedCnt <= localCutoff) {
      {
        val probe = live.collect()
        val out = localKCore(
          probe.map(r => (r.getLong(0), r.getLong(1))).toSeq,
          k, maxRounds)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("core_degree",
            org.apache.spark.sql.types.LongType, nullable = false)))
        return edges.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              out.map { case (id, d) =>
                org.apache.spark.sql.Row(id, d) }).asJava),
          schema)
      }
    }
    // over the cutoff: nothing was collected — the seed count alone
    // decided, and the distributed rounds reuse it as lastCnt below
    def degreesOf(f: DataFrame): DataFrame =
      f.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("core_degree"))
    // Rounds chain LAZILY (the labelRounds shape): per-round persist,
    // ONE materialization per 4-round block at the lineage cut — a
    // per-round stop-test job re-derived each round's full chain and
    // tripled the wall at sf0.1 (isEmpty partial-fills worse still).
    // live is referenced TWICE per round (both anti-joins), so the
    // ANALYZED plan doubles per round — 2^rounds copies of the input
    // lineage OOMs plan analysis long before execution; the cut every
    // 4th round bounds the tree at 2^4 copies. Convergence is checked
    // at the cuts by edge-count equality against the PREVIOUS count —
    // seeded with the input edge count below, so the first cut can
    // already detect a from-the-start fixpoint (a peel round that
    // removes any vertex strictly shrinks the edge frame, so equal
    // counts across a block ⟺ all its rounds were no-ops ⟺
    // fixpoint): at most one cut block of no-op rounds runs before
    // the stop fires, the price of keeping inner rounds action-free.
    // The seed count (one action, paid above as the fast-path gate)
    // also pre-filled the canonical frame's cache.
    var lastCnt = seedCnt
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val bad = degreesOf(live)
        .filter(col("core_degree") < k).select("id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      kept += bad
      val next = live
        .join(bad.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
        .join(bad.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
      if (r % 4 == 3 || r == maxRounds - 1) {
        live = next.localCheckpoint(true)
        val c = live.count() // a leaf scan of the checkpoint, cheap
        if (c == lastCnt) converged = true
        lastCnt = c
      } else {
        live = next.persist(StorageLevel.MEMORY_AND_DISK)
        kept += live
      }
      r += 1
    }
    degreesOf(live).localCheckpoint(true)
    } finally {
      kept.foreach(_.unpersist(false))
    }
  }

  /** Driver-side exact peel over a bounded canonical edge list — the
    * [[kCore]] fast path. Same round semantics as the distributed
    * loop: remove ALL below-k vertices simultaneously each round,
    * stop early when a round finds none (later rounds are no-ops),
    * final answer = surviving-subgraph degrees.
    */
  private def localKCore(pairs: Seq[(Long, Long)], k: Int,
                         maxRounds: Int): Seq[(Long, Long)] = {
    def degrees(es: Seq[(Long, Long)])
        : scala.collection.mutable.Map[Long, Long] = {
      val d = scala.collection.mutable.Map.empty[Long, Long]
      for ((a, b) <- es) {
        d.update(a, d.getOrElse(a, 0L) + 1L)
        d.update(b, d.getOrElse(b, 0L) + 1L)
      }
      d
    }
    var live = pairs
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val bad = degrees(live)
        .collect { case (v, d) if d < k => v }.toSet
      if (bad.isEmpty) done = true
      else live = live.filterNot { case (a, b) => bad(a) || bad(b) }
      r += 1
    }
    degrees(live).toSeq
  }

  /** Canonical-edge count above which the wedge-expansion operators
    * ([[triangleCounts]], [[kTruss]], [[linkCandidates]]) plan under
    * [[withExpansionSizedShuffles]]; below it the defaults already fit
    * and the extra map buckets only cost scheduling. One shared
    * constant so the three gates and the SCALECURVE prose cannot
    * drift (the r14 threshold move from 2M left a stale doc number —
    * ADVICE r14 #1).
    */
  private[graft] val expansionEngageEdges: Long = 1L << 20

  // one expansion-confed child session per parent (newSession shares
  // SparkContext, catalog, and — load-bearing here — the CacheManager,
  // so persisted frames hit from either session; SQLConf is private).
  // WEAK keys: a retired parent session must not be pinned for the
  // JVM's lifetime by this cache (the child holds no parent reference
  // — only the shared context — so the entry collects with its key).
  private val expansionSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
                              org.apache.spark.sql.SparkSession]())

  private val expansionConfs = Seq(
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m")

  private def expansionSession(parent: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val child = expansionSessions.synchronized {
      Option(expansionSessions.get(parent)).getOrElse {
        val c = parent.newSession()
        expansionSessions.put(parent, c)
        c
      }
    }
    // newSession seeds its SQLConf from the SparkContext conf
    // (builder-time settings), not the parent's RUNTIME conf edits —
    // replay the delta ON EVERY ENGAGED CALL, not just at creation, so
    // a parent conf change between calls (timezone, ANSI, AQE toggles)
    // reaches the child and it keeps planning exactly like the parent
    // in everything but the two expansion confs (static/context
    // entries re-set to an identical value are accepted; a genuinely
    // immutable divergent entry cannot exist on a shared context)
    val pinned = expansionConfs.map(_._1).toSet
    parent.conf.getAll.foreach { case (key, v) =>
      if (!pinned.contains(key) && !child.conf.getOption(key).contains(v))
        child.conf.set(key, v)
    }
    expansionConfs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  private val rebaseIds = new java.util.concurrent.atomic.AtomicLong()

  /** Re-plans `df` under session `to` with zero recompute: the plan
    * crosses sessions through a global temp view (the one PUBLIC
    * cross-session channel), resolved eagerly at `table()` so the view
    * can be dropped before returning. Persisted subtrees still hit:
    * the CacheManager lives in SharedState and matches by canonical
    * subtree, which view wrapping does not disturb.
    */
  private def rebase(df: DataFrame,
      to: org.apache.spark.sql.SparkSession): DataFrame = {
    val name = s"graft_expansion_rebase_${rebaseIds.incrementAndGet()}"
    // the global-temp database name is a (readable) static conf, not a
    // constant — honor spark.sql.globalTempDatabase overrides
    val gtdb = to.conf.get("spark.sql.globalTempDatabase", "global_temp")
    df.createOrReplaceGlobalTempView(name)
    try to.table(s"$gtdb.$name")
    finally df.sparkSession.catalog.dropGlobalTempView(name)
  }

  /** Runs `body` over a rebased `root` with every shuffle sized for a
    * downstream EXPANSION rather than its own bytes: a high initial
    * partition count (AQE can only merge, never split — without the
    * headroom the advisory is powerless) plus an 8 MB advisory, so a
    * partition that fans out by a wedge/triangle join stays
    * memory-sized after the expansion. No-op when `engage` is false
    * (small inputs: the defaults already fit).
    *
    * Session isolation (r15, VERDICT r14 #3): Spark offers no
    * per-query conf, and the r14 version mutated the SESSION SQLConf —
    * safe for sequential drivers but a concurrent query planned during
    * the scope saw the shrunk advisory. Now the scope plans in a
    * memoized `newSession()` CHILD (shared SparkContext, catalog and
    * cache; private SQLConf) carrying the two expansion confs
    * permanently; `root` crosses in — and the result crosses back —
    * via [[rebase]], so frames derived from the rebased root inherit
    * the child session and nothing observable by the parent changes.
    *
    * Contract (asserted, ADVICE r14 #2): the returned frame's plan
    * must bottom out in materialized leaves (LogicalRDD — i.e. the
    * body localCheckpointed its heavy work inside the scope). A body
    * that returned live lineage would silently re-plan it under the
    * parent's default sizing on first use, exactly the bug the
    * assert makes loud.
    */
  private[graft] def withExpansionSizedShuffles(
      root: DataFrame, engage: Boolean)
      (body: DataFrame => DataFrame): DataFrame =
    if (!engage) body(root)
    else {
      val parent = root.sparkSession
      val out = body(rebase(root, expansionSession(parent)))
      val leaves = out.queryExecution.analyzed.collectLeaves()
      require(leaves.nonEmpty && leaves.forall(
          _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        "withExpansionSizedShuffles body must return materialized " +
          "(localCheckpointed) results; live lineage would re-plan " +
          s"under default shuffle sizing. Leaves: ${leaves.map(_.nodeName)}")
      rebase(out, parent)
    }

  /** Link prediction by common neighborhood — the "suggest missing
    * edges" job (related-document discovery, knowledge-graph
    * completion): for every NON-adjacent pair sharing at least one
    * neighbor, count the common neighbors and an inverse-degree
    * weighted score, and return the top k candidates.
    *
    * Scoring is Adamic-Adar in spirit but exact-integer in arithmetic:
    * each shared neighbor u contributes 2²⁰ div deg(u) (a rare shared
    * neighbor is strong evidence, a promiscuous one weak) — log-free
    * because ln is not bit-stable across engines, and the 1/deg weight
    * carries the same ranking signal with an exact oracle.
    *
    * The scale bound is explicit and principled: centers with degree >
    * `maxCenterDegree` are EXCLUDED from pair generation — the
    * stop-neighbor rule (a hub adjacent to everyone certifies nothing,
    * exactly like a stopword in retrieval), and the only way the
    * pair fan-out is bounded at all: a degree-d center emits d²/2
    * candidate pairs, so one 10⁶-degree hub would emit 5·10¹¹ rows.
    * With the cap, fan-out ≤ maxCenterDegree²/2 per center — linear in
    * |V| total — and the final top-k is a TakeOrdered (map-side
    * partial top-k, no global sort).
    *
    * @return top-k (id_a, id_b, common, wscore) by (wscore desc,
    *         id_a, id_b); id_a < id_b, pairs never adjacent in the
    *         input's simple graph
    */
  def linkCandidates(edges: DataFrame, srcCol: String, dstCol: String,
                     maxCenterDegree: Int = 64, k: Int = 50)
      : DataFrame = {
    require(maxCenterDegree >= 2, "centers need >= 2 neighbors to pair")
    require(k >= 1, "top-k needs k >= 1")
    val und = undirectedSimple(edges, srcCol, dstCol)
    // The wedge self-join fans each row out by its degree and the pair
    // aggregate's keys are mostly unique, so partitions AQE sized to
    // 64 MB of THIS frame's bytes own multi-GB wedge slices downstream
    // — at 19M canonical edges the partial/final aggregates blew their
    // execution-memory share and spilled ~31 GB (the SCALECURVE §11
    // link-prediction ×4.1 octave). Fixed by
    // [[withExpansionSizedShuffles]] around
    // the build (the localCheckpoint at the end materializes
    // everything inside the scope): 25.7 → 17.2 s at 6.4M vertices,
    // zero spill. Measured session-wide instead of scoped, the high
    // initial count costs iterative demo-scale queries ~2× in
    // scheduling; an explicit repartition of the probe frame measured
    // net-worse (a second full exchange costs more than the spill it
    // saves).
    var centers: Option[DataFrame] = None
    def build(undS: DataFrame): DataFrame = {
      val sym = undS.union(undS.select(col("b"), col("a")))
      val deg = sym.groupBy(col("a").as("u"))
        .agg(count(lit(1)).as("degree"))
      // the degree join leaves this frame hash-partitioned by u —
      // the exact layout the self-join wants
      val c = sym.select(col("a").as("u"), col("b").as("nbr"))
        .join(deg.filter(col("degree") <= maxCenterDegree), "u")
        .withColumn("invw", expr("1048576 div degree"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      centers = Some(c)
      val pairs = c.as("c1")
        .join(c.as("c2"),
          col("c1.u") === col("c2.u") && col("c1.nbr") < col("c2.nbr"))
        .groupBy(col("c1.nbr").as("a"), col("c2.nbr").as("b"))
        .agg(count(lit(1)).as("common"),
          sum(col("c1.invw")).as("wscore"))
      pairs.join(undS, Seq("a", "b"), "left_anti")
        .select(col("a").as("id_a"), col("b").as("id_b"),
          col("common"), col("wscore"))
        .orderBy(col("wscore").desc, col("id_a"), col("id_b"))
        .limit(k)
        .localCheckpoint(true)
    }
    // Persisted frames unpersist in finally — an executor failure in
    // ANY job here, including the gating count that fills und's
    // cache, must not strand frames in the block manager.
    try {
      // materialize the persisted canonical frame and take its count:
      // the cache fill is paid once either way, and the count gates
      // the partition-sizing scope
      val m = und.count()
      withExpansionSizedShuffles(und,
        engage = m >= expansionEngageEdges)(build(_))
    } finally {
      centers.foreach(_.unpersist(false))
      und.unpersist(false)
    }
  }

  /** Canonical undirected SIMPLE graph: long-cast endpoints, self-loops
    * dropped, each edge once as (a < b), persisted — the shared front
    * door of [[triangleCounts]], [[kCore]], and [[linkCandidates]].
    */
  private def undirectedSimple(edges: DataFrame, srcCol: String,
                               dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    e.select(least(col("src"), col("dst")).as("a"),
             greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Canonical symmetrized (a, b) edge frame, persisted.
    *
    * NOT pre-hashed by the propagation probe key `b` (r20 measured and
    * rejected, same verdict as the HITS per-direction copies): sym's
    * own plan is shuffle-free (a union of two projections), and in the
    * broadcast regime the label rounds never exchange it — so an added
    * hash-by-b exchange (repartition AND the AQE-sized rebalance
    * variant) was pure cost at demo scale (label_prop_resume 2.3-2.7 s
    * -> 2.7-3.1 s isolated). At the no-broadcast scale the per-round
    * sym exchange remains; see OPTIMIZATION_r20.md for the measurement
    * and the trade.
    */
  private def symmetrized(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
    e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst").as("a"), col("src").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The synchronous propagation rounds shared by [[labelPropagation]]
    * and [[labelPropagationResume]]; releases `sym` and every
    * intermediate after the one final materialization.
    */
  private def labelRounds(sym: DataFrame, init: DataFrame,
                          rounds: Int): DataFrame = {
    var labels = init.persist(StorageLevel.MEMORY_AND_DISK)
    val kept = scala.collection.mutable.Buffer[DataFrame](labels)
    for (r <- 1 to rounds) {
      // per-vertex winner via min_by over (-count, label): max count,
      // then smallest label — one map-side-combinable hash aggregate.
      // (A row_number window is the same pick but WindowExec sorts and
      // buffers per vertex group: 3.3× slower at 1.6M vertices.)
      val picks = sym
        .join(labels.filter(col("label").isNotNull)
            .select(col("id").as("b"), col("label").as("nbr_label")),
          Seq("b"))
        .groupBy(col("a").as("id"), col("nbr_label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(min_by(col("nbr_label"),
          struct(negate(col("c")), col("nbr_label"))).as("nbr_label"))
      val next0 = labels.join(picks, Seq("id"), "left")
        .select(col("id"),
          when(col("is_seed"), col("label"))
            .otherwise(coalesce(col("nbr_label"), col("label")))
            .as("label"),
          col("is_seed"))
      // labels is referenced TWICE per round (neighbor join + keep
      // fallback), so every intermediate round must stay cached until
      // the final materialization — unpersisting a round before its
      // lazy cache entry ever filled made the final action recompute
      // the chain 2^rounds times (45 s instead of ~12 at 1.6M
      // vertices). A lineage cut every 4th round bounds the ANALYZED
      // plan at 2^4 copies for larger budgets; 3-round demos never pay
      // it.
      labels =
        if (r % 4 == 0) next0.localCheckpoint(true)
        else next0.persist(StorageLevel.MEMORY_AND_DISK)
      kept += labels
    }
    // one materialization through the cached chain, then release all
    // intermediates — callers get a self-contained leaf
    val out = labels.localCheckpoint(true)
    kept.foreach(_.unpersist(false))
    sym.unpersist(false)
    out
  }

  /** Shared setup: canonical (src, dst) longs, the distinct vertex
    * frame, and the static per-iteration probe side (src, dst, deg) —
    * hashed by src ONCE so each round shuffles only the rank vector
    * against it. Both frames come back persisted; [[iterate]] releases
    * them via `release`.
    */
  private[graft] def prep(edges: DataFrame, srcCol: String, dstCol: String,
                          iterations: Int, dampNum: Long, dampDen: Long,
                          weightCol: Option[String] = None)
      : (DataFrame, DataFrame) = {
    require(iterations >= 1 && iterations <= 64, "fixed iteration budget")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")
    val e = edges.select(col(srcCol).cast("long").as("src") +:
      col(dstCol).cast("long").as("dst") +:
      weightCol.map(w => col(w).cast("long").as("ew")).toSeq: _*)
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // out-degree via groupBy+join, NOT a window: the window form is one
    // fewer shuffle on paper but WindowExec sorts and buffers per src
    // group row-at-a-time outside codegen — measured 4.4× slower at
    // 1.6M vertices (25.5 s vs 5.7 s end-to-end, ProfileGraph). The
    // tiny (src, W) aggregate broadcasts/shuffles cheaply, and the
    // explicit repartition leaves the cached frame hashed by src —
    // the layout every iteration's rank join wants. The per-edge flow
    // share is an exact rational w/W (uniform: 1/deg — bit-identical
    // to the pre-weight engine since (1·rank) div deg == rank div deg).
    // "ew"/"sw", not "w"/"W": Spark resolves identifiers
    // case-insensitively, so w and W would be ambiguous in one frame
    val weighted = weightCol match {
      case Some(_) => e
      case None    => e.withColumn("ew", lit(1L))
    }
    val linked = weighted
      .join(weighted.groupBy("src").agg(sum(col("ew")).as("sw")), "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the cache BEFORE any round is planned (r20, VERDICT
    // r19 #6): a persisted-but-unmaterialized frame sits behind an
    // un-finalized adaptive plan, so InMemoryTableScan reports UNKNOWN
    // partitioning and EnsureRequirements re-exchanges this static
    // |E|-row frame on src in EVERY round of the chain. Once the cached
    // plan is final, the scan reports the hash-by-src layout the
    // repartition above built, and each round's rank join plans with NO
    // exchange on the edge side (PlanShapeSpec pins it) — one bounded
    // count job here buys iterations× fewer data-sized shuffles.
    linked.count()
    (verts, linked)
  }

  /** The power iteration: rank' = tp + damp·inflow, all integral.
    * `vertsT` = (id, tp) per-vertex teleport mass, `init` = (id,
    * rank_fp) start vector; `release` frames are unpersisted once the
    * final vector is materialized.
    */
  /** One power-iteration round's inflow sums: linked ⋈ ranks on src
    * (the static side is the cached frame `prep` left hashed by src, so
    * only the rank vector moves), exact weighted flow split
    * `(ew · rank) div sw` (bounds: rank ≤ Scale = 1e12 and the weight
    * cap is 10^6, so w·rank ≤ 1e18 < 2^63), then groupBy(dst) — the
    * round's ONE new Exchange. Extracted (r20) so PlanShapeSpec can pin
    * the co-partitioning claim on the production round plan itself.
    */
  private[graft] def roundContribs(linked: DataFrame, ranks: DataFrame,
                                   dampNum: Long, dampDen: Long): DataFrame =
    linked
      .join(ranks.withColumnRenamed("id", "src"), "src")
      .select(col("dst"), expr("(ew * rank_fp) div sw").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("contrib"))

  /** One uniform/weighted round: inflow sums merged with the |V|-row
    * teleport frame (teleport > 0 everywhere makes the full vector
    * semantically required — the LEFT join restores it each round). */
  private[graft] def pageRankRound(vertsT: DataFrame, linked: DataFrame,
                                   ranks: DataFrame, dampNum: Long,
                                   dampDen: Long): DataFrame =
    vertsT
      .join(roundContribs(linked, ranks, dampNum, dampDen)
        .withColumnRenamed("dst", "id"), Seq("id"), "left")
      .select(col("id"),
        (col("tp") +
          expr(s"($dampNum * coalesce(contrib, 0L)) div $dampDen"))
          .as("rank_fp"))

  /** One SEEDED round (r19 support-only contract): the same inflow sums
    * merged with the s-row seed-teleport frame by FULL OUTER join — the
    * rank vector stays on its support; no |V|-row frame appears
    * anywhere in the round (PlanShapeSpec pins this, VERDICT r19 #7).
    */
  private[graft] def seededRound(vertsT: DataFrame, linked: DataFrame,
                                 ranks: DataFrame, dampNum: Long,
                                 dampDen: Long): DataFrame =
    vertsT
      .join(roundContribs(linked, ranks, dampNum, dampDen)
        .withColumnRenamed("dst", "id"), Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(col("tp"), lit(0L)) +
          expr(s"($dampNum * coalesce(contrib, 0L)) div $dampDen"))
          .as("rank_fp"))

  private def iterate(vertsT: DataFrame, linked: DataFrame, init: DataFrame,
                      iterations: Int, dampNum: Long, dampDen: Long,
                      release: Seq[DataFrame]): DataFrame = {
    var ranks = init
    for (_ <- 1 to iterations) {
      ranks = pageRankRound(vertsT, linked, ranks, dampNum, dampDen)
    }
    // rounds form a pure lazy CHAIN — each ranks frame feeds exactly one
    // consumer (the next round), so nothing needs caching and plan size
    // grows LINEARLY with the (≤64) budget, unlike the branch-doubling
    // Components/labelPropagation loops. The whole iteration therefore
    // runs as ONE job (wall parity with per-round eager checkpoints at
    // 1.6M vertices — the shuffles dominate — but no per-round job
    // scheduling and no intermediate RDD storage); only the final
    // vector is materialized and lineage-cut so callers can run any
    // number of actions on it.
    val out = ranks.localCheckpoint(true)
    release.foreach(_.unpersist(false))
    out
  }
}
