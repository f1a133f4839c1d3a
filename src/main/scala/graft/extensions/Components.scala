package graft.extensions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the step that
  * turns near-dup candidate PAIRS (minhash/simhash/jaccard output) into
  * dedup CLUSTERS: transitive chains A~B~C collapse to one component,
  * and `min(id)` per component is the canonical survivor.
  *
  * Two-phase algorithm:
  *
  *  1. Min-label propagation (fused init + up to 4 rounds): each round
  *     every vertex takes the minimum label among itself and its
  *     neighbors (one shuffle join + one aggregation). Near-dup graphs
  *     are unions of small quasi-cliques — diameters of 2-4 — so this
  *     phase almost always converges in one or two rounds; it is the
  *     cheap path and it sees the FULL edge list exactly as before.
  *  2. If labels are still moving (diameter > ~5 — an adversarial
  *     graph, not a dedup graph), the edge list is CONTRACTED by the
  *     current labels (edges between label representatives, deduped —
  *     far smaller than the input) and finished with the alternating
  *     large-star/small-star scheme (Kiveris et al., "Connected
  *     Components in MapReduce and Beyond"): O(log² n) rounds on ANY
  *     graph, independent of diameter, so the default budget converges
  *     on inputs of any legal shape (ScaleStressSpec plants a
  *     1,000-hop path — phase 2 closes it in ~10 rounds where pure
  *     propagation would need 1,000).
  *
  * Per-round frames are persisted and the previous round unpersisted,
  * so lineage is read from cache, not recomputed; phase-2 rounds also
  * rebuild from their RDDs (constant-size logical plans — the star
  * steps reference their input twice, which would otherwise double the
  * plan tree every round).
  *
  * No counterpart in the reference (it dedups nothing); this is part of
  * the training-data pipeline surface.
  */
object Components {

  /** Rounds of plain propagation before contracting to phase 2. */
  private val PropagationBudget = 4

  /** @param edges  candidate pairs, undirected (each pair listed once in
    *               either direction)
    * @param maxIter phase-2 round budget (log²-scale: 20 covers any
    *               physically possible graph; the warning below fires
    *               only if it is LOWERED below what the input needs)
    * @return (id, comp) — one row per vertex that appears in `edges`,
    *         comp = min vertex id in its connected component. Vertices
    *         with no edges don't appear (a doc with no near-dup is its
    *         own singleton; callers left-join and coalesce to id).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    // symmetrize once, in ONE pass (r20): explode emits both directions
    // per input row, so the edge-derivation subtree (often an expensive
    // pair pipeline — the IVF cell join behind dedup_embed_components,
    // the LSH+jaccard chain behind dedup_components) executes ONCE; the
    // old union(edges, edges.reversed) planned the subtree twice and
    // computed it twice on the first materialization of sym (guide §2.4
    // — same rows, half the passes). NO distinct — every consumer is a
    // min aggregation, which is idempotent to duplicate edges, so
    // deduping here would buy nothing for the cost of a full shuffle of
    // the edge list.
    // Lineage policy (measured both ways, ProfilePairs r10): every
    // round references sym and phase-1 label chains embed its plan up
    // to 2^PropagationBudget times, so each round's action pays
    // analysis/canonicalization of that multiplied tree BEFORE cache
    // substitution collapses it — 66 composite-pipeline pairs
    // (analyzed plan: 303 nodes) took 31 s under lazy persist vs 1.2 s
    // as an RDD leaf. But an eager cut also discards CacheManager
    // plan-matching across separate invocations, which ran the
    // scan-rooted dedup demos 5× slower (0.57 s → 2.8 s; the band
    // pipeline's analyzed plan is 76 nodes and re-analysis is cheap) —
    // the same r8 finding that removed per-round cuts. So: cut to a
    // leaf only when the input lineage is genuinely deep; keep the
    // lazy persist otherwise.
    val raw = edges
      .select(explode(array(
          struct(col(srcCol).as("a"), col(dstCol).as("b")),
          struct(col(dstCol).as("a"), col(srcCol).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val deepLineage =
      edges.queryExecution.analyzed.collect { case p => p }.size > 128
    val sym =
      if (deepLineage) raw.localCheckpoint(true)
      else raw.persist(StorageLevel.MEMORY_AND_DISK)
    // init fused with the first propagation round: label = min of self
    // and direct neighbors. Star/clique-shaped dedup clusters converge
    // here, so the loop usually runs a single verification round.
    //
    // NO per-round lineage cut here: the tree doubles per round but the
    // budget bounds it at 2^4 copies of a tiny subtree — an eager .rdd
    // cut per round costs MORE in forced physical planning than the
    // bounded re-analysis (r8: it tripled the fast-converging dedup
    // demos). The cut that matters is at the phase-2 entry, where
    // star(star(...)) would otherwise multiply this tree ~20×.
    var labels = sym
      .groupBy(col("a").as("id"))
      .agg(min(least(col("a"), col("b"))).as("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev = labels
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < PropagationBudget) {
      // change detection fused into the propagation round: the merged
      // frame carries old + new labels, so convergence is a filter-count
      // on the SAME persisted frame — no separate old-vs-new join.
      val nbrMin = sym
        .join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("comp"))
        .groupBy("id")
        .agg(min("comp").as("nbr"))
      val merged = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("__old"),
                least(col("comp"), coalesce(col("nbr"), col("comp")))
                  .as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = merged.filter(col("comp") < col("__old")).count()
      prev.unpersist()
      prev = merged
      labels = merged.select("id", "comp")
      iter += 1
    }
    val out =
      if (changed == 0) labels
      else {
        // phase 2: contract edges to the label graph (small — one node
        // per surviving label) and close it with star alternation
        val la = labels.select(col("id").as("ea"), col("comp").as("lca"))
        val lb = labels.select(col("id").as("eb"), col("comp").as("lcb"))
        val contracted = sym
          .join(la, sym("a") === col("ea"))
          .join(lb, sym("b") === col("eb"))
          .select(least(col("lca"), col("lcb")).as("a"),
                  greatest(col("lca"), col("lcb")).as("b"))
          .filter(col("a") =!= col("b"))
          .distinct()
        val starComp = alternatingStar(contracted, maxIter)
          .withColumnRenamed("id", "sid")
        // compose: comp(u) = starComp(label(u)); labels whose
        // representative is isolated in the contracted graph already
        // name a whole component
        labels.join(starComp, col("comp") === col("sid"), "left")
          .select(col("id"),
                  coalesce(col("scomp"), col("comp")).as("comp"))
      }
    sym.unpersist()
    out
  }

  /** One star round over a canonical (a < b, distinct) edge list.
    * large: for each u, connect every LARGER neighbor to
    * m = min(N(u) ∪ {u}). small: connect every smaller-or-self vertex
    * to the min of that set. Both emit canonical pairs.
    */
  private def star(e: DataFrame, large: Boolean): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val base =
      if (large) sym
      else // N≤(u) ∪ {u}: self-rows for every vertex
        sym.filter(col("v") < col("u"))
          .union(e.select(col("a").as("u"), col("a").as("v"))
            .union(e.select(col("b").as("u"), col("b").as("v")))
            .distinct())
    val m = base.groupBy("u")
      .agg(min(least(col("u"), col("v"))).as("m"))
    val emitted = base.join(m, "u")
    val kept =
      if (large) emitted.filter(col("v") > col("u"))
      else emitted.filter(col("v") =!= col("m"))
    kept
      .select(least(col("v"), col("m")).as("a"),
              greatest(col("v"), col("m")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Order-independent fingerprint of a canonical edge SET in one
    * aggregation pass: row count plus three independent hash XORs
    * (bit_xor never overflows — ANSI-safe — and the edge list is
    * distinct, so pairwise cancellation can't hide changes that keep
    * multiset parity). Equal fingerprints between rounds declare
    * convergence — replacing the old `next.except(e).isEmpty`
    * anti-join, which re-shuffled BOTH edge frames every round and
    * dominated the per-round floor (r7 SCALECURVE 6b: ~107 s at 16k
    * vertices, almost all round latency). A false positive needs three
    * simultaneous 64-bit hash-XOR collisions on a set that also kept
    * its cardinality — ~2^-192.
    */
  private def edgeFingerprint(e: DataFrame): Seq[Long] = {
    val row = e.agg(
      count(lit(1)),
      bit_xor(xxhash64(col("a"), col("b"))),
      bit_xor(xxhash64(col("a"))),
      bit_xor(xxhash64(col("b"), col("a")))).collect().head
    (0 until 4).map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
  }

  /** Alternate large-star/small-star until the edge set is stable (a
    * disjoint union of min-centered stars), then read components off
    * the star edges. O(log² n) rounds on any graph.
    */
  private def alternatingStar(edges0: DataFrame,
                              maxRounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    // cut the INPUT lineage before the first star round: star(star(e))
    // references e ~20 times, so an uncut contraction subtree would be
    // re-analyzed 20-fold in round 1 (the dominant share of the r7
    // 107 s floor); each subsequent round re-cuts its own output
    var cached = edges0.persist(StorageLevel.MEMORY_AND_DISK)
    var eFp = edgeFingerprint(cached)
    var e = spark.createDataFrame(cached.rdd, cached.schema)
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      // localCheckpoint truncates BOTH lineages per round: the logical
      // plan (each star references its input twice — uncut, the tree
      // doubles every round) and the RDD dependency graph (uncut, the
      // DAG scheduler re-walks r rounds of stages on round r — the
      // per-round creep in the r7 curve). Blocks are MEMORY_AND_DISK
      // and released by the ContextCleaner as rounds drop references.
      val round = star(star(e, large = true), large = false)
        .localCheckpoint(true)
      val nextFp = edgeFingerprint(round)
      converged = nextFp == eFp
      e = round
      eFp = nextFp
      r += 1
    }
    if (!converged)
      // unreachable at the default budget on legal inputs (star
      // alternation is O(log² n) regardless of diameter); fires only if
      // the caller LOWERED maxIter below what the graph needs
      System.err.println(
        s"[graft.Components] star alternation did NOT stabilize after " +
          s"$maxRounds rounds — components are split; raise maxIter")
    val labels = e.select(col("b").as("id"), col("a").as("scomp"))
      .union(e.select(col("a").as("id"), col("a").as("scomp")))
      .distinct()
    cached.unpersist()
    labels
  }

  /** Dedup-cluster view over candidate pairs: every paired doc with its
    * component id and whether it is the component's survivor (the min
    * id). Downstream removal = anti-join the non-survivors.
    */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a",
                    idB: String = "id_b"): DataFrame =
    connectedComponents(pairs, idA, idB)
      .select(col("id"), col("comp"),
              (col("id") === col("comp")).as("survivor"))

  /** Orders ids the way SPARK orders them, not the way Java does:
    * Spark compares strings in binary UTF-8 collation, while
    * String.compareTo is UTF-16 code-unit order — the two disagree
    * when a supplementary-plane character (surrogate pair, UTF-16
    * units 0xD800-0xDFFF but UTF-8 bytes 0xF0-0xF4) meets a BMP char
    * in [U+E000,U+FFFF] (UTF-16 units ABOVE the surrogates, UTF-8
    * lead byte 0xEE/0xEF BELOW the pair's). The fast path advertises
    * bit-parity with the distributed min-label loop, so its min must
    * use Spark's order; non-string ids keep natural Comparable order
    * (identical to Spark's for numerics).
    */
  private def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(xb.length, yb.length)
      var i = 0
      while (i < n) {
        val c = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      xb.length < yb.length
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
  }

  /** Exact driver-side union-find over a bounded edge list (the
    * incremental merge's small-batch fast path): path-compressed
    * union, then comp = the component's minimum member under SPARK's
    * ordering ([[idLt]] — UTF-8 binary for strings, natural for the
    * rest) — the same contract as [[connectedComponents]]. One row
    * per distinct endpoint.
    */
  private def localComponents(pairs: Seq[(Any, Any)]): Seq[(Any, Any)] = {
    val parent = scala.collection.mutable.Map.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(rb) = ra
    }
    val verts = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
    val minOf = scala.collection.mutable.Map.empty[Any, Any]
    for (v <- verts) {
      val r = find(v)
      val cur = minOf.get(r)
      if (cur.isEmpty || idLt(v, cur.get)) minOf(r) = v
    }
    verts.map(v => v -> minOf(find(v)))
  }

  /** Incremental connected components — merge a NEW edge batch into a
    * SAVED labeling without re-reading the historical edge list: the
    * append-without-recompute story for the dedup-cluster index,
    * completing the set ([[graft.extensions.TextDedup]]
    * incrementalNearDups for candidate pairs, `Ivf.appendAssign` for
    * inverted lists, `Graph.pageRankResume` for rank vectors).
    *
    * EXACT, not approximate: components of (history ∪ batch) equal
    * components of the CONTRACTED graph whose vertices are the saved
    * component labels plus the batch's unseen vertices, with edges =
    * the batch edges mapped through the saved labels. Each saved
    * component is already internally connected, so history edges
    * contribute nothing beyond their labeling; and because saved
    * labels are component-min ids, the min over a merged contracted
    * component IS the global min of the merged vertex set — the
    * incremental result is bit-identical to a from-scratch run over
    * all edges (asserted in ExtensionsSpec, including a batch that
    * chains three saved components through a brand-new vertex and a
    * new global-min id).
    *
    * Scale shape: two broadcast-scale label lookups over the batch
    * edges, one components run over |batch| mapped edges (never
    * |history|), and one label-keyed join back over the saved
    * labeling. The saved (id, comp) table is the persistent index; the
    * nightly batch merges in O(|batch| + |touched components|).
    *
    * @param prevLabels saved labeling (id, comp) — the output contract
    *                   of [[connectedComponents]] / a previous
    *                   incremental merge (e.g. read from parquet)
    * @param batch      new undirected edge pairs
    * @return (id, comp) over all previously-labeled vertices plus the
    *         batch's vertices — same contract as
    *         [[connectedComponents]] on the union edge list
    */
  def incrementalComponents(prevLabels: DataFrame, batch: DataFrame,
                            srcCol: String, dstCol: String,
                            maxIter: Int = 20,
                            localCutoff: Int = 65536): DataFrame = {
    // no casts: like connectedComponents, any orderable id type works
    // (string ids label by lexicographic min) — batch endpoint types
    // must match the saved labeling's
    val prev = prevLabels.select(col("id"), col("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = batch.select(col(srcCol).as("ba"), col(dstCol).as("bb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // endpoints map to their saved label; unseen vertices label
    // themselves. Edges landing inside one saved component contract to
    // self-loops and drop out here — they cannot change the labeling.
    val mapped = e
      .join(prev.select(col("id").as("ba"), col("comp").as("ca")),
        Seq("ba"), "left")
      .join(prev.select(col("id").as("bb"), col("comp").as("cb")),
        Seq("bb"), "left")
      .select(coalesce(col("ca"), col("ba")).as("ma"),
              coalesce(col("cb"), col("bb")).as("mb"))
      .filter(col("ma") =!= col("mb"))
    // Small-batch fast path: the nightly merge's mapped edge set is
    // |batch|-bounded (never |history|), and for the common small batch
    // the distributed loop's fixed overhead — 4 propagation rounds of
    // join+agg+count jobs, plus localCheckpoint jobs per star round —
    // dwarfs the work. A bounded limit(n+1).collect probe (the same
    // driver-scalar class as Ivf's k-row builds) detects it: at or
    // under the cutoff those rows ARE the whole edge set, and a driver
    // union-find labels them exactly (comp = min member, identical
    // contract — ExtensionsSpec asserts bit-equality against the
    // distributed path); over the cutoff the probe cost is one
    // early-stopping partial pass and the distributed loop runs as
    // before — the scale path is untouched.
    val probe = mapped.limit(localCutoff + 1).collect()
    val merged =
      (if (probe.length <= localCutoff &&
           probe.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
             r.get(0).isInstanceOf[Comparable[_]] &&
             r.get(1).isInstanceOf[Comparable[_]])) {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lbl",
            mapped.schema("ma").dataType),
          org.apache.spark.sql.types.StructField("newc",
            mapped.schema("ma").dataType)))
        val rows = localComponents(probe.map(r => (r.get(0), r.get(1))))
          .map { case (id, c) => org.apache.spark.sql.Row(id, c) }
        prevLabels.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          schema)
      } else {
        connectedComponents(mapped, "ma", "mb", maxIter)
          .select(col("id").as("lbl"), col("comp").as("newc"))
      }).persist(StorageLevel.MEMORY_AND_DISK)
    // compose: a saved vertex's new component is its label's merged
    // component (or unchanged if its label was untouched); a new
    // vertex is its own label
    val oldOut = prev.join(merged, col("comp") === col("lbl"), "left")
      .select(col("id"), coalesce(col("newc"), col("comp")).as("comp"))
    val newVerts = e.select(col("ba").as("id"))
      .union(e.select(col("bb").as("id"))).distinct()
      .join(prev.select("id"), Seq("id"), "left_anti")
    val newOut = newVerts.join(merged, col("id") === col("lbl"), "left")
      .select(col("id"), coalesce(col("newc"), col("id")).as("comp"))
    val out = oldOut.unionByName(newOut).localCheckpoint(true)
    prev.unpersist(false); e.unpersist(false); merged.unpersist(false)
    out
  }
}
